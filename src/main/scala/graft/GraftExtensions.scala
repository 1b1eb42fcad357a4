package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Session-extension entry point. Every session [[GraftSession]] builds
  * loads it; elsewhere activate it with
  * `--conf spark.sql.extensions=graft.GraftExtensions` (or the builder
  * equivalent), the deployment mode a shared 1000-executor cluster uses,
  * where per-notebook `register()` calls don't scale. It installs:
  *  - graft's native functions, callable from SQL;
  *  - [[graft.plans.BroadcastBySize]], the pre-CBO optimizer rule that
  *    broadcasts a join side small next to the other, for every join the
  *    optimizer sees (DataFrame, SQL and LazyFrame);
  *  - [[graft.plans.CostlyOncePerRow]], the pre-CBO optimizer rule that
  *    computes a [[graft.functions.Costly]] kernel a projection uses more
  *    than once in a child projection, so it runs once per row;
  *  - [[graft.plans.GlobalSortInput]], the query-stage preparation rule
  *    that decides a global sort's input: a sort whose input runs as one
  *    task sorts inside that task (no sampling job, no range shuffle);
  *    otherwise a range exchange over a costly kernel samples a materialized
  *    stage instead of re-running the kernel. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    (graft.functions.GraftFunctions.all ++ graft.functions.PolarsSqlShims.all)
      .foreach(ext.injectFunction)
    ext.injectPreCBORule(_ => graft.plans.BroadcastBySize)
    ext.injectPreCBORule(_ => graft.plans.CostlyOncePerRow)
    ext.injectQueryStagePrepRule(graft.plans.GlobalSortInput(_))
  }
}
