package graft

import org.apache.spark.sql.functions._
import graft.dsl.LazyFrame

class LazyFrameSpec extends SparkSpec {
  import spark.implicits._

  private def lf = LazyFrame(Seq(
    ("a", 1, 10.0), ("a", 2, 20.0), ("b", 3, 30.0), ("b", 4, 40.0), ("c", 5, 50.0)
  ).toDF("k", "i", "v"))

  test("select/filter/withColumns/rename compose lazily") {
    val out = lf.filter(col("i") > 1)
      .withColumns("v2" -> (col("v") * 2))
      .rename("k" -> "key")
      .selectNames("key", "v2")
    assert(out.columns == Seq("key", "v2"))
    assert(out.count() == 4)
  }

  test("groupBy.agg + sort + limit") {
    val out = lf.groupBy(col("k")).agg(sum(col("v")).as("s"))
      .sort(col("s").desc).limit(2).collect().as[(String, Double)].collect().toSeq
    assert(out == Seq(("b", 70.0), ("c", 50.0)))
  }

  test("topK plans TakeOrderedAndProject (no full sort at scale)") {
    val plan = lf.topK(2, col("v")).explainFormatted()
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("unique/uniqueKeep/vstack/intersect") {
    val dup = lf.vstack(lf)
    assert(dup.count() == 10)
    assert(dup.unique().count() == 5)
    assert(lf.uniqueKeep(Seq("k"), "first", col("i")).count() == 3)
  }

  test("withRowIndex is 0-based along the order") {
    val idx = lf.withRowIndex("idx", Seq(col("i").desc))
      .filter(col("idx") === 0).selectNames("k").collect().as[String].head()
    assert(idx == "c")
  }

  test("unpivot/pivot round-trip shape") {
    val long = lf.unpivot(Seq("k"), Seq("i", "v"), "m", "val")
    assert(long.count() == 10)
    val wide = lf.pivot(Seq("k"), "i", Seq(1, 2, 3, 4, 5), sum(col("v")))
    assert(wide.columns.toSet == Set("k", "1", "2", "3", "4", "5"))
  }

  test("slice respects offset/len along explicit order") {
    val rows = lf.slice(1, 2, Seq(col("i"))).selectNames("i")
      .collect().as[Int].collect().sorted.toSeq
    assert(rows == Seq(2, 3))
  }

  test("scan pushes filters and prunes columns to parquet") {
    val dir = java.nio.file.Files.createTempDirectory("graft").toString
    lf.sinkParquet(dir)
    val scanned = LazyFrame.scanParquet(spark, dir)
      .filter(col("i") > 3).selectNames("k")
    val plan = scanned.explainFormatted()
    assert(plan.contains("PushedFilters: [IsNotNull(i), GreaterThan(i,3)]"))
    assert(plan.contains("ReadSchema: struct<k:string,i:int>"))
  }

  test("describe() yields the per-column statistics rows") {
    val d = lf.describe().collect()
      .map(r => r.getString(0) -> r).toMap
    assert(d.keySet == Set("count", "null_count", "mean", "std", "min", "max", "median"))
    val mean = d("mean")
    val idx = lf.describe().columns.indexOf("v")
    assert(math.abs(mean.getDouble(idx) - 30.0) < 1e-9)
    assert(d("null_count").getDouble(idx) == 0.0)
    // string column k: count/null_count/min/max (its own documented
    // contract), mean/std/median null
    val kIdx = lf.describe().columns.indexOf("k")
    assert(d("mean").isNullAt(kIdx))
    assert(d("min").getString(kIdx) != null)
    assert(d("max").getString(kIdx) != null)
  }

  test("describe() survives column names containing __") {
    val odd = LazyFrame(spark.sql(
      "SELECT * FROM VALUES (1, 'x'), (2, 'y') AS t(`a__b__c`, `s__`)"))
    val d = odd.describe()
    assert(d.columns.toSeq == Seq("statistic", "a__b__c", "s__"))
    val rows = d.collect().map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("count", "null_count", "mean", "std", "min", "max", "median"))
    assert(rows("count").getDouble(1) == 2.0)
    assert(rows("min").getString(2) == "x")
    assert(rows("max").getString(2) == "y")
  }

  test("sinkMultiple shares one materialized prefix across sinks, then releases it") {
    val base = java.nio.file.Files.createTempDirectory("graft_multi").toString
    val shared = lf.withColumns("i2" -> (col("i") * 2))
    var sawCachedScan = false
    shared.sinkMultiple(Seq(
      f => {
        // each sink's plan must read the materialized prefix, not rescan
        val plan = f.filter(col("i") > 1).collect().queryExecution.executedPlan.toString
        sawCachedScan = plan.contains("InMemoryTableScan") || plan.contains("TableCacheQueryStage")
        f.filter(col("i") > 1).sinkParquet(s"$base/a")
      },
      f => f.selectNames("k", "i2").sinkParquet(s"$base/b")))
    assert(sawCachedScan, "sink plans did not read the persisted prefix")
    assert(shared.collect().storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "prefix persist leaked after sinkMultiple")
    assert(spark.read.parquet(s"$base/a").count() > 0)
    assert(spark.read.parquet(s"$base/b").columns.toSeq == Seq("k", "i2"))
  }

  test("sinkMultipleStaged: every sink scans the staged parquet, not the prefix plan") {
    val base = java.nio.file.Files.createTempDirectory("graft_staged").toString
    val shared = lf.withColumns("i2" -> (col("i") * 2))
    var scannedStage = false
    shared.sinkMultipleStaged(s"$base/stage", Seq(
      f => {
        val plan = f.filter(col("i") > 1).collect().queryExecution.executedPlan.toString
        scannedStage = plan.contains(s"$base/stage")
        f.filter(col("i") > 1).sinkParquet(s"$base/a")
      },
      f => f.selectNames("k", "i2").sinkParquet(s"$base/b")))
    assert(scannedStage, "sink plan did not read the staged files")
    assert(spark.read.parquet(s"$base/a").count() > 0)
    assert(spark.read.parquet(s"$base/b").columns.toSeq == Seq("k", "i2"))
  }

  test("frameEquals compares schema and row multisets") {
    val a = LazyFrame(spark.sql("SELECT * FROM VALUES (1, 'x'), (2, 'y') AS t(i, s)"))
    val b = LazyFrame(spark.sql("SELECT * FROM VALUES (2, 'y'), (1, 'x') AS t(i, s)"))
    val c = LazyFrame(spark.sql("SELECT * FROM VALUES (1, 'x'), (1, 'x') AS t(i, s)"))
    assert(a.frameEquals(b))        // order-free
    assert(!a.frameEquals(c))       // multiplicity matters
    val d = LazyFrame(spark.sql("SELECT * FROM VALUES (1L, 'x'), (2L, 'y') AS t(i, s)"))
    assert(!a.frameEquals(d))       // schema (int vs long) matters
  }

  test("hashRows is deterministic per seed and sensitive to it") {
    val df = spark.range(10).toDF("id")
    val a = df.select(graft.functions.hashRows(7, col("id")).as("h")).collect().map(_.getLong(0)).toSeq
    val b = df.select(graft.functions.hashRows(7, col("id")).as("h")).collect().map(_.getLong(0)).toSeq
    val c = df.select(graft.functions.hashRows(8, col("id")).as("h")).collect().map(_.getLong(0)).toSeq
    assert(a == b && a != c)
  }

  test("shrinkDtypes downcasts integers to the smallest fitting type") {
    import org.apache.spark.sql.types.{ByteType, IntegerType, ShortType, StringType}
    val df = LazyFrame(spark.sql(
      """SELECT * FROM VALUES (1L, 300L, 100000L, 'x', cast(null as bigint))
        |AS t(tiny, small, med, s, empty)""".stripMargin))
    val shrunk = df.shrinkDtypes().collect()
    val types = shrunk.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(types("tiny") == ByteType)
    assert(types("small") == ShortType)
    assert(types("med") == IntegerType)
    assert(types("s") == StringType)            // untouched
    assert(types("empty").typeName == "long")   // all-null stays as is
    assert(shrunk.head().getByte(0) == 1.toByte)
  }

  test("replaceStrict raises on unmapped values; replaceValues passes them through") {
    val df = spark.sql("SELECT * FROM VALUES ('a'), ('b'), (cast(null as string)) AS t(s)")
    val soft = df.select(graft.functions.replaceValues(col("s"), Seq("a" -> "A")).as("r"))
      .collect().map(r => Option(r.getString(0))).toSeq
    assert(soft == Seq(Some("A"), Some("b"), None))
    val strictOk = df.filter(col("s").isNotNull)
      .select(graft.functions.replaceStrict(col("s"), Seq("a" -> 1, "b" -> 2)).as("r"))
      .collect().map(_.getInt(0)).toSeq.sorted
    assert(strictOk == Seq(1, 2))
    val e = intercept[Exception] {
      df.select(graft.functions.replaceStrict(col("s"), Seq("a" -> 1)).as("r")).collect()
    }
    assert(e.getMessage.contains("unmapped value"))
    // nulls pass through strict
    val nullRow = spark.sql("SELECT cast(null as string) AS s")
      .select(graft.functions.replaceStrict(col("s"), Seq("a" -> 1)).as("r")).head()
    assert(nullRow.isNullAt(0))
  }

  test("fixedSizeArray enforces the width contract, passes nulls") {
    val ok = spark.sql(
      "SELECT * FROM VALUES (array(1,2,3)), (cast(null as array<int>)) AS t(a)")
      .select(graft.functions.fixedSizeArray(col("a"), 3).as("a")).collect()
    assert(ok.length == 2 && ok(1).isNullAt(0))
    val e = intercept[Exception] {
      spark.sql("SELECT array(1,2) AS a")
        .select(graft.functions.fixedSizeArray(col("a"), 3).as("a")).collect()
    }
    assert(e.getMessage.contains("fixed-size array[3]"))
  }

  test("sample and shuffle are deterministic per seed") {
    val s1 = lf.sample(0.6, seed = 7).collect().collect().toSeq
    val s2 = lf.sample(0.6, seed = 7).collect().collect().toSeq
    assert(s1 == s2)
    val p1 = lf.shuffle(3).collect().collect().toSeq
    val p2 = lf.shuffle(3).collect().collect().toSeq
    assert(p1 == p2)
    assert(p1.toSet == lf.collect().collect().toSet)
  }

  test("explodeMany zips positionally, pads short lists with null") {
    val df = LazyFrame(spark.sql(
      "SELECT * FROM VALUES (1, array(10, 20), array('a')) AS t(id, xs, ys)"))
    val rows = df.explodeMany(Seq("xs", "ys")).collect()
      .select("id", "xs", "ys").collect()
      .map(r => (r.getInt(0), r.get(1), r.get(2))).toSeq
    assert(rows == Seq((1, 10, "a"), (1, 20, null)))
  }

  test("update patches matched non-null values, keeps the rest") {
    val base = LazyFrame(spark.sql(
      "SELECT * FROM VALUES (1, 'a', 10), (2, 'b', 20), (3, 'c', 30) AS t(id, s, v)"))
    val patch = LazyFrame(spark.sql(
      "SELECT * FROM VALUES (2, 'B', cast(null as int)), (9, 'Z', 99) AS t(id, s, v)"))
    val out = base.update(patch, Seq("id")).collect()
      .orderBy("id").collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSeq
    // id=2: s patched, v stays (patch null is preserved-as-old); id=9 ignored (left)
    assert(out == Seq((1, "a", 10), (2, "B", 20), (3, "c", 30)))
    val inner = base.update(patch, Seq("id"), how = "inner").collect().count()
    assert(inner == 1)
  }

  test("join suffixes colliding right-side non-key columns like polars") {
    val l = LazyFrame(spark.sql("SELECT * FROM VALUES (1, 'x') AS t(id, name)"))
    val r = LazyFrame(spark.sql("SELECT * FROM VALUES (1, 'y', 9) AS t(id, name, extra)"))
    val j = l.join(r, Seq("id"))
    assert(j.collect().columns.toSeq == Seq("id", "name", "name_right", "extra"))
    val row = j.collect().head()
    assert(row.getString(1) == "x" && row.getString(2) == "y")
  }

  test("joinValidate enforces key cardinality and names the bad side") {
    val dim = LazyFrame(Seq(("a", 1), ("b", 2)).toDF("k", "v2"))
    val dupDim = LazyFrame(Seq(("a", 1), ("a", 9)).toDF("k", "v2"))
    // lf keys: a,a,b,b,c — inner join vs dim(a,b) keeps the 4 matched rows
    assert(lf.joinValidate(dim, Seq("k"), validate = "m:1").count() == 4)
    val e = intercept[IllegalArgumentException] {
      lf.joinValidate(dupDim, Seq("k"), validate = "m:1")
    }
    assert(e.getMessage.contains("right side"))
    // m:m never checks: 2 'a' rows × 2 dup dim rows
    assert(lf.joinValidate(dupDim, Seq("k"), validate = "m:m").count() == 4)
  }

  test("joinMaintainOrder restores the named side's order; unmatched rows trail") {
    val l = LazyFrame(Seq((3, "c", 30), (1, "a", 10), (2, "b", 20), (4, "d", 40))
      .toDF("k", "lv", "lpos"))
    val r = LazyFrame(Seq((2, "R2", 1), (1, "R1", 2), (9, "R9", 3))
      .toDF("k", "rv", "rpos"))
    // left order restored on a left join (unmatched left rows keep position)
    val left = l.joinMaintainOrder(r, Seq("k"), how = "left",
      maintainOrder = "left", leftOrder = Seq("lpos"))
      .collect().collect().map(_.getInt(0)).toSeq
    assert(left == Seq(1, 2, 3, 4))
    // right order restored on a right join; the left-unmatched row (k=9)
    // carries its own rpos so it lands in the right side's order
    val right = l.joinMaintainOrder(r, Seq("k"), how = "right",
      maintainOrder = "right", rightOrder = Seq("rpos"))
      .collect().collect().map(_.getInt(0)).toSeq
    assert(right == Seq(2, 1, 9))
    // full join, left_right: left block in left order first, then rows
    // that exist only on the right (null left order keys) trail
    val full = l.joinMaintainOrder(r, Seq("k"), how = "full",
      maintainOrder = "left_right",
      leftOrder = Seq("lpos"), rightOrder = Seq("rpos"))
      .collect().collect().map(_.getInt(0)).toSeq
    assert(full == Seq(1, 2, 3, 4, 9))
    intercept[IllegalArgumentException] {
      l.joinMaintainOrder(r, Seq("k"), maintainOrder = "both")
    }
    intercept[IllegalArgumentException] {
      l.joinMaintainOrder(r, Seq("k"), maintainOrder = "left") // no order cols
    }
  }

  test("profile() returns executed per-operator metrics") {
    val p = lf.groupByNames("k").agg(sum(col("v")).as("sv")).profile()
    val byNode = p.collect().map(r =>
      (r.getString(1), r.getString(2), r.getLong(3)))
    assert(byNode.exists { case (node, metric, v) =>
      node.contains("HashAggregate") && metric == "numOutputRows" && v > 0
    }, s"no aggregate output-rows metric in:\n${byNode.mkString("\n")}")
  }

  test("groupBy head/tail take the first/last n per group along the order") {
    val df = LazyFrame(spark.sql(
      "SELECT * FROM VALUES ('a',1),('a',2),('a',3),('b',9),('b',8) AS t(g, v)"))
    val h = df.groupByNames("g").head(2, col("v")).collect()
      .orderBy("g", "v").collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(h == Seq(("a", 1), ("a", 2), ("b", 8), ("b", 9)))
    val t2 = df.groupByNames("g").tail(2, col("v")).collect()
      .orderBy("g", "v").collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(t2 == Seq(("a", 2), ("a", 3), ("b", 8), ("b", 9)))
  }

  test("aggOrdered returns groups in first-appearance order") {
    val df = Seq(("z", 1), ("a", 2), ("z", 3), ("m", 4), ("a", 5)).toDF("k", "i")
    val out = LazyFrame(df).groupByNames("k")
      .aggOrdered(col("i"), sum(col("i")).as("s"))
      .collect().collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("z", 4L), ("a", 7L), ("m", 4L)))
  }

  test("unstack matches the reference's documented example (both directions)") {
    // reference py-polars/src/polars/dataframe/frame.py:9895 doctest:
    // x = A..H, y = 1..8; vertical step=4 → row i gets elements i and i+4
    val df = ('A' to 'H').zip(1 to 8).map { case (x, y) => (x.toString, y) }
      .toDF("x", "y")
    val v = LazyFrame(df).unstack(step = 4, order = Seq(col("y")))
    assert(v.columns == Seq("x_0", "x_1", "y_0", "y_1"))
    val vRows = v.collectRows().map(r =>
      (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3))).toSeq
    assert(vRows == Seq(("A", "E", 1, 5), ("B", "F", 2, 6),
      ("C", "G", 3, 7), ("D", "H", 4, 8)))
    val h = LazyFrame(df).unstack(step = 2, order = Seq(col("y")),
      how = "horizontal")
    val hRows = h.collectRows().map(r =>
      (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3))).toSeq
    assert(hRows == Seq(("A", "B", 1, 2), ("C", "D", 3, 4),
      ("E", "F", 5, 6), ("G", "H", 7, 8)))
    // empty input: an empty frame, not an NPE on the null max(__chunk)
    val empty = LazyFrame(df.filter(col("y") > 100))
      .unstack(step = 4, order = Seq(col("y")))
    assert(empty.count() == 0)
  }

  test("partitionByKeys splits into per-key frames incl. null keys") {
    val df = Seq(("a", 1), ("b", 2), ("a", 3), (null, 4)).toDF("k", "v")
    val parts = LazyFrame(df).partitionByKeys(Seq("k"))
    assert(parts.keySet == Set(Seq("a"), Seq("b"), Seq(null)))
    assert(parts(Seq("a")).count() == 2)
    assert(parts(Seq(null)).collectRows().map(_.getInt(1)).toSeq == Seq(4))
  }

  test("bit helpers: sub-64-bit width masks; known values") {
    val df = Seq(0L, 1L, 8L, -1L, 1024L).toDF("x")
    val out = df.select(
      graft.functions.bitLeadingZeros(col("x")).as("lz64"),
      graft.functions.bitTrailingZeros(col("x")).as("tz"),
      graft.functions.bitLeadingZeros(col("x"), width = 16).as("lz16"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq
    // -1L masked to 16 bits = 0xFFFF → 0 leading zeros in a 16-bit view
    assert(out == Seq((64, 64, 16), (63, 0, 15), (60, 3, 12),
      (0, 0, 0), (53, 10, 5)))
  }

  test("bit ones duals: leading/trailing ones via the complement") {
    val df = Seq(0L, 1L, -1L, -8L, 3L).toDF("x")
    val out = df.select(
      graft.functions.bitLeadingOnes(col("x")).as("lo"),
      graft.functions.bitTrailingOnes(col("x")).as("to"))
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    // -1 = all ones; -8 = ...11111000 (61 leading ones, 0 trailing);
    // 3 = ...011 (0 leading, 2 trailing)
    assert(out == Seq((0, 0), (0, 1), (64, 64), (61, 0), (0, 2)))
  }

  test("stripCharsStart/End strip exactly one side; both compose to stripChars") {
    val df = Seq("aeiXoYu", "xyz", "", "aaa").toDF("s")
    val out = df.select(
      graft.functions.stripCharsStart(col("s"), "aeiou").as("l"),
      graft.functions.stripCharsEnd(col("s"), "aeiou").as("r"),
      graft.functions.stripChars(col("s"), "aeiou").as("b"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(out == Seq(("XoYu", "aeiXoY", "XoY"),
      ("xyz", "xyz", "xyz"), ("", "", ""), ("", "", "")))
  }

  test("insertColumn/replaceColumn/mapColumns keep slots; glimpse renders") {
    val df = Seq((1, 2.0, "x"), (3, 4.0, "y")).toDF("a", "b", "c")
    val ins = LazyFrame(df).insertColumn(1, "n", col("a") * 10)
    assert(ins.columns == Seq("a", "n", "b", "c"))
    val rep = LazyFrame(df).replaceColumn("b", col("b") + 1)
    assert(rep.columns == Seq("a", "b", "c") &&
      rep.collectRows().map(_.getDouble(1)).toSeq == Seq(3.0, 5.0))
    val mapped = LazyFrame(df).mapColumns(Seq("a"), c => c * 100)
    assert(mapped.collectRows().map(_.getInt(0)).toSeq == Seq(100, 300))
    val g = LazyFrame(df).glimpse()
    assert(g.contains("Columns: 3") && g.contains("$ b <double> 2.0, 4.0"))
  }

  test("rollingMap runs an arbitrary HOF over each trailing window") {
    import org.apache.spark.sql.expressions.Window
    val df = Seq(("a", 1, 1.0), ("a", 2, 5.0), ("a", 3, 2.0), ("a", 4, 9.0))
      .toDF("k", "i", "v")
    val w = Window.partitionBy(col("k")).orderBy(col("i"))
    // rolling range (max - min) over a 3-row window: not a dedicated form
    val out = df.select(graft.functions.rollingMap(col("v"), w, 3,
      a => array_max(a) - array_min(a)).as("r"))
      .collect().map(_.getDouble(0)).toSeq
    assert(out == Seq(0.0, 4.0, 4.0, 7.0))
  }

  test("collectBatches streams bounded chunks; sinkBatches runs per partition") {
    val df = spark.range(100).toDF("i").repartition(4)
    val batches = LazyFrame(df).collectBatches(batchRows = 30).toSeq
    assert(batches.map(_.size).sum == 100 && batches.forall(_.size <= 30))
    val acc = spark.sparkContext.longAccumulator("n")
    LazyFrame(df).sinkBatches(rows => acc.add(rows.size))
    assert(acc.value == 100)
  }

  test("lowerBound/upperBound resolve the dtype extrema as literals") {
    import org.apache.spark.sql.types._
    val r = Seq(1).toDF("i").select(
      graft.functions.lowerBound(IntegerType).as("lo_i"),
      graft.functions.upperBound(LongType).as("hi_l"),
      graft.functions.upperBound(DoubleType).as("hi_d")).head()
    assert(r.getInt(0) == Int.MinValue && r.getLong(1) == Long.MaxValue &&
      r.getDouble(2).isPosInfinity)
    intercept[IllegalArgumentException] {
      graft.functions.lowerBound(StringType)
    }
  }

  test("nanMin/nanMax propagate NaN; nanSafe skip it") {
    val df = Seq(1.0, 2.0, Double.NaN).toDF("v")
    val r = df.agg(graft.functions.nanMin(col("v")).as("nmin"),
      graft.functions.nanMax(col("v")).as("nmax"),
      graft.functions.nanSafeMax(col("v")).as("smax")).head()
    assert(r.getDouble(0).isNaN && r.getDouble(1).isNaN && r.getDouble(2) == 2.0)
  }

  test("flatMapGroups emits arbitrary rows per group (group_by().apply)") {
    // per key: emit (key, running total) for each row in i-order — a shape
    // no single agg expresses (n rows out per n-row group, sequential state)
    val out = lf.groupByNames("k")
      .flatMapGroups(r => r.getString(0)) { (k: String, rows: Iterator[org.apache.spark.sql.Row]) =>
        rows.map(r => (r.getInt(1), r.getDouble(2)))
          .toSeq.sortBy(_._1)
          .scanLeft((k, 0.0)) { case ((_, acc), (_, v)) => (k, acc + v) }
          .drop(1)
      }
      .collect().sorted.toSeq
    assert(out == Seq(("a", 10.0), ("a", 30.0), ("b", 30.0), ("b", 70.0), ("c", 50.0)))
  }
}
