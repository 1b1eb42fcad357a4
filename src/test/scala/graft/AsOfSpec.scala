package graft

import org.apache.spark.sql.functions._
import graft.ops.AsOf

class AsOfSpec extends SparkSpec {
  import spark.implicits._

  private def left = Seq(
    ("a", 1L, "l1"), ("a", 5L, "l2"), ("a", 10L, "l3"),
    ("b", 3L, "l4"), ("c", 2L, "l5")
  ).toDF("g", "k", "lv")

  private def right = Seq(
    ("a", 1L, "r1"), ("a", 4L, "r2"), ("a", 7L, "r3"),
    ("b", 9L, "r4")
  ).toDF("g", "k", "rv")

  private def run(strategy: String, tol: Option[Double] = None) =
    AsOf.join(left, right.withColumnRenamed("k", "rk"), "k", "rk",
      Seq("g"), strategy, tol.map(lit(_)))
      .select("g", "k", "rv").as[(String, Long, Option[String])]
      .collect().sortBy(r => (r._1, r._2)).toSeq

  test("backward matches latest right key <= left key, inclusive") {
    assert(run("backward") == Seq(
      ("a", 1L, Some("r1")), ("a", 5L, Some("r2")), ("a", 10L, Some("r3")),
      ("b", 3L, None), ("c", 2L, None)))
  }

  test("forward matches earliest right key >= left key") {
    assert(run("forward") == Seq(
      ("a", 1L, Some("r1")), ("a", 5L, Some("r3")), ("a", 10L, None),
      ("b", 3L, Some("r4")), ("c", 2L, None)))
  }

  test("nearest picks closer side, tie prefers backward") {
    // a/5: backward r2 at 4 (d=1), forward r3 at 7 (d=2) -> r2
    // a/10: only backward r3 -> r3; b/3: only forward r4 -> r4
    assert(run("nearest") == Seq(
      ("a", 1L, Some("r1")), ("a", 5L, Some("r2")), ("a", 10L, Some("r3")),
      ("b", 3L, Some("r4")), ("c", 2L, None)))
  }

  test("tolerance nulls matches farther than tol, keeps rows") {
    assert(run("backward", Some(1.0)) == Seq(
      ("a", 1L, Some("r1")), ("a", 5L, Some("r2")), ("a", 10L, None),
      ("b", 3L, None), ("c", 2L, None)))
  }

  test("nearest with tolerance: an out-of-tol side can't win by being the only one") {
    // a/5: backward r2 at 4 (d=1, within tol=1), forward r3 at 7 (d=2, OUT)
    //   -> r2; a/10: only backward r3 at 7 (d=3, OUT) -> None;
    // b/3: only forward r4 at 9 (d=6, OUT) -> None
    assert(run("nearest", Some(1.0)) == Seq(
      ("a", 1L, Some("r1")), ("a", 5L, Some("r2")), ("a", 10L, None),
      ("b", 3L, None), ("c", 2L, None)))
  }

  test("null left keys never match (backward, forward, nearest)") {
    // polars join_asof skips missing keys; the forward sort is
    // desc_nulls_last, so without the isNotNull gate the null-key row
    // would be handed the minimum right key
    val l = Seq(("a", Some(5L), "l1"), ("a", None: Option[Long], "ln"))
      .toDF("g", "k", "lv")
    for (strategy <- Seq("backward", "forward", "nearest");
         tol <- Seq(None, Some(100.0))) {
      val got = AsOf.join(l, right.withColumnRenamed("k", "rk"), "k", "rk",
          Seq("g"), strategy, tol.map(lit(_)))
        .select("lv", "rv").as[(String, Option[String])]
        .collect().toMap
      assert(got("ln").isEmpty, s"strategy=$strategy tol=$tol matched a null key")
      assert(got("l1").nonEmpty, s"strategy=$strategy tol=$tol lost the non-null match")
    }
  }

  test("keyless as-of distributes: range partitions + per-partition window") {
    // by = Nil over a frame that spans many partitions: the r3 code used
    // Window.partitionBy() — everything on one task. Now the union must
    // range-repartition on the key and window per partition id.
    val n = 10000
    val l = spark.range(n).select((col("id") * 2).as("k"), col("id").as("lv"))
      .repartition(8)
    val r = spark.range(n / 2).select((col("id") * 7 + 1).as("rk"), col("id").as("rv"))
      .repartition(8)
    val out = AsOf.join(l, r, "k", "rk", Nil, "backward", None)

    val plan = out.queryExecution.executedPlan.toString
    // r15: the range exchange is pinned behind a lazy localCheckpoint (the
    // per-pid carry and the local window must read the SAME partition ids —
    // RangePartitioner's seed is rdd.id-derived, so two evaluations can
    // draw different boundaries). The checkpoint truncates the visible
    // plan to a Scan ExistingRDD; the per-partition window over __pid and
    // the multi-partition output below are the distribution evidence.
    assert(plan.contains("Scan ExistingRDD"),
      s"expected the pinned (checkpointed) range partitioning in:\n$plan")
    assert(plan.contains("windowspecdefinition(__pid"),
      s"data window not partitioned by range-partition id:\n$plan")

    // boundary fixup correctness: every left row's match equals the true
    // floor((k-1)/7)-style backward neighbor computed independently
    val got = out.select(col("k"), col("rk")).as[(Long, Option[Long])]
      .collect().toMap
    assert(got.size == n)
    for (k <- Seq(0L, 2L, 700L, 9998L, 2 * (n - 1))) {
      val expect = if (k < 1) None else Some((k - 1) / 7 * 7 + 1)
      assert(got(k) == expect, s"k=$k got ${got(k)} want $expect")
    }
    // exhaustive check over the whole frame
    got.foreach { case (k, m) =>
      val expect = if (k < 1) None else Some((k - 1) / 7 * 7 + 1)
      assert(m == expect, s"k=$k got $m want $expect")
    }
  }

  test("keyless forward as-of distributes and matches the oracle") {
    val l = spark.range(5000).select((col("id") * 3).as("k"), col("id").as("lv"))
      .repartition(6)
    val r = spark.range(2000).select((col("id") * 7).as("rk"), col("id").as("rv"))
      .repartition(6)
    val out = AsOf.join(l, r, "k", "rk", Nil, "forward", None)
    // range exchange pinned behind the lazy localCheckpoint (see the
    // backward test above); the __pid window is the distribution evidence
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("windowspecdefinition(__pid"), s"no __pid window:\n$plan")
    val got = out.select(col("k"), col("rk")).as[(Long, Option[Long])].collect()
    assert(got.length == 5000)
    val maxR = 1999L * 7
    got.foreach { case (k, m) =>
      val expect = if (k > maxR) None else Some((k + 6) / 7 * 7)
      assert(m == expect, s"k=$k got $m want $expect")
    }
  }

  test("joinSliced (one-scan tagged union) equals join over filtered frames") {
    for (seed <- 0 until 4) {
      val rnd = new scala.util.Random(seed ^ 0x51ce)
      // one source frame whose rows split into left/right/neither slices,
      // with null groups, null keys on both sides, and duplicate right keys
      val rows = (0 until 400).map { i =>
        val kind = rnd.nextInt(5) match {
          case 0 | 1 => "click"
          case 2 | 3 => "error"
          case _     => "other"
        }
        val g: java.lang.Long = if (rnd.nextInt(8) == 0) null else rnd.nextInt(4).toLong
        val k: java.lang.Long = if (rnd.nextInt(12) == 0) null else rnd.nextInt(60).toLong
        (i.toLong, kind, g, k, rnd.nextInt(100))
      }
      val src = rows.toDF("id", "kind", "g", "k", "v").repartition(5)
      val lSel = Seq("id" -> col("id"), "g" -> col("g"),
        "k" -> col("k"), "v" -> col("v"))
      val rSel = Seq("g" -> col("g"), "rk" -> col("k"),
        "rv" -> (col("v") * 10))
      for (strategy <- Seq("backward", "forward", "nearest");
           tol <- Seq(None, Some(lit(5.0)))) {
        def canon(df: org.apache.spark.sql.DataFrame) =
          df.select("id", "g", "k", "v", "rk", "rv").collect()
            .map(r => (0 until 6).map(i =>
              if (r.isNullAt(i)) null else r.get(i)).toList)
            .groupBy(identity).view.mapValues(_.size).toMap
        val sliced = canon(AsOf.joinSliced(src,
          col("kind") === "click", lSel, col("kind") === "error", rSel,
          "k", "rk", Seq("g"), strategy, tol))
        val twoFrame = canon(AsOf.join(
          src.filter(col("kind") === "click")
            .select(lSel.map { case (n, c) => c.as(n) }: _*),
          src.filter(col("kind") === "error")
            .select(rSel.map { case (n, c) => c.as(n) }: _*),
          "k", "rk", Seq("g"), strategy, tol))
        assert(sliced == twoFrame, s"seed=$seed strategy=$strategy tol=$tol")
      }
    }
  }

  test("joinSliced: a row matching both predicates is a left row only") {
    // row 3 satisfies leftWhen (k >= 8) AND rightWhen (kind = error): the
    // one-scan union keeps it once, on the left, so no left row can match
    // it. The two-frame join puts it on both sides and both left rows
    // match it instead of row 2.
    val src = Seq((1L, "click", 0L, 10L, 1), (2L, "error", 0L, 4L, 2),
      (3L, "error", 0L, 8L, 3)).toDF("id", "kind", "g", "k", "v")
    val lSel = Seq("id" -> col("id"), "g" -> col("g"), "k" -> col("k"))
    val rSel = Seq("g" -> col("g"), "rk" -> col("k"), "rv" -> col("v"))
    val (leftWhen, rightWhen) = (col("k") >= 8L, col("kind") === "error")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "rk").as[(Long, Long)].collect().toSeq.sorted
    val sliced = pairs(AsOf.joinSliced(src, leftWhen, lSel, rightWhen, rSel,
      "k", "rk", Seq("g"), "backward", None))
    assert(sliced == Seq((1L, 4L), (3L, 4L)))
    val twoFrame = pairs(AsOf.join(
      src.filter(leftWhen).select(lSel.map { case (n, c) => c.as(n) }: _*),
      src.filter(rightWhen).select(rSel.map { case (n, c) => c.as(n) }: _*),
      "k", "rk", Seq("g"), "backward", None))
    assert(twoFrame == Seq((1L, 8L), (3L, 8L)))
  }

  test("duplicate right keys carry a deterministic value (r14 tie-break contract)") {
    // three right rows share (g, rk) and differ only in payload: the
    // contract pins the carried value to the GREATEST payload (backward) /
    // LEAST (forward), stable across partition layouts and repeated runs
    val dupR = Seq(
      ("a", 4L, "rA"), ("a", 4L, "rC"), ("a", 4L, "rB"),
      ("a", 8L, "rX")
    ).toDF("g", "rk", "rv")
    for (parts <- Seq(1, 3, 7); pass <- 0 until 3) {
      val r = dupR.repartition(parts)
      val back = AsOf.join(left, r, "k", "rk", Seq("g"), "backward", None)
        .filter(col("k") === 5L).select("rv").as[String].head()
      assert(back == "rC", s"backward parts=$parts pass=$pass")
      val fwd = AsOf.join(left, r, "k", "rk", Seq("g"), "forward", None)
        .filter(col("k") === 1L).select("rv").as[String].head()
      assert(fwd == "rA", s"forward parts=$parts pass=$pass")
    }
  }

  test("tie-break contract holds on the keyless path too") {
    // r15 (r14 advice): the keyless boundary carry implements the same
    // contract through min_by/max_by-over-struct — a separate mechanism
    // from the keyed window's ordered last() — so it needs its own
    // duplicate-right-key pins, across the same partition-count sweep.
    val dupR = Seq(
      ("a", 4L, "rA"), ("a", 4L, "rC"), ("a", 4L, "rB"),
      ("a", 8L, "rX")
    ).toDF("g", "rk", "rv")
    for (parts <- Seq(1, 3, 7); pass <- 0 until 3) {
      val r = dupR.repartition(parts)
      // keyless (by = Nil; right's g renamed — it becomes a payload column,
      // and being constant it defers the tie to rv, same expected picks)
      val rK = r.withColumnRenamed("g", "rg")
      val backK = AsOf.join(left, rK, "k", "rk", Nil, "backward", None)
        .filter(col("k") === 5L).select("rv").as[String].head()
      assert(backK == "rC", s"keyless backward parts=$parts pass=$pass")
      val fwdK = AsOf.join(left, rK, "k", "rk", Nil, "forward", None)
        .filter(col("k") === 1L).select("rv").as[String].head()
      assert(fwdK == "rA", s"keyless forward parts=$parts pass=$pass")
    }
  }

  test("matched right key is surfaced under rightOn name") {
    val out = AsOf.join(left, right.withColumnRenamed("k", "rk"), "k", "rk",
      Seq("g"), "backward", None)
    assert(out.columns.contains("rk"))
    val m = out.filter(col("k") === 10L).select("rk").as[Option[Long]].head()
    assert(m.contains(7L))
  }
}
