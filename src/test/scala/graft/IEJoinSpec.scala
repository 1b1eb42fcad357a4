package graft

import org.apache.spark.sql.functions._
import graft.ops.IEJoin
import graft.queries.util

/** Grid-partitioned inequality join: result equality with the BNLJ form,
  * all four operators, and the no-BNLJ plan shape. */
class IEJoinSpec extends SparkSpec {

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select(col("a_key"), col("b_key")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def sides(dir: String) = {
    val a = util.t(spark, dir, "part").filter(col("p_partkey") % 97 === 0)
      .select(col("p_partkey").as("a_key"), col("p_retailprice").as("a_price"),
        col("p_size").as("a_size"))
    val b = util.t(spark, dir, "part").filter(col("p_partkey") % 89 === 0)
      .select(col("p_partkey").as("b_key"), col("p_retailprice").as("b_price"),
        col("p_size").as("b_size"))
    (a, b)
  }

  test("grid join equals the BNLJ join on real data, every operator") {
    val (a, b) = sides("/root/testdata/sf0.01")
    Seq("<", "<=", ">", ">=").foreach { op =>
      val residual = col("a_size") > col("b_size")
      val grid = IEJoin.join(a, b, col("a_price"), op, col("b_price"), residual)
      val bnlj = a.join(b,
        (op match {
          case "<"  => col("a_price") < col("b_price")
          case "<=" => col("a_price") <= col("b_price")
          case ">"  => col("a_price") > col("b_price")
          case ">=" => col("a_price") >= col("b_price")
        }) && residual)
      assert(pairs(grid) == pairs(bnlj), s"op $op differs")
    }
  }

  test("nulls on either side never match; tiny bucket counts stay correct") {
    val a = spark.sql(
      """SELECT * FROM VALUES (1L, 1.0), (2L, 5.0), (3L, cast(null as double))
        |AS t(a_key, a_x)""".stripMargin)
    val b = spark.sql(
      """SELECT * FROM VALUES (10L, 2.0), (11L, cast(null as double)), (12L, 0.5)
        |AS t(b_key, b_x)""".stripMargin)
    val got = IEJoin.join(a, b, col("a_x"), "<", col("b_x"), lit(true), buckets = 2)
      .select(col("a_key"), col("b_key")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 10L))) // 1.0 < 2.0 only; nulls drop out
  }

  test("degenerate single-value domain collapses to one cell, still correct") {
    val a = spark.range(5).select(col("id").as("a_key"), lit(1.0).as("a_x"))
    val b = spark.range(5).select(col("id").as("b_key"), lit(1.0).as("b_x"))
    assert(IEJoin.join(a, b, col("a_x"), "<", col("b_x")).count() == 0)
    assert(IEJoin.join(a, b, col("a_x"), "<=", col("b_x")).count() == 25)
  }

  test("randomized: grid equals BNLJ on skewed/duplicated/null data, all operators") {
    (1 to 2).foreach { seed =>
      // heavy duplication (modulo) + nulls + a skewed hot value
      val a = spark.range(200).selectExpr("id AS a_key",
        s"CASE WHEN id % 11 = 0 THEN CAST(NULL AS DOUBLE) " +
          s"WHEN id % 7 = 0 THEN 42.0 ELSE CAST(xxhash64(id, $seed) % 50 AS DOUBLE) END AS a_x")
      val b = spark.range(200).selectExpr("id AS b_key",
        s"CASE WHEN id % 13 = 0 THEN CAST(NULL AS DOUBLE) " +
          s"WHEN id % 5 = 0 THEN 42.0 ELSE CAST(xxhash64(id + 1000, $seed) % 50 AS DOUBLE) END AS b_x")
      Seq("<", "<=", ">", ">=").foreach { op =>
        val grid = IEJoin.join(a, b, col("a_x"), op, col("b_x"), lit(true), buckets = 5)
          .select(col("a_key"), col("b_key"))
        val pred = op match {
          case "<"  => col("a_x") < col("b_x")
          case "<=" => col("a_x") <= col("b_x")
          case ">"  => col("a_x") > col("b_x")
          case ">=" => col("a_x") >= col("b_x")
        }
        val bnlj = a.join(b, pred).select(col("a_key"), col("b_key"))
        assert(grid.exceptAll(bnlj).count() == 0 && bnlj.exceptAll(grid).count() == 0,
          s"seed=$seed op=$op differs")
      }
    }
  }

  test("joinWhere auto-routes inequality conjuncts through the grid, falls back otherwise") {
    val (a, b) = sides("/root/testdata/sf0.001")
    // upgraded: a_price < b_price is a simple cross-side inequality
    val auto = IEJoin.joinWhereAuto(a, b,
      col("a_price") < col("b_price") && col("a_size") > col("b_size"))
    val p1 = auto.queryExecution.executedPlan.toString
    assert(p1.contains("__graft_cl") && !p1.contains("BroadcastNestedLoopJoin"),
      s"inequality conjunct not grid-routed:\n$p1")
    val bnlj = a.join(b, col("a_price") < col("b_price") && col("a_size") > col("b_size"))
    assert(pairs(auto) == pairs(bnlj))
    // flipped sides normalize (b on the left of the comparison)
    val flipped = IEJoin.joinWhereAuto(a, b, col("b_price") > col("a_price"))
    assert(pairs(flipped.select(col("a_key"), col("b_key"))) ==
      pairs(a.join(b, col("a_price") < col("b_price")).select(col("a_key"), col("b_key"))))
    // no simple cross-side inequality (arithmetic operand): falls back, stays correct
    val fb = IEJoin.joinWhereAuto(a, b, col("a_price") + lit(0.0) < col("b_price"))
    assert(pairs(fb) == pairs(a.join(b, col("a_price") < col("b_price"))))
  }

  test("plan is an equi-join on the cell id — no BroadcastNestedLoopJoin") {
    val (a, b) = sides("/root/testdata/sf0.001")
    val plan = IEJoin.join(a, b, col("a_price"), "<", col("b_price"),
      col("a_size") > col("b_size")).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"BNLJ in plan:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
    assert(plan.contains("__graft_cl"), s"no cell-id join key in plan:\n$plan")
  }
}
