package graft.spark

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class RangeJoinRuleSpec extends SparkSpec {
  import spark.implicits._

  private def withChunk[T](width: Long)(f: => T): T = {
    spark.conf.set(RangeJoinChunkRule.ConfKey, width.toString)
    try f finally spark.conf.unset(RangeJoinChunkRule.ConfKey)
  }

  private val points = (0L until 1000L).map(t => (t, t % 7)).toDF("t", "pv")
  private val ivals = Seq(
    (100L, 250L, "a"), (240L, 260L, "b"), (990L, 2000L, "c"),
    (500L, 400L, "bad"), // inverted: must match nothing, not crash
    (0L, 0L, "pt")).toDF("lo", "hi", "tag")

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("BETWEEN join rewrites to an equi-join on chunks; results unchanged") {
    val cond = col("t") >= col("lo") && col("t") <= col("hi")
    val naive = points.join(ivals, cond).select("t", "pv", "tag")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(planOf(points.join(ivals, cond)).contains("NestedLoop"))
    withChunk(100L) {
      val opt = points.join(ivals, cond).select("t", "pv", "tag")
      val p = planOf(opt)
      assert(p.contains("__graft_chunk"), p)
      assert(!p.contains("NestedLoop"), p)
      val got = opt.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(got == naive && got.nonEmpty)
      // inverted interval contributed nothing and single-point ones did
      assert(!got.exists(_._3 == "bad") && got.exists(_._3 == "pt"))
    }
  }

  test("strict bounds and point-on-right both rewrite exactly") {
    val cond = col("lo") < col("t") && col("t") < col("hi")
    val naive = ivals.join(points, cond).select("tag", "t")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    withChunk(64L) {
      val opt = ivals.join(points, cond).select("tag", "t")
      assert(planOf(opt).contains("__graft_chunk"))
      assert(!planOf(opt).contains("NestedLoop"))
      assert(opt.collect().map(r => (r.getString(0), r.getLong(1))).toSet == naive)
      // strictness respected: boundary points excluded
      assert(!naive.contains(("a", 100L)) && naive.contains(("a", 101L)))
    }
  }

  test("residual predicates survive the rewrite") {
    val cond = col("t") >= col("lo") && col("t") <= col("hi") && col("pv") > 3
    val naive = points.join(ivals, cond).count()
    withChunk(50L) {
      val opt = points.join(ivals, cond)
      assert(planOf(opt).contains("__graft_chunk"))
      assert(opt.count() == naive && naive > 0)
    }
  }

  test("joins with a cross-side equality are left alone") {
    val keyedIvals = ivals.withColumn("pv", col("lo") % 7)
    val cond = col("t") >= col("lo") && col("t") <= col("hi") &&
      points("pv") === keyedIvals("pv")
    withChunk(100L) {
      assert(!planOf(points.join(keyedIvals, cond)).contains("__graft_chunk"))
    }
  }

  test("rule is inert when the conf is unset") {
    val cond = col("t") >= col("lo") && col("t") <= col("hi")
    assert(!planOf(points.join(ivals, cond)).contains("__graft_chunk"))
  }

  test("SQL-surface joins are rewritten too (rule sees plain SQL plans)") {
    points.createOrReplaceTempView("rr_points")
    ivals.createOrReplaceTempView("rr_ivals")
    val q = "SELECT t, tag FROM rr_points JOIN rr_ivals ON t BETWEEN lo AND hi"
    val naive = spark.sql(q).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    withChunk(128L) {
      val opt = spark.sql(q)
      assert(planOf(opt).contains("__graft_chunk"))
      assert(opt.collect().map(r => (r.getLong(0), r.getString(1))).toSet == naive)
    }
  }
}
