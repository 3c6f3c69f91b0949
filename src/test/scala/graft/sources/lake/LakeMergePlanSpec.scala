package graft.sources.lake

import scala.collection.mutable

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * Plan audit for [[GraftLake.mergeInto]] and [[GraftLake.mergeIntoMoR]]
 * (one shared planner) at the physical level, captured through a
 * QueryExecutionListener across the merge's internal jobs:
 *
 *  - an equi-keyed merge must never plan a cartesian/nested-loop join
 *    (the rewrite is a sort-merge FULL OUTER on the key — full outer
 *    cannot broadcast, and anything else would be quadratic at victim
 *    scale);
 *  - a distinct-key source must ELIDE the ambiguity window entirely
 *    (no WindowExec in any of the merge's jobs — it would shuffle
 *    victims × source a second time);
 *  - a duplicate-key source keeps the window (that is the guard path).
 */
class LakeMergePlanSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_lake_mplan").toString + "/t"

  /** Both MERGE INTO operators, with the op each records in the log. */
  private val merges: Seq[(String, (String, DataFrame, Column,
      Seq[GraftLake.MatchedClause], Seq[GraftLake.NotMatchedInsert]) => Long)] = Seq(
    "merge-into" -> ((dir, src, on, m, nm) => GraftLake.mergeInto(spark, dir, src, on, m, nm)),
    "merge-mor" -> ((dir, src, on, m, nm) => GraftLake.mergeIntoMoR(spark, dir, src, on, m, nm)))

  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val self = p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case other => Seq(other)
    }
    self ++ p.children.flatMap(flatten) ++
      p.subqueries.flatMap(flatten)
  }

  private def capture(body: => Unit): Seq[SparkPlan] = {
    val plans = mutable.ArrayBuffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan; () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // listener delivery is async; settle until the capture stops growing
      var last = -1; var stable = 0
      while (stable < 3) {
        Thread.sleep(200)
        val n = plans.synchronized(plans.size)
        if (n == last) stable += 1 else { stable = 0; last = n }
      }
    } finally spark.listenerManager.unregister(listener)
    plans.toSeq.flatMap(flatten)
  }

  test("equi merge with a distinct-key source: sort-merge full outer, " +
    "no cartesian, no ambiguity window") {
    merges.foreach { case (op, mergeOp) =>
      val dir = tmp()
      GraftLake.create(
        spark.range(0, 20000).select(col("id"), (col("id") * 2).as("v"))
          .repartitionByRange(8, col("id")), dir)
      val src = spark.range(5000, 5400)
        .select(col("id"), (col("id") * 7).as("sv"))
      val nodes = capture {
        mergeOp(dir, src, col("t.id") === col("s.id"),
          Seq(GraftLake.MatchedUpdate(None, Seq("v" -> col("s.sv")))),
          Seq(GraftLake.NotMatchedInsert(None,
            Seq("id" -> col("s.id"), "v" -> col("s.sv")))))
      }
      assert(nodes.nonEmpty, s"$op: listener captured the merge's jobs")
      assert(!nodes.exists(_.isInstanceOf[CartesianProductExec]) &&
        !nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
        s"$op: equi merge must never plan a quadratic join")
      assert(nodes.exists {
        case j: SortMergeJoinExec => j.joinType.sql == "FULL OUTER"
        case _ => false
      }, s"$op: the rewrite is a sort-merge FULL OUTER on the key")
      assert(!nodes.exists(_.isInstanceOf[WindowExec]),
        s"$op: distinct-key source must elide the ambiguity window")
      // value sanity: the merge really happened
      assert(GraftLake.read(spark, dir).filter(col("id") === 5100L)
        .select("v").head().getLong(0) == 5100L * 7)
      assert(GraftLake.history(dir).map(_._2) == Seq("create", op))
    }
  }

  test("a non-distinct-key source keeps the windowed guard in the plan " +
    "(benign duplicates: no target row matched twice, merge succeeds)") {
    merges.foreach { case (op, mergeOp) =>
      val dir = tmp()
      GraftLake.create(
        spark.range(0, 1000).select(col("id"), (col("id") * 2).as("v")), dir)
      // duplicate key 5000 matches NO target row, so the guard does not
      // trip — but rows != distinct keys, so the window must be planned
      val dup = Seq((5L, 777L), (5000L, 1L), (5000L, 2L)).toDF("id", "sv")
      val update = Seq(GraftLake.MatchedUpdate(None, Seq("v" -> col("s.sv"))))
      val nodes = capture {
        mergeOp(dir, dup, col("t.id") === col("s.id"), update, Nil)
      }
      assert(nodes.exists(_.isInstanceOf[WindowExec]),
        s"$op: non-distinct source keys must keep the ambiguity window")
      assert(GraftLake.read(spark, dir).filter(col("id") === 5L)
        .select("v").head().getLong(0) == 777L)
      // and the genuinely ambiguous case still rejects without committing
      val bad = Seq((7L, 1L), (7L, 2L)).toDF("id", "sv")
      intercept[Exception] {
        mergeOp(dir, bad, col("t.id") === col("s.id"), update, Nil)
      }
      assert(GraftLake.history(dir).map(_._2) == Seq("create", op))
    }
  }
}
