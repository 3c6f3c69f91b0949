package graft.sources.lake

import java.sql.Date

import scala.collection.mutable

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * The lake has one file pruner (`GraftLake.overlappingResolved`), so every
 * path that picks files by footer stats picks the same ones: a pruned
 * scan, a planned read, copy-on-write `merge` and MERGE INTO. Each case
 * drives all of them over one table and counts the files each opened or
 * rewrote.
 */
class LakePruneSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_lake_prune").toString + "/t"

  private val helper = new AdaptiveSparkPlanHelper {}

  private def scansIn(p: SparkPlan): Seq[FileSourceScanExec] =
    helper.collect(p) { case s: FileSourceScanExec => s }

  /** Files a filtered `GraftLake.read` opened: its executed scan's numFiles. */
  private def readOpened(df: DataFrame): Long = {
    df.collect()
    scansIn(df.queryExecution.executedPlan).map(_.metrics("numFiles").value).sum
  }

  /** The most files any one lake scan opened while `body` ran, over every
    * query it executed (the QueryExecutionListener sees internal jobs). */
  private def maxOpened(body: => Unit): Long = {
    val opened = mutable.ArrayBuffer.empty[Long]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        opened.synchronized {
          opened ++= scansIn(qe.executedPlan).map(_.metrics("numFiles").value); ()
        }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // listener delivery is async; settle until the capture stops growing
      var last = -1; var stable = 0
      while (stable < 3) {
        Thread.sleep(200)
        val n = opened.synchronized(opened.size)
        if (n == last) stable += 1 else { stable = 0; last = n }
      }
    } finally spark.listenerManager.unregister(listener)
    opened.synchronized(opened.maxOption.getOrElse(0L))
  }

  /** Removes of the last commit, and its op. */
  private def lastCommit(dir: String): (String, Int) = {
    val (_, op, _, _, removes) = GraftLake.history(dir).last
    (op, removes)
  }

  /** 20 rows, day d = 2020-01-01 + id, in 4 files of 5 consecutive days. */
  private def dateTable(): String = {
    val dir = tmp()
    GraftLake.create((0 until 20).map(i => (i.toLong, i.toLong * 10)).toDF("id", "v")
      .withColumn("d", date_add(lit(Date.valueOf("2020-01-01")), col("id").cast("int")))
      .repartitionByRange(4, col("id")), dir)
    assert(GraftLake.snapshot(spark, dir).files.size == 4)
    dir
  }

  test("a Date range opens 2 of 4 files through scanFiltered, a filtered " +
    "read, merge and MERGE INTO") {
    val (lo, hi) = (Date.valueOf("2020-01-05"), Date.valueOf("2020-01-10"))
    val days = (4L to 9L).toSet // ids of 01-05..01-10: files 0 and 1

    val dir = dateTable()
    val (df, scanned, total) = GraftLake.scanFiltered(spark, dir, col("d").between(lo, hi))
    assert((scanned, total) == (2, 4), s"scanFiltered opened $scanned/$total")
    assert(df.select("id").as[Long].collect().toSet == days)

    val read = GraftLake.read(spark, dir).filter(col("d").between(lo, hi))
    assert(readOpened(read) == 2L, "a filtered read opens 2 of 4 files")
    assert(read.select("id").as[Long].collect().toSet == days)

    // the source's Date key spans 01-05..01-10: copy-on-write merge
    // rewrites exactly the 2 files whose day range meets it
    def upd = Seq(4L, 9L).map(i => (i, -1L)).toDF("id", "v")
      .withColumn("d", date_add(lit(Date.valueOf("2020-01-01")), col("id").cast("int")))
    GraftLake.merge(spark, dir, upd, "d")
    assert(lastCommit(dir) == ("merge", 2), s"merge rewrote ${lastCommit(dir)}")
    assert(GraftLake.read(spark, dir).filter(col("v") === -1L)
      .select("id").as[Long].collect().toSet == Set(4L, 9L))
    assert(GraftLake.read(spark, dir).count() == 20L)

    // MERGE INTO on the same key: its candidate scan opens the same 2 files
    val dir2 = dateTable()
    val opened = maxOpened {
      GraftLake.mergeInto(spark, dir2, upd, col("t.d") === col("s.d"),
        Seq(GraftLake.MatchedUpdate(None, Seq("v" -> col("s.v")))), Nil)
    }
    assert(opened == 2L, s"MERGE INTO opened $opened of 4 files")
    assert(lastCommit(dir2) == ("merge-into", 2))
    assert(GraftLake.read(spark, dir2).filter(col("v") === -1L)
      .select("id").as[Long].collect().toSet == Set(4L, 9L))
  }

  test("a file whose key is all NULL is skipped by comparisons: scanFiltered, " +
    "a filtered read and merge") {
    val dir = tmp()
    GraftLake.create((0 until 10).map(i => (i.toLong, i.toLong)).toDF("k", "v"), dir,
      numFiles = 1)
    GraftLake.append((10 until 20).map(i => (i.toLong, i.toLong)).toDF("id", "v")
      .select(lit(null).cast("long").as("k"), col("v")), dir, numFiles = 1)
    val nullFile = GraftLake.snapshot(spark, dir).files
      .find(_.stats.values.exists(st => st.min.isEmpty))
    assert(nullFile.exists(f => f.stats.values.exists(_.nullCount == f.rows)),
      "the appended file's k stats prove it all NULL")

    val (df, scanned, total) = GraftLake.scanFiltered(spark, dir, col("k") > 2L)
    assert((scanned, total) == (1, 2), s"scanFiltered opened $scanned/$total")
    assert(df.count() == 7L)
    val (_, sIn, _) = GraftLake.scanFiltered(spark, dir, col("k").isin(3L, 4L))
    assert(sIn == 1, s"IN opened $sIn/2")

    val read = GraftLake.read(spark, dir).filter(col("k") > 2L)
    assert(readOpened(read) == 1L, "a filtered read skips the all-NULL file")
    assert(read.count() == 7L)

    // IS NULL still opens it: only comparisons and IN skip
    val (dfNull, sNull, _) = GraftLake.scanFiltered(spark, dir, col("k").isNull)
    assert(sNull == 1 && dfNull.count() == 10L)

    GraftLake.merge(spark, dir, Seq((3L, -1L)).toDF("k", "v"), "k")
    assert(lastCommit(dir) == ("merge", 1), "merge leaves the all-NULL file alone")
    assert(GraftLake.read(spark, dir).count() == 20L)
  }

  test("a BINARY constant prunes nothing: its bytes have no rendering in " +
    "the footer's string bounds") {
    val dir = tmp()
    GraftLake.create(spark.range(0, 20).select(col("id"),
      col("id").cast("string").cast("binary").as("b")), dir, numFiles = 2)
    val five = lit("5".getBytes("UTF-8"))
    val (df, scanned, total) = GraftLake.scanFiltered(spark, dir, col("b") === five)
    assert((scanned, total) == (2, 2), s"scanFiltered opened $scanned/$total")
    assert(df.select("id").as[Long].collect().toSeq == Seq(5L))
    assert(GraftLake.read(spark, dir).filter(col("b") === five)
      .select("id").as[Long].collect().toSeq == Seq(5L))
  }
}
