package graft.sources

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.sources.lake.GraftLake
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

class LakeFileIndexSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_lakeidx").toString

  private def scanOf(df: DataFrame): FileSourceScanExec =
    df.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case s: FileSourceScanExec => s }
      .getOrElse(fail("no FileSourceScan in plan"))

  /** Every FileSourceScan of `df`'s physical plan, inside adaptive plans too. */
  private def scansIn(df: DataFrame): Seq[FileSourceScanExec] =
    new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }

  test("planner-integrated pruning: a plain filter opens only overlapping files") {
    val dir = tmp()
    GraftLake.create(
      (0 until 1000).map(i => (i.toLong, s"t$i", i.toLong * 2)).toDF("id", "tag", "v")
        .repartitionByRange(8, col("id")), dir)

    val filtered = GraftLake.read(spark, dir)
      .filter(col("id") >= 100L && col("id") <= 149L)
    // execute THIS plan, then read ITS scan metric (a derived .select
    // would plan and meter a fresh query execution)
    assert(filtered.collect().map(_.getLong(0)).toSet ==
      (100L to 149L).toSet, "pruning is planning acceleration, rows stay exact")
    val nFiles = scanOf(filtered).metrics("numFiles").value
    assert(nFiles >= 1 && nFiles < 8,
      s"planner must open a strict subset of the 8 files, opened $nFiles")

    // no filter → the whole snapshot
    val all = GraftLake.read(spark, dir)
    assert(all.collect().length == 1000)
    assert(scanOf(all).metrics("numFiles").value == 8)

    // the filter ALSO reaches the parquet reader as a pushed row-group
    // predicate (two-level skipping: files here, row groups there)
    assert(scanOf(filtered).metadata("PushedFilters").contains("GreaterThanOrEqual"))
  }

  test("readPruned honors time travel and schema evolution") {
    val dir = tmp()
    GraftLake.create(
      (0 until 100).map(i => (i.toLong, i.toLong)).toDF("id", "v"), dir, numFiles = 2)
    GraftLake.delete(spark, dir, col("id") < 50L)
    GraftLake.append(
      (100 until 110).map(i => (i.toLong, i.toLong, "en")).toDF("id", "v", "lang"),
      dir, numFiles = 1)

    assert(GraftLake.read(spark, dir, asOf = Some(0L)).count() == 100)
    val now = GraftLake.read(spark, dir)
    assert(now.count() == 60)
    assert(now.columns.toSeq == Seq("id", "v", "lang"))
    assert(now.filter(col("lang").isNull).count() == 50, "old files null-fill")

    // snapshot isolation: an index built BEFORE a delete keeps reading it
    val pinned = GraftLake.read(spark, dir)
    GraftLake.delete(spark, dir, col("id") >= 100L)
    assert(pinned.count() == 60, "pinned index unaffected by later commits")
    assert(GraftLake.read(spark, dir).count() == 50)
  }

  test("a 40-file read plans from the log: no file-listing job") {
    val dir = tmp()
    GraftLake.create(spark.range(0, 4000).select(col("id"), (col("id") * 3).as("v"))
      .repartitionByRange(40, col("id")), dir)
    assert(GraftLake.snapshot(spark, dir).files.size == 40)
    // above spark.sql.sources.parallelPartitionDiscovery.threshold (32
    // paths) a directory-listing file index runs its listing as a job
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(String.valueOf(Option(e.properties)
          .map(_.getProperty("spark.job.description")).orNull))
    }
    sc.addSparkListener(listener)
    val n = try {
      val n = GraftLake.read(spark, dir).count()
      // listener events arrive in order: once the marker job is seen,
      // every job the read started has been seen too
      sc.setJobDescription("lake-idx-marker")
      try sc.parallelize(1 to 1, 1).count() finally sc.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 10000
      while (!jobs.contains("lake-idx-marker") && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      n
    } finally sc.removeSparkListener(listener)
    assert(n == 4000L)
    assert(jobs.contains("lake-idx-marker"), s"jobs seen: ${jobs.asScala.mkString(", ")}")
    val listing = jobs.asScala.filter(_.startsWith("Listing leaf files")).toSeq
    assert(listing.isEmpty, s"lake read listed files in a job: ${listing.mkString(", ")}")
  }

  test("GraftLake.read(...).count() scans; a bare format(\"graft-lake\") count folds to the log") {
    val dir = tmp()
    GraftLake.create(
      (0 until 1000).map(i => (i.toLong, i.toLong * 2)).toDF("id", "v"), dir, numFiles = 4)
    val scanned = GraftLake.read(spark, dir).groupBy().count()
    assert(scansIn(scanned).nonEmpty, "GraftLake.read's count must scan the files")
    val folded = spark.read.format("graft-lake").load(dir).groupBy().count()
    assert(scansIn(folded).isEmpty, "a bare lake relation's count(*) folds to the log")
    assert(scanned.head().getLong(0) == 1000L && folded.head().getLong(0) == 1000L)
  }
}
