package graft.apps

import java.nio.file.Files

import graft.sources.lake.GraftLake
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * MERGE INTO throughput at table scale: build an n-row lake table
 * (range-clustered, ~32 files), then measure one [[GraftLake.mergeInto]]
 * applying a `frac` slice of updates plus `frac/2` inserts by key — the
 * daily "apply the changefeed" operation of a corpus/warehouse table.
 * Reports the merge wall time, rows/s of TABLE processed, and how many
 * files the stats prune + touched-file semi-join actually rewrote (the
 * update keys are drawn from one narrow key band, so a clustered table
 * must rewrite a small file subset — the number that matters at 100 TB,
 * where merge cost is victim volume, not table volume).
 */
object LakeMergeBench {

  /** Returns (tableRows, mergeSeconds, victims, totalFiles). */
  def run(spark: SparkSession, n: Long, frac: Double = 0.01)
      : (Long, Double, Int, Int) = {
    val tbl = Files.createTempDirectory("lakemerge").toString + "/t"
    GraftLake.create(
      spark.range(n).select(col("id"), (col("id") % 97).as("score"),
        concat(lit("row-"), col("id")).as("payload"))
        .repartitionByRange(32, col("id")), tbl)

    // updates from one narrow band (clustered-table sweet spot) +
    // fresh inserts above the key space
    val bandLo = (n * 0.40).toLong
    val bandHi = bandLo + (n * frac).toLong
    val updates = spark.range(bandLo, bandHi)
      .select(col("id"), lit(-1L).as("score"),
        concat(lit("upd-"), col("id")).as("payload"))
    val inserts = spark.range(n, n + (n * frac / 2).toLong)
      .select(col("id"), lit(7L).as("score"),
        concat(lit("ins-"), col("id")).as("payload"))
    val src = updates.unionByName(inserts)

    val filesBefore = GraftLake.snapshot(spark, tbl).files.map(_.path).toSet
    val t0 = System.nanoTime()
    GraftLake.mergeInto(spark, tbl, src,
      col("t.id") === col("s.id"),
      matched = Seq(GraftLake.MatchedUpdate(None,
        Seq("score" -> col("s.score"), "payload" -> col("s.payload")))),
      notMatched = Seq(GraftLake.NotMatchedInsert(None,
        Seq("id" -> col("s.id"), "score" -> col("s.score"),
          "payload" -> col("s.payload")))))
    val secs = (System.nanoTime() - t0) / 1e9

    val snap = GraftLake.snapshot(spark, tbl)
    val victims = filesBefore.diff(snap.files.map(_.path).toSet).size
    require(GraftLake.read(spark, tbl).filter(col("score") === -1L).count()
      == bandHi - bandLo, "merge applied every update exactly once")
    (snap.files.map(_.rows).sum, secs, victims, filesBefore.size)
  }

  /** Prints one JSON line. Env knobs: SPARK_GRAFT_LAKE_N (default
    * 2000000), SPARK_GRAFT_MERGE_FRAC (default 0.01), SPARK_GRAFT_CPUS. */
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_LAKE_N", "2000000").toLong
    val frac = sys.env.getOrElse("SPARK_GRAFT_MERGE_FRAC", "0.01").toDouble
    val spark = graft.GraftSession.local(defaultCpus = 32)
    val (rows, secs, victims, files) = run(spark, n, frac)
    println(f"""{"metric":"lake_merge","table_rows":$rows,""" +
      f""""merge_seconds":$secs%.2f,"table_rows_per_sec":${rows / secs}%.0f,""" +
      f""""victim_files":$victims,"total_files":$files}""")
    spark.stop()
  }
}
