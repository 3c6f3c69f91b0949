package graft.apps

import java.nio.file.Files

import graft.SparkSpec
import graft.sources.Bus
import graft.sources.lake.GraftLake
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Throughput floor for the bus→lake ingestion path (the continuous
  * corpus store's steady state): the drain must clear the reference's
  * 3,333/s anchor even on the 4-core test session — the commit protocol
  * (stage, footer stats, fenced link) must not be the bottleneck. The
  * repeatable figure for this path is the `ingest` workload of perfbench
  * (`python3 perfbench/run.py --workload ingest`). */
class LakeIngestThroughputSpec extends SparkSpec {

  /** Publish n records to the runnable log bus, stream them through
    * foreachBatch into a [[GraftLake]] table under the (appId, epochId)
    * exactly-once fence, and time the drain. Returns (rowsLanded,
    * seconds, recordsPerSec). */
  private def run(n: Long, partitions: Int = 8): (Long, Double, Double) = {
    val base = Files.createTempDirectory("lakeingest").toString
    val tbl = s"$base/table"; val ckpt = s"$base/ckpt"
    spark.range(n).select(
        pmod(col("id"), lit(partitions)).cast("int").as("partition"),
        col("id").cast("string").cast("binary").as("value"))
      .write.format(Bus.logBusFmt)
      .option("root", s"$base/bus").option("topic", "ingest")
      .option("partitions", partitions.toString)
      .mode("append").save()
    GraftLake.create(
      spark.range(0).select(col("id"), lit(0L).as("landed_epoch")), tbl)

    val t0 = System.nanoTime()
    val q = spark.readStream.format(Bus.logBusFmt)
      .option("root", s"$base/bus").option("topic", "ingest")
      .option("partitions", partitions.toString)
      .load()
      .select(col("value").cast("string").cast("long").as("id"))
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        GraftLake.appendStreamBatch(
          batch.withColumn("landed_epoch", lit(epochId)), tbl,
          "lake-ingest-bench", epochId)
        ()
      }
      .start()
    q.awaitTermination()
    val secs = (System.nanoTime() - t0) / 1e9
    val rows = GraftLake.read(spark, tbl).count()
    (rows, secs, rows / secs)
  }

  test("bus -> exactly-once lake append sustains the 3,333/s baseline") {
    val n = 100000L
    val (rows, secs, rate) = run(n)
    info(f"lake ingest: $rate%.0f records/s over $n records ($secs%.1f s)")
    assert(rows == n, s"every published record must land exactly once, got $rows")
    assert(rate >= 3333.0,
      f"only $rate%.0f records/s through the lake commit protocol")
  }
}
