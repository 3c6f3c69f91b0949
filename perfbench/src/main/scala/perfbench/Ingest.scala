package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.sources.Bus
import graft.sources.lake.GraftLake
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/**
 * `ingest`: bus to lake. Set-up publishes seeded records to the log bus
 * (`Bus.logBusAppend`, Avro wire bytes, 4 key-routed partitions) and creates
 * an empty lake table (`GraftLake.create`, default checkpoint cadence). The
 * run drains topics with `maxPerTrigger`, so each micro-batch lands as one
 * `GraftLake.appendStreamBatch` epoch of at most [[PerEpoch]] records and
 * the table's log grows by one version per epoch. A warm-up topic is
 * drained first, then [[Drains]] measured topics one after another, each by
 * its own streaming query into the same table.
 */
object Ingest extends Workload {
  val Partitions = 4
  val PerEpoch = 400
  val WarmN = 2400L
  val Drains = 3
  /** Records of each measured topic: 900 × `seconds` over all drains. */
  def perDrain(seconds: Int): Long = 900L * seconds / Drains
  def topic(k: Int): String = s"ingest$k"
  @volatile private var publishS = 0.0

  private def recordsOf(spark: SparkSession, seed: Long, n: Long, from: Long) = {
    import spark.implicits._
    val i = col("id") + from
    spark.range(n).select(
      struct(
        concat(lit("gen_"), i).as("id"),
        concat(lit("E2"), lpad(hex(xxhash64(lit(seed), i)), 24, "0")).as("transactionId"),
        (lit(1700000000000L) + i).as("nhubTimestamp")).as("event"),
      struct(pmod(i, lit(1000)).cast("string").as("id"),
        lit("Perf Bench").as("fullName")).as("customer"),
      struct(lit("N-1").as("id"),
        concat(lit("message "), xxhash64(lit(seed + 1), i).cast("string")).as("message"),
        lit(null).cast("int").as("retries"), lit(null).cast("boolean").as("nhubSuccess"),
        lit(null).cast("double").as("amount"),
        lit(null).cast("string").as("successDescr")).as("notification"))
      .as[graft.model.MyEventRecord]
  }

  private def flat(ds: Dataset[graft.model.MyEventRecord]): DataFrame =
    ds.select(col("event.id").as("id"), col("event.transactionId").as("transaction_id"),
      col("customer.id").as("customer_id"), col("event.nhubTimestamp").as("ts"),
      col("notification.message").as("message"))

  def setup(spark: SparkSession, dir: String, seed: Long, seconds: Int): Unit = {
    Bus.logBusAppend(recordsOf(spark, seed, WarmN, 0), s"$dir/bus", "warm", Partitions)
    val t0 = Clock.nowMs
    for (k <- 0 until Drains) Bus.logBusAppend(
      recordsOf(spark, seed, perDrain(seconds), WarmN + k * perDrain(seconds)),
      s"$dir/bus", topic(k), Partitions)
    publishS = (Clock.nowMs - t0) / 1e3
    val empty = flat(recordsOf(spark, seed, 0, 0)).withColumn("landed_epoch", lit(0L))
    GraftLake.create(empty, s"$dir/table")
  }

  /** Drains `topic` into the table at `tbl`; returns the query's id and each
    * epoch's (epoch, start, end) of its `appendStreamBatch` call. */
  private def drain(ctx: Ctx, topic: String, tbl: String): (String, Seq[(Long, Double, Double)]) = {
    import ctx._
    val appends = new ConcurrentLinkedQueue[(Long, Double, Double)]()
    val q = flat(Bus.logBusRecordSource(spark, s"$dir/bus", topic, Partitions, PerEpoch))
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$dir/ckpt-$topic")
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        val qid = batch.sparkSession.sparkContext.getLocalProperty("sql.streaming.queryId")
        val (_, t0, t1) = tracer.span(spark, s"append:$qid:$epoch", s"batch:$qid:$epoch",
            "append") {
          GraftLake.appendStreamBatch(batch.withColumn("landed_epoch", lit(epoch)), tbl,
            s"perfbench-$topic", epoch)
        }
        appends.add((epoch, t0, t1))
        ()
      }
      .start()
    try q.awaitTermination() finally q.stop()
    (q.id.toString, appends.asScala.toSeq.sortBy(_._1))
  }

  def run(ctx: Ctx): Map[String, Any] = {
    import ctx._
    val n = WarmN + Drains * perDrain(seconds)
    val tbl = s"$dir/table"
    drain(ctx, "warm", tbl)
    val (drains, jvm) = measured {
      (0 until Drains).map { k =>
        val t0 = Clock.nowMs
        val (qid, appends) = drain(ctx, topic(k), tbl)
        Map("query" -> qid, "t0" -> t0, "records" -> perDrain(seconds),
          "appends" -> appends.map { case (e, a, b) => Seq(e.toDouble, a, b) })
      }
    }
    val t0 = drains.head("t0").asInstanceOf[Double]
    val c = GraftLake.read(spark, tbl).agg(count(lit(1)), count_distinct(col("id"))).head()
    val (rows, distinctIds) = (c.getLong(0), c.getLong(1))
    val failed = (rows - n).abs + (rows - distinctIds)
    if (failed > 0) System.err.println(
      s"[perfbench] ingest check: rows=$rows distinct=$distinctIds published=$n")

    // the table's shape at the final log length, for the per-layer metrics
    val lake = if (!tracer.enabled) Map.empty[String, Any] else {
      val snapMs = (1 to 5).map { _ =>
        val s0 = Clock.nowMs; GraftLake.snapshot(spark, tbl); Clock.nowMs - s0
      }.sorted.apply(2)
      val snap = GraftLake.snapshot(spark, tbl)
      def bytes(f: File): Long =
        if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).map(bytes).sum
        else f.length
      Map("versions" -> GraftLake.latestVersion(tbl),
        "active_files" -> snap.files.size, "log_bytes" -> bytes(new File(tbl, "_log")),
        "data_bytes" -> snap.files.map(_.bytes).sum, "table_bytes" -> bytes(new File(tbl)),
        "snapshot_end_ms" -> snapMs)
    }
    Map("attempted" -> n, "failed" -> failed, "t0" -> t0, "drains" -> drains,
      "batches" -> progress.batches.asScala.toSeq.filter(_.startMs >= t0).map(_.toMap),
      "lake" -> lake,
      "bus_publish_s" -> publishS, "jvm" -> jvm, "plan_ms" -> tracer.planMs.get)
  }
}
