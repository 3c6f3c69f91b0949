package graft.apps

import java.nio.file.Files

import graft.sources.Bus
import graft.streaming.AsyncEnrich
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.scalatest.Assertions._

/** The composed pipeline over the unbounded bus, drained with
  * `Trigger.AvailableNow` from one fresh base dir: bus, analytics and
  * toxic outputs, and the checkpoint root. Shared by the restart, resume
  * and fork specs. */
final class MediationDrain(spark: SparkSession, prefix: String) {
  val base: String = Files.createTempDirectory(prefix).toString
  val checkpointRoot = s"$base/ckpt"

  private val cfg = MediationApp.Config(
    ttlMillis = 600000L, timerCleanup = false,
    trigger = Trigger.AvailableNow(),
    enrich = AsyncEnrich.Config(clientId = prefix,
      maxConcurrency = 64, ratePerSec = 1000000, burst = 1000000,
      backoffMillis = 1L))

  /** Appends `n` fresh records (distinct idempotent keys) to the bus. */
  def publish(n: Long): Unit =
    Bus.logBusAppend(DataGen.mockRecords(spark, n), s"$base/bus", "events")

  def start(): Seq[StreamingQuery] = MediationApp.start(spark,
    MediationApp.busStream(spark, s"$base/bus", "events"),
    historicalPaths = Nil, cfg, () => new AsyncEnrich.StubClient(),
    s"$base/out", s"$base/toxic", checkpointRoot)

  def countOut(): Long =
    try spark.read.parquet(s"$base/out").count()
    catch { case _: Exception => 0L }

  /** Starts the app, waits until the sink holds at least `k` rows (or
    * 180 s pass) and stops both queries. */
  def runUntil(k: Long): Unit = {
    val qs = start()
    try {
      val deadline = System.nanoTime() + 180L * 1000 * 1000 * 1000
      while (countOut() < k && System.nanoTime() < deadline) Thread.sleep(50)
    } finally qs.foreach(_.stop())
  }

  /** Exactly-once by count and by identity: the idempotent key
    * (transactionId + customer id) of each of the `n` published records
    * appears in the analytics sink once. */
  def assertExactlyOnce(n: Long): Unit = {
    val out = spark.read.parquet(s"$base/out")
    assert(out.count() === n, s"expected exactly $n results, got ${out.count()}")
    val distinctKeys = out.select(concat_ws("-",
        col("record.event.transactionId"), col("record.customer.id")))
      .distinct().count()
    assert(distinctKeys === n, s"duplicated records after replay: ${n - distinctKeys}")
  }
}
