package graft.apps

import java.nio.file.Files

import graft.SparkSpec
import graft.sources.Bus
import graft.streaming.AsyncEnrich
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/**
 * Crash-resume correctness for the composed pipeline over the unbounded
 * bus: stop the WHOLE app mid-drain (some epochs committed, one possibly
 * in flight), publish more records while it is down, restart from the
 * same checkpoint, and require exactly-once output — every published
 * record appears in the analytics sink exactly once.
 *
 * Three mechanisms under test, together: bus offsets resume from the
 * streaming checkpoint; TWS dedup state survives restart on RocksDB; and
 * the analytics sink's epoch-keyed OVERWRITE makes a replayed epoch
 * rewrite its own `batch=<id>` dir instead of appending duplicates — a
 * flat append sink would double-write the replayed epoch's rows (the
 * foreachBatch idempotence contract).
 */
class MediationRestartSpec extends SparkSpec {

  test("stop mid-drain, publish more, restart (tws): every record exactly once") {
    val base = Files.createTempDirectory("medrestart").toString
    val (n1, n2) = (8000L, 4000L)
    Bus.logBusAppend(DataGen.mockRecords(spark, n1), s"$base/bus", "events")
    val cfg = MediationApp.Config(
      ttlMillis = 600000L, timerCleanup = false,
      trigger = Trigger.AvailableNow(),
      enrich = AsyncEnrich.Config(clientId = "med-restart",
        maxConcurrency = 64, ratePerSec = 1000000, burst = 1000000,
        backoffMillis = 1L))
    def startOnce() = MediationApp.start(spark,
      MediationApp.busStream(spark, s"$base/bus", "events"),
      historicalPaths = Nil, cfg, () => new AsyncEnrich.StubClient(),
      s"$base/out", s"$base/toxic", s"$base/ckpt")
    def countOut(): Long =
      try spark.read.parquet(s"$base/out").count()
      catch { case _: Exception => 0L }
    def awaitAtLeast(k: Long): Unit = {
      val deadline = System.nanoTime() + 180L * 1000 * 1000 * 1000
      while (countOut() < k && System.nanoTime() < deadline) Thread.sleep(50)
    }

    // run 1: stop as soon as the FIRST rows commit — mid-drain, with later
    // epochs unprocessed and possibly one in flight
    val qs1 = startOnce()
    try awaitAtLeast(1) finally qs1.foreach(_.stop())
    val afterStop = countOut()
    assert(afterStop > 0, "the first run must have committed something")
    info(s"stopped after $afterStop/$n1 rows")

    // publish the second tranche while the app is DOWN
    Bus.logBusAppend(DataGen.mockRecords(spark, n2), s"$base/bus", "events")

    // run 2: same checkpoint — resumes bus offsets and dedup state
    val qs2 = startOnce()
    try awaitAtLeast(n1 + n2) finally qs2.foreach(_.stop())

    val out = spark.read.parquet(s"$base/out")
    assert(out.count() === n1 + n2,
      s"expected exactly ${n1 + n2} results after restart, got ${out.count()}")
    // exactly-once by identity, not just by count: the idempotent key
    // (transactionId + customer id) of every published record appears once
    val distinctKeys = out.select(concat_ws("-",
        col("record.event.transactionId"), col("record.customer.id")))
      .distinct().count()
    assert(distinctKeys === n1 + n2,
      s"duplicated records after replay: ${n1 + n2 - distinctKeys}")
  }
}
