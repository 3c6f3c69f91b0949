package graft.streaming

import graft.SparkSpec
import graft.model.{MockData, MyEventRecord}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Streams records through [[StatefulTtlDedupTws]] on the RocksDB state
  * store; shared by the TWS engine spec and the D3 semantics spec. */
abstract class TwsDedupHarness extends SparkSpec {
  import spark.implicits._

  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val NoDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"

  /** Feeds `batches` one micro-batch each, sleeping `pauseMs` of wall
    * clock between them (TTLConfig uses real processing time).
    *
    * With a TTL the query runs TimeMode.ProcessingTime, where Spark keeps
    * re-triggering no-data batches — processAllAvailable() never returns,
    * and stop() kills whichever batch is mid-write (pages of benign
    * abort-commit noise). TTLConfig expiry is evaluated on the state READ
    * path, not by those batches, so TTL'd runs disable them: nothing is
    * lost and the run is deterministic and quiet. */
  protected def runStream(name: String, batches: Seq[Seq[MyEventRecord]],
      ttlMillis: Long, pauseMs: Long = 0L): Seq[Marked] = {
    implicit val sq = spark.sqlContext
    val settings = Seq(ProviderKey -> RocksDb) ++
      (if (ttlMillis > 0) Seq(NoDataKey -> "false") else Nil)
    val prev = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val input = MemoryStream[MyEventRecord]
      val query = StatefulTtlDedupTws(input.toDS(), ttlMillis)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append).start()
      try {
        batches.zipWithIndex.foreach { case (b, i) =>
          if (i > 0) Thread.sleep(pauseMs)
          input.addData(b); query.processAllAvailable()
        }
        spark.table(name).as[Marked].collect().toSeq
      } finally query.stop()
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }
}

/** D3 via transformWithState + native state TTL (RocksDB provider). The
  * D3 contract itself is in [[StatefulTtlDedupSpec]]. */
class StatefulTtlDedupTwsSpec extends TwsDedupHarness {

  test("1 unique + 2 dups => 1 SENT + 2 SENT_OR_DUPLICATED (tws)") {
    val r = MockData.notSentDebitQuique
    val out = runStream("tws_e2e", Seq(Seq(r, r, r)), ttlMillis = 0L)
    assert(out.size == 3)
    assert(out.count(_.status == Marked.Sent) == 1)
    assert(out.count(_.status == Marked.Dup) == 2)
  }

  test("state persists across batches; INITIAL_LOAD never sends (tws)") {
    val boot = MockData.notSentDebitQuique.tagInitialLoad
    val fresh = MockData.notSentDebitQuique
    val other = MockData.notSentDebitAbuela
    // the bootstrapped key dedups the later real arrival
    // (StateAsyncParDoWithHttpHandler.scala:133-145)
    val out = runStream("tws_boot",
      Seq(Seq(boot), Seq(fresh, other)), ttlMillis = 0L)
    assert(out.count(_.status == Marked.Sent) == 1) // only abuela
    assert(out.filter(_.status == Marked.Sent)
      .forall(_.record.customer.fullName.contains("Abuela Moreno")))
    assert(out.count(_.status == Marked.Dup) == 2) // boot marker + quique
  }

  test("native TTL expires state between batches (tws)") {
    val r = MockData.notSentDebitQuique
    val out = runStream("tws_ttl", Seq(Seq(r), Seq(r)),
      ttlMillis = 300L, pauseMs = 700L)
    assert(out.map(_.status) == Seq(Marked.Sent, Marked.Sent))
  }
}
