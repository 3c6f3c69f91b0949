package graft.streaming

import graft.model.MyEventRecord
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** A record tagged with its dedup outcome — D3's one-output-per-input
  * contract (every arrival yields a row, SENT or SENT_OR_DUPLICATED;
  * mediation/http/StateAsyncParDoWithHttpHandler.scala:105-131 and the
  * multiset assertion in MediationServiceSpec.scala:73-81).
  */
final case class Marked(key: String, record: MyEventRecord, status: String)

object Marked {
  val Sent = "SENT"
  val Dup = "SENT_OR_DUPLICATED"
}

/**
 * D3 — stateful TTL dedup (SURVEY §2.5/§2.9): per idempotent key, the
 * first arrival within the TTL window is SENT; every later same-key
 * arrival while the key is live in state emits SENT_OR_DUPLICATED.
 * INITIAL_LOAD-tagged records load state WITHOUT a send (bootstrap,
 * StateAsyncParDoWithHttpHandler.scala:133-145); once expired the next
 * arrival is SENT again (StateBaseAsyncDoFn.java:156-166). One output per
 * INPUT, not per key (SURVEY §7.3 hard-part #1), and state is
 * hash-partitioned on the key, like Beam's keyed state at any scale.
 *
 * Built on the Spark 4 `transformWithState` API (SURVEY §2.9's preferred
 * mapping). The per-key TTL is native:
 * `ValueState` + `TTLConfig` — the state store expires the entry itself,
 * so there is no timer to manage, no no-data-batch dependence, and expiry
 * behaves identically under both time semantics. Requires the RocksDB
 * state store provider
 * (`spark.sql.streaming.stateStore.providerClass=...state.RocksDBStateStoreProvider`),
 * which is also the right provider for 100 TB streams — state lives
 * off-heap/on-disk per executor instead of in the JVM heap.
 *
 * TTL is armed only when the key transitions empty→seen (a duplicate never
 * extends the window), matching the reference's timer discipline
 * (StateAsyncParDoWithHttpHandler.scala:91-94,127,147-153).
 *
 * `timerClear=true` additionally registers a per-key processing-time timer
 * at arm time and clears the state when it fires — the reference's
 * timer-clear discipline (StateBaseAsyncDoFn.java:156-166: the TTL timer's
 * ONLY job is clearing the bag; it emits nothing). With the native
 * TTLConfig also active this is belt-and-braces: whichever fires first
 * empties the key, and clearing an already-expired key is a no-op.
 */
class TtlDedupProcessor(ttlMillis: Long, timerClear: Boolean = false)
    extends StatefulProcessor[String, MyEventRecord, Marked] {

  @transient private var seen: ValueState[Boolean] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    val ttl =
      if (ttlMillis > 0) TTLConfig(java.time.Duration.ofMillis(ttlMillis))
      else TTLConfig.NONE
    seen = getHandle.getValueState[Boolean]("seen", Encoders.scalaBoolean, ttl)
  }

  override def handleInputRows(key: String, rows: Iterator[MyEventRecord],
      timerValues: TimerValues): Iterator[Marked] = {
    var isSeen = seen.exists() // TTL-expired entries read as absent
    val wasSeen = isSeen
    val out = rows.map { r =>
      val status =
        if (r.isInitialLoad) { isSeen = true; Marked.Dup }
        else if (isSeen) Marked.Dup
        else { isSeen = true; Marked.Sent }
      Marked(key, r, status)
    }.toVector // materialize before the state write below
    if (isSeen && !wasSeen) {
      seen.update(true) // arms the TTL exactly once
      if (timerClear && ttlMillis > 0)
        getHandle.registerTimer(
          timerValues.getCurrentProcessingTimeInMs() + ttlMillis)
    }
    out.iterator
  }

  override def handleExpiredTimer(key: String, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[Marked] = {
    seen.clear() // timer-clear: empty the key, emit nothing
    Iterator.empty
  }
}

object StatefulTtlDedupTws {
  /** TimeMode is ProcessingTime only when a TTL exists (TTLConfig needs
    * it); with no TTL we run TimeMode.None — under ProcessingTime, Spark
    * re-triggers no-data micro-batches forever to evaluate TTL/timers
    * (TransformWithStateExec.shouldRunAnotherBatch), which burns cycles at
    * trigger=0 and makes processAllAvailable() hang. TTL'd queries should
    * run a real trigger interval (and tests poll the sink instead).
    */
  def apply(ds: Dataset[MyEventRecord], ttlMillis: Long,
      timerClear: Boolean = false): Dataset[Marked] = {
    implicit val outEnc: Encoder[Marked] = Encoders.product[Marked]
    implicit val keyEnc: Encoder[String] = Encoders.STRING
    val timeMode =
      if (ttlMillis > 0) TimeMode.ProcessingTime() else TimeMode.None()
    ds.groupByKey(_.idempotentKey)
      .transformWithState(new TtlDedupProcessor(ttlMillis, timerClear),
        timeMode, OutputMode.Append)
  }
}
