package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Scalar column-function kit: the reference's utility surface (SURVEY §2.10
 * U1-U13) re-expressed as codegen-friendly `Column` expressions — no UDFs in
 * the hot path. Citations point at the reference behavior being reproduced.
 */
object Kit {

  // ── keys & validity ──────────────────────────────────────────────────────

  /** U1 — idempotent key `"${tx}-${cust}"`
    * (mediation/avro/MyEventRecordUtils.scala:55). The reference uses Scala
    * string interpolation, where a null side renders as the literal "null"
    * — preserved here (its spec asserts that negative case); the validity
    * router (F1/F2) upstream keeps such records out of the real pipeline.
    * Must equal [[graft.model.MyEventRecord.idempotentKey]]: the
    * historical-key anti-join (D2) keys on this column, the stateful dedup
    * (D3) on the typed key.
    */
  def idempotentKey(tx: Column, cust: Column): Column =
    concat(coalesce(tx, lit("null")), lit("-"), coalesce(cust, lit("null")))

  /** F1 — validity predicate (MyEventRecordUtils.scala:15-25). */
  def isValidBer(tx: Column, notifId: Column, custId: Column): Column =
    tx.isNotNull && notifId.isNotNull && custId.isNotNull

  /** U2/P2 — bootstrap tag check (StateAsyncParDoWithHttpHandler.scala:111). */
  def isInitialLoad(eventId: Column): Column =
    eventId.startsWith(graft.model.MyEventRecord.InitialLoadPrefix)

  // ── time kit ─────────────────────────────────────────────────────────────

  /** U4 — multi-format timestamp parse: first pattern that parses wins
    * (utils/time/TimeUtils.scala:67-84). `try_to_timestamp` (NULL on
    * mismatch even under ANSI mode) + `coalesce` is the Spark-native
    * "try chain" — plain `to_timestamp` would throw in Spark 4's default
    * ANSI mode on the first non-matching format.
    */
  def parseTsMulti(c: Column, formats: Seq[String]): Column =
    coalesce(formats.map(f => try_to_timestamp(c, lit(f))): _*)

  /** Reference's six patterns (utils/time/TimeUtils.scala:67-84). */
  val DefaultTsFormats: Seq[String] = Seq(
    "yyyy-MM-dd HH:mm:ss.SSS",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy/MM/dd HH:mm:ss",
    "dd/MM/yyyy HH:mm:ss",
    "dd/MM/yyyy")

  /** F5/U12 — business-calendar filter: drop Sundays always, Saturdays
    * May–September (utils/time/TimeUtils.scala:115-120).
    * Spark dayofweek: 1=Sunday … 7=Saturday.
    */
  def isBusinessDay(d: Column): Column =
    !(dayofweek(d) === 1) && !(dayofweek(d) === 7 && month(d).isin(5, 6, 7, 8, 9))

  /** U5 — window-name formatting `yyyyMMdd'T'HHmmss_HHmmss`
    * (utils/time/TimeUtils.scala:38-57): names a window's output file. */
  def windowName(start: Column, end: Column): Column =
    concat(date_format(start, "yyyyMMdd'T'HHmmss"), lit("_"),
      date_format(end, "HHmmss"))

  /** U8 — millis → "1h 2m 3sec" human duration
    * (utils/time/TimeUtils.scala:127-138). */
  def humanDuration(ms: Column): Column = {
    val h = (ms / 3600000L).cast("long")
    val m = ((ms % 3600000L) / 60000L).cast("long")
    val s = ((ms % 60000L) / 1000L).cast("long")
    concat(h, lit("h "), m, lit("m "), s, lit("sec"))
  }

  /** Epoch-nanos → epoch-millis (testdata `events.ts` arrives as raw
    * nanos via spark.sql.legacy.parquet.nanosAsLong). SQL integer `div`
    * keeps the math exact — double division loses precision above 2^53,
    * which epoch-nanos values exceed. */
  def nanosToMillis(nsColName: String): Column =
    expr(s"$nsColName div 1000000")

  /** Tumbling-window start in epoch-millis from an epoch-nanos column —
    * W1 fixed windows (streaming/utils/WindowUtils.scala:17-28) expressed
    * exactly in integer space for cross-engine reproducibility. */
  def tumblingStartMs(nsColName: String, windowMillis: Long): Column =
    expr(s"($nsColName div ${windowMillis * 1000000L}) * $windowMillis")

  // ── exact-integer quantization (cross-engine compare convention) ────────
  // Float aggregates are quantized to integers so Spark and the DuckDB
  // oracle hash identically (double ulp differences would otherwise leak
  // into the compare). cents = 1e2, bps = 1e4, micros = 1e6.

  def cents(c: Column): Column = round(c * 100, 0).cast("long")
  def bps(c: Column): Column = round(c * 10000, 0).cast("long")
  def microUnits(c: Column): Column = round(c * 1000000, 0).cast("long")

  // ── test-data generation (NOT for the hot path) ─────────────────────────

  /** U13/P6 — random mock key: one of `prefixes` + 24 uppercase hex chars
    * (mediation/avro/MyEventRecordUtils.scala:41-53; used by the mock
    * producer P6). Non-deterministic by design — datagen only.
    */
  def randomHexKey(prefixes: Seq[String] = Seq("E2", "23")): Column = {
    val prefix = element_at(
      shuffle(array(prefixes.map(lit): _*)), 1)
    val hex24 = upper(substring(sha2((rand() * 1e18).cast("string"), 256), 1, 24))
    concat(prefix, hex24)
  }
}
