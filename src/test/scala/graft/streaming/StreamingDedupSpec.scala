package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** D1 in streaming form (SURVEY §2.5): `dropDuplicates` over an unbounded
  * keyed stream — the Spark-native `distinctByKey`
  * (mediation/MediationService.scala:115,125,219).
  */
class StreamingDedupSpec extends SparkSpec {
  import spark.implicits._

  test("streaming dropDuplicates suppresses same-key arrivals across batches") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(String, Int)]
    val query = input.toDF().toDF("key", "v")
      .dropDuplicates("key")
      .writeStream.format("memory").queryName("d1_stream")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(("a", 1), ("a", 2), ("b", 1))
      query.processAllAvailable()
      input.addData(("a", 3), ("c", 1)) // a is a known key; c is novel
      query.processAllAvailable()
      val keys = spark.table("d1_stream").as[(String, Int)]
        .collect().map(_._1).sorted.toSeq
      assert(keys == Seq("a", "b", "c")) // exactly one row per key, ever
    } finally query.stop()
  }

  // D3's built-in twin: `dropDuplicatesWithinWatermark` is Spark's native
  // TTL'd dedup — per-key state lives only while the watermark can still
  // see duplicates, then expires, so the SAME key is admitted again later.
  // This is exactly the reference's TTL'd BagState semantics
  // (mediation/http/StateAsyncParDoWithHttpHandler.scala:86-95) with the
  // TTL driven by event time instead of a processing-time timer; the
  // custom [[StatefulTtlDedupTws]] remains for the processing-time contract
  // and the duplicate-MARKER (tag, don't drop) output shape.
  test("dropDuplicatesWithinWatermark: duplicates suppressed within the window, key re-admitted after expiry") {
    implicit val sq = spark.sqlContext
    import java.sql.Timestamp
    def ts(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val input = MemoryStream[(Timestamp, String)]
    val query = input.toDF().toDF("et", "key")
      .withWatermark("et", "10 minutes")
      .dropDuplicatesWithinWatermark("key")
      .writeStream.format("memory").queryName("d3_wm_stream")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData((ts(0), "k"), (ts(2), "k")) // dup within the window
      query.processAllAvailable()
      input.addData((ts(30), "other")) // advances watermark to 10:20
      query.processAllAvailable()
      input.addData((ts(25), "k")) // k's state expired at wm 10:12 — readmit
      query.processAllAvailable()
      val rows = spark.table("d3_wm_stream").as[(Timestamp, String)]
        .collect().map { case (t, k) => (k, t.toString.substring(11, 16)) }
        .sortBy(r => (r._1, r._2)).toSeq
      assert(rows === Seq(("k", "10:00"), ("k", "10:25"), ("other", "10:30")))
    } finally query.stop()
  }
}
