package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class KitSpec extends SparkSpec {

  test("idempotentKey column renders nulls as 'null' (reference interpolation)") {
    import spark.implicits._
    val df = Seq((Some("tx1"), Some("1")), (None: Option[String], Some("2")))
      .toDF("tx", "cust")
    val out = df.select(Kit.idempotentKey(col("tx"), col("cust")).as("k"))
      .collect().map(_.getString(0))
    assert(out.toSeq == Seq("tx1-1", "null-2"))
  }

  test("idempotentKey column equals MyEventRecord.idempotentKey, null sides included") {
    import graft.model.{Customer, MockData}
    import spark.implicits._
    // the historical-key anti-join (D2) keys on the column, the stateful
    // dedup (D3) groups on the typed key: they must agree on every record
    val quique = MockData.notSentDebitQuique
    val recs = Seq(quique, MockData.notSentDebitAbuela,
      MockData.trueSentDebitQuique, MockData.invalidRecord,
      quique.copy(customer = Customer()),
      quique.copy(event = quique.event.copy(transactionId = None)))
    val out = recs.toDS()
      .select(Kit.idempotentKey(col("event.transactionId"), col("customer.id")))
      .as[String].collect().toSeq
    assert(out == recs.map(_.idempotentKey))
    assert(out.contains("null-null"))
  }

  test("isBusinessDay: Sundays always dropped, Saturdays only May-Sept (TimeUtils:115-120)") {
    import spark.implicits._
    val df = Seq(
      "2026-08-09", // Sunday Aug → drop
      "2026-08-08", // Saturday Aug (May-Sept) → drop
      "2026-02-07", // Saturday Feb → keep
      "2026-08-10" // Monday → keep
    ).toDF("d").select(to_date(col("d")).as("d"))
    val kept = df.filter(Kit.isBusinessDay(col("d"))).collect().map(_.getDate(0).toString)
    assert(kept.toSeq == Seq("2026-02-07", "2026-08-10"))
  }

  test("parseTsMulti: first matching format wins, unparseable → null") {
    import spark.implicits._
    val df = Seq("2024-03-01 10:30:00", "01/03/2024", "garbage").toDF("s")
    val out = df.select(Kit.parseTsMulti(col("s"),
      Seq("yyyy-MM-dd HH:mm:ss", "dd/MM/yyyy")).as("t")).collect()
    assert(out(0).getTimestamp(0).toString.startsWith("2024-03-01 10:30:00"))
    assert(out(1).getTimestamp(0).toString.startsWith("2024-03-01 00:00:00"))
    assert(out(2).isNullAt(0))
  }

  test("humanDuration formats h/m/s (TimeUtils:127-138)") {
    import spark.implicits._
    val df = Seq(3723000L).toDF("ms") // 1h 2m 3s
    val out = df.select(Kit.humanDuration(col("ms")).as("d")).head().getString(0)
    assert(out == "1h 2m 3sec")
  }

  test("tumblingStartMs floors epoch-nanos to the window start exactly") {
    import spark.implicits._
    val ns = 1704067798778549829L // 2024-01-01 00:09:58.778... UTC
    val df = Seq(ns).toDF("ts")
    val start = df.select(Kit.tumblingStartMs("ts", 3600000L).as("w")).head().getLong(0)
    assert(start == 1704067200000L) // 2024-01-01 00:00:00 UTC
    val ms = df.select(Kit.nanosToMillis("ts").as("m")).head().getLong(0)
    assert(ms == 1704067798778L)
  }

  test("windowName formats start_end (TimeUtils:38-57)") {
    import spark.implicits._
    val df = Seq(("2024-01-01 10:00:00", "2024-01-01 10:00:30")).toDF("s", "e")
    val out = df.select(Kit.windowName(
      to_timestamp(col("s")), to_timestamp(col("e"))).as("n")).head().getString(0)
    assert(out == "20240101T100000_100030")
  }
}
