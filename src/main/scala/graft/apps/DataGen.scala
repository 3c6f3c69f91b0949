package graft.apps

import graft.functions.Kit
import graft.model.{MockData, MyEventRecord}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/**
 * §3.3 — mock-data producer / tap pair
 * (streaming/utils/pubsub/PubSubProducer.scala:22-49, PubSubConsumer:18-36,
 * utils/LocalAvroDump.scala:16-30): generate N mock records with randomized
 * idempotent keys and now-stamps, write them as a partitioned file feed
 * (the stand-in for a message-bus topic in this env), and tap/preview a
 * feed. `DataGen.main` and `Tap.main` are runnable; the pure builders are
 * unit-tested.
 */
object DataGen {

  /** N mock records: base fixtures × randomized transactionId (U13/P6) and
    * nhubTimestamp = now (P3). Distributed generation — `spark.range`
    * drives it, so N can be billions without a driver-side Seq.
    *
    * `hotFrac` > 0 plants state-key skew: that fraction of records (chosen
    * deterministically by id) all carry ONE idempotent key — both halves
    * pinned, transactionId AND customer.id — so they hash to a single
    * dedup state partition and a single RocksDB state row (the dup-key
    * race the reference documents as its main production hazard,
    * mediation/README.md:149-151). First arrival is SENT, the rest
    * SENT_OR_DUPLICATED; every record still yields exactly one result row.
    */
  def mockRecords(spark: SparkSession, n: Long,
      hotFrac: Double = 0.0): Dataset[MyEventRecord] = {
    import spark.implicits._
    val base = MockData.notSentDebitQuique
    // striped by id % 100 so the share is exact (n multiple of 100) and
    // hot rows interleave with unique ones instead of front-loading
    val hot = pmod(col("id"), lit(100)) < lit((hotFrac * 100).toLong)
    spark.range(n).select(
      struct(
        struct(
          concat(lit("gen_"), col("id")).as("id"),
          // hot key keeps the U13 shape (prefix family + 24 hex)
          when(hot, lit("E2f0f0f0f0f0f0f0f0f0f0f0f0"))
            .otherwise(Kit.randomHexKey()).as("transactionId"),
          unix_millis(current_timestamp()).as("nhubTimestamp")).as("event"),
        struct(
          when(hot, lit("7")).otherwise((col("id") % 1000).cast("string"))
            .as("id"),
          lit(base.customer.fullName.orNull).as("fullName")).as("customer"),
        struct(
          lit(base.notification.id.orNull).as("id"),
          lit(base.notification.message.orNull).as("message"),
          lit(null).cast("int").as("retries"),
          lit(null).cast("boolean").as("nhubSuccess"),
          lit(null).cast("double").as("amount"),
          lit(null).cast("string").as("successDescr")).as("notification"))
        .as("r"))
      .select(col("r.*"))
      .as[MyEventRecord]
  }

  /**
   * Skew-stress corpus: `hotFrac` of the `n` documents are EXACT copies of
   * one viral document (the reference documents this dup-key race as its
   * main production hazard, mediation/README.md:149-151) and the rest are
   * deterministic pseudo-random unique texts. The hot cluster is
   * simultaneously a hot dedup KEY (one md5 holds 20% of rows), a hot
   * MinHash bucket (identical signatures), and a hot SimHash chunk bucket —
   * the worst case for every blocked operator at once. Fully deterministic
   * (seeded by doc id through xxhash64), distributed (spark.range-driven,
   * so n can be billions).
   */
  def skewedDocuments(spark: SparkSession, n: Long,
      hotFrac: Double = 0.2): org.apache.spark.sql.DataFrame = {
    val vocab = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega " +
      "anchor bridge cipher dynamo ember flint granite harbor ingot jasper " +
      "kestrel lattice marble nickel onyx pebble quartz russet slate timber")
      .split(' ')
    val viral = "breaking news this exact viral document was reposted " +
      "verbatim across every mirror and aggregator on the entire internet " +
      "within a single afternoon of its original publication"
    val words = typedLit(vocab.toSeq)
    // unique docs: 24 vocab words chosen by xxhash64(id, position) — enough
    // material to shingle, vanishingly unlikely to near-dup at 0.8 jaccard
    val uniqueText = concat_ws(" ",
      transform(sequence(lit(0), lit(23)),
        i => element_at(words, (pmod(xxhash64(col("id"), i), lit(vocab.length)) + 1)
          .cast("int"))))
    spark.range(n).select(
      col("id").as("doc_id"),
      when(pmod(xxhash64(col("id")), lit(10000)) < lit((hotFrac * 10000).toLong),
        lit(viral)).otherwise(uniqueText).as("text"))
  }

  /** Same row count, no hot cluster — the control corpus for skew benches. */
  def uniformDocuments(spark: SparkSession, n: Long): org.apache.spark.sql.DataFrame =
    skewedDocuments(spark, n, hotFrac = 0.0)

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000L)
    val out = args.lift(1).getOrElse("target/datagen")
    val spark = graft.GraftSession.app()
    try mockRecords(spark, n).write.mode("overwrite").parquet(out)
    finally spark.stop()
  }
}

/** Feed preview (PubSubConsumer's `debug()` tap): read a record feed and
  * print a capped sample plus a count.
  */
object Tap {
  def main(args: Array[String]): Unit = {
    val path = args.headOption.getOrElse("target/datagen")
    val n = args.lift(1).map(_.toInt).getOrElse(20)
    val spark = graft.GraftSession.app()
    try {
      val df = spark.read.parquet(path)
      df.show(n, truncate = false)
      println(s"rows=${df.count()}")
    } finally spark.stop()
  }
}
