package graft.sources

import graft.functions.{AvroKit, Kit, MyEventRecordWire}
import graft.model.MyEventRecord
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/**
 * S1/S2/K3 — message-bus source/sink glue (the reference's Pub/Sub ingress/
 * egress, streaming/utils/pubsub/PubSubConsumer.scala:38-52 /
 * PubSubProducer.scala:51-56), expressed as Kafka + the engine's Avro wire
 * codec. `format("kafka")` resolves by name, so this COMPILES without the
 * connector jar; at runtime it needs spark-sql-kafka on the classpath (not
 * shipped in this environment — the file/MemoryStream stand-ins in
 * [[graft.apps.MediationApp]] remain the default, selected by config).
 * The decode/encode halves are transport-independent and fully tested
 * against [[MyEventRecordWire]] bytes.
 */
object Bus {

  private val wireDdl: String = MyEventRecordWire.structType.toDDL

  /** Unbounded Kafka scan: raw (key, value, topic, partition, offset). */
  def kafkaSource(spark: SparkSession, bootstrap: String, topic: String,
      startingOffsets: String = "latest"): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .load()

  /** Wire decode: a binary `value` column (Avro wire bytes, the reference's
    * toByteBuffer format) → typed records. Works on any DataFrame with a
    * `value: binary` column — Kafka scan or file/memory stand-in alike.
    */
  def decodeRecords(df: DataFrame): Dataset[MyEventRecord] = {
    import df.sparkSession.implicits._
    df.select(AvroKit.fromAvro(col("value"), wireDdl).as("r"))
      .select(col("r.event").as("event"), col("r.customer").as("customer"),
        col("r.notification").as("notification"))
      .as[MyEventRecord]
  }

  /** Wire encode: typed records → a single binary `value` column. */
  def encodeRecords(ds: Dataset[MyEventRecord]): DataFrame =
    ds.toDF().select(AvroKit.toAvro(
      struct(col("event"), col("customer"), col("notification"))).as("value"))

  /** S1 via Kafka: subscribe + wire-decode. */
  def kafkaRecordSource(spark: SparkSession, bootstrap: String, topic: String,
      startingOffsets: String = "latest"): Dataset[MyEventRecord] =
    decodeRecords(kafkaSource(spark, bootstrap, topic, startingOffsets))

  // ── The runnable bus: the log-structured stand-in, same wire format ─────

  val logBusFmt = "graft.sources.v2.GraftLogBusSource"

  /** Wire-encode + key-route: (partition, value) rows ready to publish.
    * The routing key is the record's idempotent identity (transactionId +
    * customer id — the reference's dedup key), so all occurrences of one
    * key land in ONE partition and per-key order holds downstream. */
  def routeRecords(ds: Dataset[MyEventRecord], partitions: Int): DataFrame = {
    val keyed = ds.toDF().select(
      Kit.idempotentKey(col("event.transactionId"), col("customer.id")).as("key"),
      AvroKit.toAvro(
        struct(col("event"), col("customer"), col("notification"))).as("value"))
    graft.sources.v2.GraftLogBus.route(keyed, col("key"), partitions)
  }

  /** K3 against the runnable log bus: batch publish (two-phase commit). */
  def logBusAppend(ds: Dataset[MyEventRecord], root: String, topic: String,
      partitions: Int = 4): Unit =
    routeRecords(ds, partitions).write.format(logBusFmt)
      .option("root", root).option("topic", topic)
      .option("partitions", partitions.toString)
      .mode("append").save()

  /** S1/S2 against the runnable log bus: unbounded subscribe + wire-decode
    * (per-partition offsets, checkpoint resume, admission control). */
  def logBusRecordSource(spark: SparkSession, root: String, topic: String,
      partitions: Int = 4, maxPerTrigger: Long = Long.MaxValue): Dataset[MyEventRecord] =
    decodeRecords(spark.readStream.format(logBusFmt)
      .option("root", root).option("topic", topic)
      .option("partitions", partitions.toString)
      .option("maxPerTrigger", maxPerTrigger.toString)
      .load())
}
