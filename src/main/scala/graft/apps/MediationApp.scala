package graft.apps

import graft.functions.Kit
import graft.model.{MyEventRecord, SendResult}
import graft.streaming.{AsyncEnrich, LocalCheckpointFileManager, Marked, StatefulTtlDedupTws, WindowedSink}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}

/**
 * The flagship app recomposed (SURVEY §3.1, mediation/MediationService.scala:71-145):
 *
 *   STEP 1   bootstrap: batch-scan historical record dirs, dedup by
 *            idempotent key, tag INITIAL_LOAD (:89-96, :270-315)
 *   STEP 2   stream: key by idempotent key (:110-127)
 *            validity split → toxic windowed sink (:129-131, 30 s windows)
 *   STEP 2.2 historical-vs-fresh dedup (D2): the reference broadcasts the
 *            historical key set as a side input and drops hits — the "new"
 *            branch emits nothing for them (:163-207). Spark-native twin:
 *            stream-static `left_anti` join against the broadcast historical
 *            key set. A bounded∪unbounded union is the shape the reference
 *            explicitly rejects (README NOTE 2) and Spark cannot even
 *            express — the join IS the supported construct (§7.3 #5).
 *   STEP 3-5 stateful TTL dedup → async HTTP per novel record (:125-135)
 *   STEP 5-6 (record, response) analytics output (:259-268)
 *
 * Scale posture: every stage is a streaming Dataset transform — state is
 * hash-partitioned by key across executors, the async stage bounds in-flight
 * requests per task, and the only driver-side work is query management. At
 * 1000 executors the bootstrap union is a file scan, not a collect.
 */
object MediationApp {

  final case class Config(
      ttlMillis: Long = 120000L, // local default ttl-time=120 s (application.conf:20)
      timerCleanup: Boolean = true, // Tws per-key timer-clear
      toxicWindow: String = "30 seconds", // MediationService.scala:129
      watermarkDelay: String = "0 seconds", // allowedLateness=0 (W5)
      enrich: AsyncEnrich.Config = AsyncEnrich.Config(),
      // per-element firing (W3) by default; AvailableNow = bounded replay
      trigger: Trigger = Trigger.ProcessingTime(0L),
      // bus source: "file" (dir-tail stand-in), "kafka" (needs the
      // spark-sql-kafka connector jar at runtime; see sources/Bus)
      source: String = "file",
      kafkaBootstrap: String = "",
      kafkaTopic: String = "")

  /** STEP 1 — bootstrap scan: union the historical dirs (S4 multi-path
    * scan), keep valid records, one per idempotent key, tagged INITIAL_LOAD
    * (getOldAvrosFromGCS, MediationService.scala:270-315).
    */
  def bootstrap(spark: SparkSession, paths: Seq[String],
      format: String = "parquet"): Dataset[MyEventRecord] = {
    import spark.implicits._
    // F4: prune non-existent dirs before building the scan, so a missing
    // date partition can't fail the job (MediationService.scala:274-295)
    val existing = graft.sources.Tables.existingPaths(spark, paths)
    if (existing.isEmpty) spark.emptyDataset[MyEventRecord]
    else {
      // "avro" = the reference's native bootstrap format (S3), served by
      // the avro-core container reader; other formats via the datasource
      val scan =
        if (format == "avro")
          graft.sources.AvroFiles.read(spark, existing,
            Encoders.product[MyEventRecord].schema)
        else spark.read.format(format).load(existing: _*)
      scan.as[MyEventRecord]
        .filter(_.isValid)
        .groupByKey(_.idempotentKey)
        .reduceGroups((a, _) => a).map(_._2) // distinctByKey (D1)
        .map(_.tagInitialLoad)
    }
  }

  /** Validity split (F1/F2): returns (ok, toxic). Both sides derive from one
    * plan; Spark evaluates the predicate twice rather than caching — cheaper
    * than a persist for a filter this narrow, and streaming-safe.
    */
  def validitySplit(events: Dataset[MyEventRecord])
      : (Dataset[MyEventRecord], Dataset[MyEventRecord]) =
    (events.filter(_.isValid), events.filter(r => !r.isValid))

  /** STEP 2-5 core: dedup-mark then enrich. Batch shape — also the body of
    * the streaming foreachBatch below, so batch and streaming share one
    * code path (micro-batch = bundle).
    */
  def processBatch(marked: Dataset[Marked], cfg: Config,
      client: () => AsyncEnrich.NotificationClient): Dataset[SendResult] =
    AsyncEnrich.enrich(marked, cfg.enrich, client)

  /**
   * Full streaming pipeline. `events` is an unbounded Dataset[MyEventRecord]
   * (MemoryStream in tests; file/kafka stream in production). Returns the
   * running analytics query; toxic records stream to `toxicPath` as windowed
   * files in parallel.
   *
   * Session settings: `start` sets three, all session-wide, before
   * either query starts.
   *   - State store: the dedup runs on RocksDB, so any other provider
   *     the session names is replaced.
   *   - RocksDB changelog checkpointing (`spark.sql.streaming.stateStore.
   *     rocksdb.changelogCheckpointing.enabled`), unless the caller set
   *     it. Spark 4.1 defaults it to
   *     false, so every batch commit uploads a full RocksDB snapshot; with
   *     the changelog a commit writes only that batch's changes and
   *     snapshots are taken by the maintenance thread. Measured on the
   *     perfbench `mediation` workload (4-vCPU VM, two traced pairs):
   *     `state.commit_ms` 640 → 340 ms a batch, traced throughput up
   *     4–9%, outputs unchanged; end-to-end throughput moved within noise
   *     (+2.6% over six alternating pairs).
   *   - The checkpoint file manager (`spark.sql.streaming.
   *     checkpointFileManagerClass`): [[graft.streaming.LocalCheckpointFileManager]],
   *     unless the caller set a manager. `GraftSession` sets it too;
   *     `start` sets it for a caller whose session was built elsewhere
   *     (perfbench's is). Without libhadoop, Spark's
   *     default manager forks `readlink` and `chmod` for every offsets,
   *     commits and source log file on the driver and for every RocksDB
   *     changelog and its checksum file in task commit. This one writes
   *     through java.nio; like the default it does not fsync, and it
   *     writes no `.crc` sidecar. Measured on the perfbench `mediation`
   *     workload (4-vCPU VM), per micro-batch in one traced pair:
   *     `stream.commit_ms` 79 → 2 ms, `stream.source_ms` 66 → 23,
   *     `state.commit_ms` 343 → 21, `stream.batch_ms` 1,000 → 704, with
   *     `state.update_ms` summed over the run and the enrich stage flat. A JFR
   *     recording of one run counted 4,466 → 1,324 process starts, none
   *     left from a checkpoint manager. Ten alternating pairs:
   *     throughput 4,914 → 6,101 records/s, p50 latency 1,584 → 1,110 ms.
   */
  def start(spark: SparkSession, events: Dataset[MyEventRecord],
      historicalPaths: Seq[String], cfg: Config,
      client: () => AsyncEnrich.NotificationClient,
      outPath: String, toxicPath: String, checkpointRoot: String): Seq[StreamingQuery] = {
    import spark.implicits._
    configureSession(spark)

    val (ok, toxic) = validitySplit(events)

    // toxic quarantine: 30 s tumbling windows, one dir per window (K1)
    val toxicQuery = WindowedSink.start(
      toxic.map(r => (r.idempotentKey, r.event.nhubTimestamp.getOrElse(0L)))
        .toDF("idempotent_key", "ts_ms")
        .withColumn("event_time", timestamp_millis(col("ts_ms"))),
      "event_time", cfg.toxicWindow, cfg.watermarkDelay,
      toxicPath, s"$checkpointRoot/toxic", trigger = cfg.trigger)

    // D2: drop stream records whose key is in the historical snapshot —
    // stream-static left_anti on the broadcast key set. Historical hits
    // produce NO output, matching the reference's "new" branch emptiness
    // (MediationServiceSpec.scala:135-154).
    val novel =
      if (historicalPaths.isEmpty) ok
      else {
        val histKeys = bootstrap(spark, historicalPaths)
          .map(_.idempotentKey).toDF("idempotent_key")
        ok.withColumn("idempotent_key",
            Kit.idempotentKey(col("event.transactionId"), col("customer.id")))
          .join(broadcast(histKeys), Seq("idempotent_key"), "left_anti")
          .drop("idempotent_key")
          .as[MyEventRecord]
      }

    // D3: transformWithState (native TTL + timer-clear on RocksDB). NOTE
    // with a TTL it runs TimeMode.ProcessingTime, where Spark re-triggers
    // no-data batches — bounded drains (AvailableNow) and sink-polling
    // tests are the compatible harnesses (see StatefulTtlDedupTws).
    val deduped = StatefulTtlDedupTws(novel, cfg.ttlMillis, timerClear = cfg.timerCleanup)

    // K5 log-effect taps → Spark-native observable metrics: per-batch row
    // counts surface through QueryProgressEvent.observedMetrics instead of
    // map(log.info) side effects (MediationService.scala:106,130,134)
    val analytics = deduped
      .observe("graft_dedup", count(lit(1)).as("rows"),
        count(when(col("status") === Marked.Sent, 1)).as("sent"))
    implicit val enc = Encoders.product[SendResult]
    val analyticsQuery = analytics.writeStream
      .outputMode(OutputMode.Append)
      // epoch-keyed OVERWRITE, not a flat append: foreachBatch makes sink
      // idempotence the app's duty — after a crash the engine REPLAYS the
      // failed epoch, and an append would double-write its rows. Writing
      // each epoch into its own batch=<id> partition dir with overwrite
      // makes the replay rewrite the same dir, so the sink is exactly-once
      // end-to-end (readers see one extra `batch` partition column).
      .foreachBatch { (batch: Dataset[Marked], epochId: Long) =>
        processBatch(batch.filter(!_.record.isInitialLoad), cfg, client)
          .write.mode("overwrite").parquet(s"$outPath/batch=$epochId")
      }
      .option("checkpointLocation", s"$checkpointRoot/analytics")
      .trigger(cfg.trigger)
      .start()

    Seq(analyticsQuery, toxicQuery)
  }

  /** The session settings both queries start on (see [[start]]): RocksDB
    * state, and its changelog checkpointing and the checkpoint file
    * manager where the session has none. Tws needs a multi-column-family
    * store; getOption surfaces the HDFS-backed DEFAULT, so the provider
    * test is for RocksDB rather than for absence. */
  private def configureSession(spark: SparkSession): Unit = {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    if (!spark.conf.getOption(providerKey).exists(_.contains("RocksDB")))
      spark.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val changelogKey =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    if (spark.conf.getOption(changelogKey).isEmpty)
      spark.conf.set(changelogKey, "true")
    val (managerKey, manager) = LocalCheckpointFileManager.Conf
    if (spark.conf.getOption(managerKey).isEmpty)
      spark.conf.set(managerKey, manager)
  }

  /** S1 as a file-stream source: tail a directory of record files
    * (the message-bus stand-in in this environment; swap for
    * `format("kafka")` + `from_avro` against a real bus).
    */
  def fileStream(spark: SparkSession, dir: String): Dataset[MyEventRecord] = {
    import spark.implicits._
    spark.readStream
      .schema(Encoders.product[MyEventRecord].schema)
      .parquet(dir)
      .as[MyEventRecord]
  }

  /** S1 against the RUNNABLE unbounded bus ([[graft.sources.v2.GraftLogBusSource]]):
    * per-partition offsets, checkpoint resume, key-routed partitions so
    * per-key order holds into the dedup stage — the transport contract the
    * Kafka glue in [[graft.sources.Bus]] compiles for but cannot execute
    * in this environment. */
  def busStream(spark: SparkSession, root: String, topic: String,
      partitions: Int = 4): Dataset[MyEventRecord] =
    graft.sources.Bus.logBusRecordSource(spark, root, topic, partitions)

  /**
   * Runnable entry: drain the events directory once (Trigger.AvailableNow)
   * through the full pipeline and exit — the bounded-replay mode of the
   * reference's local runs. `GRAFT_ENDPOINT` selects a real HTTP endpoint;
   * otherwise sends go to the hermetic stub.
   */
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: MediationApp <eventsDir> <outPath> <toxicPath> <checkpoint> [histPath...]")
    val Array(eventsDir, outPath, toxicPath, ckpt) = args.take(4)
    val hist = args.drop(4).toSeq
    val spark = graft.GraftSession.app()
    val client: () => AsyncEnrich.NotificationClient =
      sys.env.get("GRAFT_ENDPOINT") match {
        case Some(ep) => () => new AsyncEnrich.JdkHttpClient(java.net.URI.create(ep))
        case None => () => new AsyncEnrich.StubClient()
      }
    val cfg = GraftConfig.load(sys.env.getOrElse("GRAFT_ENV", "dev"))
      .copy(trigger = Trigger.AvailableNow())
    // a bounded drain must end: the TTL'd dedup runs TimeMode.ProcessingTime,
    // whose operator always asks for another (no-data) batch, so AvailableNow
    // never terminates while those batches are on. They emit nothing here —
    // TTL expiry is evaluated on the state read path, and the toxic sink
    // writes each batch's rows as they come — so the drain turns them off
    // (the same choice TwsDedupHarness makes in the specs). `start` keeps
    // the engine default for long-running queries.
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    // S1: bus source selected by config — Kafka (wire-decoded via the Avro
    // codec) when configured, the dir-tail stand-in otherwise
    val events = cfg.source match {
      case "kafka" =>
        graft.sources.Bus.kafkaRecordSource(spark, cfg.kafkaBootstrap, cfg.kafkaTopic)
      case _ => fileStream(spark, eventsDir)
    }
    try {
      val queries = start(spark, events, hist, cfg,
        client, outPath, toxicPath, ckpt)
      queries.foreach(_.awaitTermination())
    } finally spark.stop()
  }
}
