package perfbench

import java.io.File
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.concurrent.{ExecutionContext, Future, Promise}
import scala.jdk.CollectionConverters._

import graft.apps.MediationApp
import graft.model.{HttpRequest, NotificationResponse}
import graft.streaming.AsyncEnrich
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Notification endpoint stand-in: answers every send after a fixed delay,
  * from a timer, without holding a thread while the send is in flight. */
final class DelayClient extends AsyncEnrich.NotificationClient {
  override def send(req: HttpRequest)(implicit ec: ExecutionContext): Future[NotificationResponse] = {
    val p = Promise[NotificationResponse]()
    val t0 = Clock.nowMs
    DelayClient.sends.incrementAndGet()
    DelayClient.timer.schedule(new Runnable {
      def run(): Unit = {
        if (DelayClient.recordIntervals) DelayClient.intervals.add((t0, Clock.nowMs))
        p.success(NotificationResponse(101, req.title, req.body, req.userId))
      }
    }, DelayClient.DelayMs, TimeUnit.MILLISECONDS)
    p.future
  }
}

object DelayClient {
  val DelayMs = 20L
  val sends = new AtomicLong(0)
  val intervals = new ConcurrentLinkedQueue[(Double, Double)]()
  @volatile var recordIntervals = false
  lazy val timer = Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "perfbench-delay-client"); t.setDaemon(true); t
  }
}

/**
 * `mediation`: the flagship pipeline (`MediationApp.start`): file source →
 * validity split → transformWithState dedup on RocksDB → async enrich →
 * parquet analytics sink, plus the windowed toxic sink.
 *
 * Records are generated from the seed: 20% repeat an earlier idempotent
 * key, 1% are invalid (no transaction id). Both shares are the benchmark's
 * own choice; the source does not publish its traffic mix. Set-up stages
 * the records as parquet files; the generator publishes a file by renaming
 * it into the watched directory.
 *   - warm-up, unmeasured: [[WarmN]] records published in one go and
 *     drained, then the open loop below for 0.3 × `seconds`;
 *   - phase 1: open loop at [[Rate]] records/s, one file per [[TickMs]],
 *     each published when its last record falls due, for 0.5 × `seconds`;
 *   - phase 2: a backlog of [[BacklogFiles]] parts of `1000 × seconds / 3`
 *     records, each published in one go once the one before has drained.
 * Warm-up and phase-1 files hold [[PerTick]] records each, so that a
 * micro-batch stays well under the 32 files at which Spark lists a batch's
 * files with a parallel job; the backlog is [[BacklogFiles]] files.
 */
object Mediation extends Workload {
  val Rate = 10000.0 / 3 // the reference's 200k notifications/min
  val TickMs = 120.0
  val PerTick = math.round(Rate * TickMs / 1000).toInt
  val WarmN = 4800
  val DupPct = 20
  val InvalidPct = 1
  val BacklogFiles = 5

  def warmTicks(seconds: Int): Int = (seconds * 300 / TickMs).toInt
  def ticks(seconds: Int): Int = (seconds * 500 / TickMs).toInt
  def partN(seconds: Int): Int = 1000 * seconds / 3
  def backlogN(seconds: Int): Int = BacklogFiles * partN(seconds)

  private def u(seed: Long, salt: Int): Column =
    pmod(xxhash64(lit(seed), col("id"), lit(salt)), lit(100))

  def setup(spark: SparkSession, dir: String, seed: Long, seconds: Int): Unit = {
    val live = WarmN + (warmTicks(seconds) + ticks(seconds)) * PerTick
    val i = col("id")
    val keyId = when(u(seed, 1) < DupPct && i > 0,
      pmod(xxhash64(lit(seed), i, lit(2)), i)).otherwise(i)
    val base = System.currentTimeMillis()
    def records(from: Long, until: Long, parts: Int) = spark.range(from, until, 1, parts).select(
      struct(
        concat(lit("gen_"), i).as("id"),
        when(u(seed, 3) < InvalidPct, lit(null).cast("string"))
          .otherwise(concat(lit("E2"), lpad(hex(keyId), 24, "0"))).as("transactionId"),
        (lit(base) + (i * 1000 / Rate).cast("long")).as("nhubTimestamp")).as("event"),
      struct(
        pmod(keyId, lit(1000)).cast("string").as("id"),
        lit("Perf Bench").as("fullName")).as("customer"),
      struct(
        lit("N-1").as("id"),
        lit("payment received").as("message"),
        lit(null).cast("int").as("retries"),
        lit(null).cast("boolean").as("nhubSuccess"),
        lit(null).cast("double").as("amount"),
        lit(null).cast("string").as("successDescr")).as("notification"))
    // one partition, so one file, per PerTick records: file k holds records
    // [k * PerTick, (k + 1) * PerTick)
    records(0, live, live / PerTick).write.parquet(s"$dir/stage/live")
    records(live, live + backlogN(seconds), BacklogFiles).write.parquet(s"$dir/stage/backlog")
    new File(s"$dir/events").mkdirs()
  }

  /** The staged files of `part` in record order. */
  private def staged(dir: String, part: String): IndexedSeq[File] =
    Option(new File(s"$dir/stage/$part").listFiles).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".parquet"))
      .sortBy { f =>
        val m = "^part-(\\d+)-.*-c(\\d+)\\.".r.findFirstMatchIn(f.getName)
          .getOrElse(throw new IllegalStateException(s"unexpected staged file $f"))
        (m.group(1).toInt, m.group(2).toInt)
      }.toIndexedSeq

  /** Moves staged files into the watched directory. */
  private def publish(dir: String, files: Seq[File]): Unit = files.foreach { f =>
    if (!f.renameTo(new File(s"$dir/events/${f.getName}")))
      throw new IllegalStateException(s"cannot publish $f")
  }

  def run(ctx: Ctx): Map[String, Any] = {
    import ctx._
    val (nWarm, nTicks) = (warmTicks(seconds), ticks(seconds))
    val first = WarmN + nWarm * PerTick // the first record measured
    val p1 = nTicks * PerTick
    val total = first + p1 + backlogN(seconds)
    DelayClient.recordIntervals = tracer.enabled
    val cfg = MediationApp.Config(
      ttlMillis = 600000L,
      timerCleanup = false,
      enrich = AsyncEnrich.Config(clientId = s"perfbench-${System.nanoTime()}",
        maxConcurrency = 256, ratePerSec = 1000000, burst = 1000000,
        backoffMillis = 1L))
    val queries = MediationApp.start(spark, MediationApp.fileStream(spark, s"$dir/events"),
      Nil, cfg, () => new DelayClient, s"$dir/out", s"$dir/toxic", s"$dir/ckpt")
    val Seq(mainId, toxicId) = queries.map(_.id.toString)

    def await(n: Long, timeoutMs: Long): Boolean = {
      val deadline = System.nanoTime() + timeoutMs * 1000000L
      while ((progress.rows(mainId) < n || progress.rows(toxicId) < n) &&
          System.nanoTime() < deadline && queries.forall(_.isActive)) Thread.sleep(10)
      progress.rows(mainId) >= n && progress.rows(toxicId) >= n
    }

    val files = staged(dir, "live")
    val warmFiles = WarmN / PerTick
    require(files.size == warmFiles + nWarm + nTicks, s"unexpected staged file count ${files.size}")
    val (phases, jvm) = try {
      publish(dir, files.take(warmFiles))
      require(await(WarmN, 120000), "warm-up records were not consumed")
      // the open loop: tick k is published when its last record falls due;
      // returns (due, published at, records published so far) per tick
      val tStart = Clock.nowMs
      def openLoop(ks: Range): Seq[Seq[Double]] = ks.map { k =>
        val due = tStart + ((k + 1) * PerTick - 1) * 1000 / Rate
        val wait = due - Clock.nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        val at = Clock.nowMs
        publish(dir, Seq(files(warmFiles + k)))
        Seq(due, at, (WarmN + (k + 1) * PerTick).toDouble)
      }
      openLoop(0 until nWarm)
      val sends0 = DelayClient.sends.get
      measured {
        // phase 1: the open loop goes on, now measured; t0 is when the first
        // measured record falls due
        val t0 = tStart + nWarm * PerTick * 1000 / Rate
        val published = openLoop(nWarm until nWarm + nTicks)
        val t1 = Clock.nowMs
        val drained1 = await(first + p1, 60000)
        // phase 2: the backlog in parts, each published in one go once the
        // one before has drained
        val t2 = Clock.nowMs
        val part = partN(seconds)
        val drained2 = staged(dir, "backlog").zipWithIndex.forall { case (f, k) =>
          publish(dir, Seq(f))
          await(first + p1 + (k + 1L) * part, 120000)
        }
        Map("t0" -> t0, "t1" -> t1, "t2" -> t2, "published" -> published,
          "drained" -> (drained1 && drained2),
          "sends" -> (DelayClient.sends.get - sends0))
      }
    } finally queries.foreach(_.stop())

    // output checks: exactly one result per valid record, one SENT per
    // distinct key of the valid records, one toxic row per invalid record;
    // one row per record or result, checked on the driver
    val events = spark.read.parquet(s"$dir/events").select(col("event.id").as("id"),
      (col("event.transactionId").isNotNull && col("notification.id").isNotNull &&
        col("customer.id").isNotNull).as("valid"),
      concat_ws("-", col("event.transactionId"), col("customer.id")).as("key"))
    val sent = col("response.title") =!= NotificationResponse.SentOrDuplicated.title
    val results = spark.read.parquet(s"$dir/out").groupBy(col("record.event.id").as("id"))
      .agg(count(lit(1)).as("n"), max("batch").cast("long").as("batch"),
        count(when(sent, 1)).as("sent"),
        count(when(sent && !col("record.notification.nhubSuccess"), 1)).as("sent_ko"))
    val rows = events.join(results, Seq("id"), "full_outer").select(
      substring_index(col("id"), "_", -1).cast("long"), col("valid"), col("key"),
      col("n"), col("batch"), col("sent"), col("sent_ko")).collect()
    def long(r: Row, i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    def isValid(r: Row): Boolean = !r.isNullAt(1) && r.getBoolean(1)
    val nValid = rows.count(isValid).toLong
    val nInvalid = rows.count(r => !r.isNullAt(1) && !r.getBoolean(1)).toLong
    val novelKeys = rows.filter(isValid).map(_.getString(2)).distinct.length.toLong
    val missing = rows.count(r => isValid(r) && r.isNullAt(3)).toLong
    val extra = rows.map(r => long(r, 3) - (if (isValid(r) && !r.isNullAt(3)) 1 else 0)).sum
    val nSent = rows.map(long(_, 5)).sum
    val sentKo = rows.map(long(_, 6)).sum
    val toxic = try spark.read.parquet(s"$dir/toxic").count() catch { case _: Exception => 0L }
    val failed = missing + extra + (nSent - novelKeys).abs + sentKo + (toxic - nInvalid).abs +
      (if (phases("drained") == true) 0 else 1)
    if (failed > 0) System.err.println(s"[perfbench] mediation check: missing=$missing " +
      s"extra=$extra sent=$nSent/$novelKeys sentKo=$sentKo toxic=$toxic/$nInvalid " +
      s"drained=${phases("drained")}")

    // batch of each phase-1 record, by generation index
    val batchOf = Array.fill(p1)(-1L)
    rows.foreach { r =>
      if (!r.isNullAt(0) && !r.isNullAt(4) && r.getLong(0) >= first && r.getLong(0) < first + p1)
        batchOf((r.getLong(0) - first).toInt) = r.getLong(4)
    }
    val intervals = DelayClient.intervals.asScala.toSeq.map { case (a, b) => Seq(a, b) }
    DelayClient.intervals.clear()
    Map("attempted" -> total, "failed" -> failed,
      "rate" -> Rate, "first" -> first, "sends_total" -> DelayClient.sends.get, "p1" -> p1, "backlog" -> backlogN(seconds),
      "backlog_parts" -> BacklogFiles,
      "valid" -> nValid, "invalid" -> nInvalid,
      "novel_keys" -> novelKeys, "sent" -> nSent, "toxic" -> toxic,
      "batch_of" -> batchOf, "batches" -> progress.of(mainId).map(_.toMap),
      "send_intervals" -> intervals, "jvm" -> jvm, "plan_ms" -> tracer.planMs.get) ++
      phases
  }
}
