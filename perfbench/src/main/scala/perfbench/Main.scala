package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What a workload needs while it runs. */
final case class Ctx(spark: SparkSession, dir: String, seconds: Int,
    tracer: Tracer, progress: ProgressRecorder) {

  /** Runs the measured phase as the `run` span: tracer listening, JVM
    * counters read around it. */
  def measured[T](body: => T): (T, Map[String, Any]) = {
    val (gc0, jit0) = (Jvm.gcMs, Jvm.jitMs)
    tracer.attach(spark)
    val r = try tracer.span(spark, "run", "", "run")(body)._1
      finally tracer.detach(spark)
    (r, Map("gc_ms" -> (Jvm.gcMs - gc0), "jit_ms" -> (Jvm.jitMs - jit0),
      "heap_used_bytes" -> Jvm.heapUsed))
  }
}

/** One benchmark workload: `setup` builds its inputs under `dir` from the
  * seed; `run` warms up, measures, checks its outputs, and returns the raw
  * figures (`attempted` and `failed` among them) that `run.py` turns into
  * metrics. */
trait Workload {
  def setup(spark: SparkSession, dir: String, seed: Long, seconds: Int): Unit
  def run(ctx: Ctx): Map[String, Any]
}

/**
 * Harness entry: `Main <workload> <seed> <seconds> <trace 0|1> <outDir>`.
 * Writes `<outDir>/raw.json` and, when traced, `<outDir>/spans.jsonl`.
 *
 * Set-up time (`setup_s`) runs from the start of this JVM to the workload's
 * inputs in place: JVM, Spark and library cold start, the session, and the
 * workload's `setup`. It is taken once, in the process that is measured.
 */
object Main {
  def session(cpus: Int, dir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.spark.GraftExtensions")
      .config("spark.sql.catalog.spark_catalog", "graft.sources.lake.GraftLakeCatalog")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  val workloads: Map[String, Workload] = Map("mediation" -> Mediation, "ingest" -> Ingest)

  def main(args: Array[String]): Unit = {
    val Array(name, seedS, secondsS, traceS, outDir) = args
    val w = workloads(name)
    val (seed, seconds) = (seedS.toLong, secondsS.toInt)
    val cpus = Runtime.getRuntime.availableProcessors()
    new File(outDir).mkdirs()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    val dir = s"$outDir/work"
    val spark = session(cpus, dir)
    w.setup(spark, dir, seed, seconds)
    val setupS = (Clock.nowMs - jvmStartMs) / 1e3
    val tracer = new Tracer(traceS == "1")
    tracer.install(spark)
    val progress = new ProgressRecorder
    spark.streams.addListener(progress)
    val (raw, conf) = try {
      val r = w.run(Ctx(spark, dir, seconds, tracer, progress))
      val cached = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
      (r + ("cached_bytes_after" -> cached), spark.conf.getAll)
    } finally spark.stop()
    Json.write(s"$outDir/raw.json", raw ++ Map(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "cpus" -> cpus,
      "setup_s" -> setupS,
      "sql_conf" -> conf))
    if (tracer.enabled) {
      val runStart = tracer.spans.asScala.find(_.key == "run").map(_.start).getOrElse(0.0)
      progress.batches.asScala.filter(_.startMs >= runStart).foreach(b => tracer.add(Span(
        s"batch:${b.queryId}:${b.batchId}", "run", "batch", b.startMs, b.endMs)))
      val runId = s"$name-$seed-${System.currentTimeMillis()}"
      val lines = tracer.spans.asScala.toSeq.sortBy(_.start).map { s =>
        Json.render(Map("run" -> runId, "key" -> s.key, "parent" -> s.parent,
          "kind" -> s.kind, "start" -> s.start, "end" -> s.end) ++ s.attrs)
      }
      Files.write(Paths.get(s"$outDir/spans.jsonl"), lines.asJava)
    }
    deleteTree(new File(dir))
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Minimal JSON rendering for the raw record (maps, sequences, scalars). */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + render(x) }
      .mkString("{", ",", "}")
    case a: Array[_] => render(a.toSeq)
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def write(path: String, v: Any): Unit =
    Files.writeString(Paths.get(path), render(v) + "\n")
}
