package graft

import graft.streaming.LocalCheckpointFileManager
import org.apache.spark.sql.SparkSession

/** The one session policy every entry point and the test harness build on:
  * UTC session time, no UI, testdata's TIMESTAMP(NANOS) read as raw longs,
  * the graft SQL extensions, the lake's session-catalog face and the
  * fork-free streaming-checkpoint manager for `file:` checkpoint dirs
  * ([[graft.streaming.LocalCheckpointFileManager]], Spark's
  * `spark.sql.streaming.checkpointFileManagerClass`; other schemes keep
  * Spark's default). No other file in the library starts a session
  * builder (`SessionLintSpec` enforces it).
  */
object GraftSession {

  /** The policy on a builder, for callers that add settings of their own
    * on top before `getOrCreate()`. */
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // testdata parquet carries TIMESTAMP(NANOS) — read as raw longs
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // lake SQL DML (LakeDmlRule) is a resolution rule — session-build only
      .config("spark.sql.extensions", "graft.spark.GraftExtensions")
      // lake ALTER TABLE / MERGE INTO / time travel need the v2 catalog
      // face (delegating: non-lake tables untouched)
      .config("spark.sql.catalog.spark_catalog",
        "graft.sources.lake.GraftLakeCatalog")
      // checkpoint logs and state-store files through java.nio, not
      // Hadoop's local FS, which forks readlink/chmod per file
      .config(Map(LocalCheckpointFileManager.Conf))

  /** `local[cpus]` with as many shuffle partitions, cpus from
    * `SPARK_GRAFT_CPUS` (else `defaultCpus`) — the bench and tooling mains. */
  def local(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(defaultCpus)
    start(builder(s"local[$cpus]", cpus))
  }

  /** Master from `SPARK_MASTER` (else `local[4]`), 4 shuffle partitions —
    * the runnable apps. */
  def app(): SparkSession =
    start(builder(sys.env.getOrElse("SPARK_MASTER", "local[4]"), 4))

  private def start(b: SparkSession.Builder): SparkSession = {
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
