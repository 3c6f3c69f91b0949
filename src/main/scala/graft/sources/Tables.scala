package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

/**
 * Source layer: testdata table loaders + multi-path union scan
 * (SURVEY §2.1 S3/S4/S5 — parquet stands in for the reference's GCS Avro /
 * BigQuery reads; the scan shape is identical).
 */
object Tables {

  /** The driver-generated testdata parquet files are written with
    * nanosecond timestamps (pandas); Spark only reads TIMESTAMP(NANOS)
    * as raw longs behind this legacy flag. Epoch-nanos longs are actually
    * the better shape for exact cross-engine work — see
    * [[graft.functions.Kit.nanosToMillis]].
    */
  def configure(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    configure(spark)
    spark.read.parquet(s"$sfDir/$name.parquet")
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "region")
  /** `events.ts` is normalized to an epoch-NANOS long whatever the physical
    * parquet type (TIMESTAMP(NANOS) read as long behind the legacy flag, or
    * TIMESTAMP(MICROS) read as NTZ/LTZ) — epoch-nanos longs are exact,
    * engine-portable arithmetic (`Kit.nanosToMillis`), and naive-as-UTC
    * matches DuckDB's `epoch_ns` since every graft session pins UTC. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val df = table(spark, sfDir, "events")
    df.schema("ts").dataType match {
      case LongType => df
      case _ => df.withColumn(
        "ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")

  /**
   * F4 — existence-pruned path filter (mediation/MediationService.scala:274-295,
   * utils/GCSCommonUtilsInterim.scala:11-40): the reference lists GCS and
   * keeps only date dirs that exist before building scans, so a missing
   * partition doesn't fail the job. Hadoop-FS based, so it works against
   * any supported filesystem (local, HDFS, object stores) — a driver-side
   * metadata call, not a data scan.
   */
  def existingPaths(spark: SparkSession, paths: Seq[String]): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    paths.filter { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(conf).exists(hp)
    }
  }
}
