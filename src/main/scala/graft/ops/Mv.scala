package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Incremental maintenance of AGGREGATE materialized views — the
 * rebuild-free half of the MV story ([[graft.spark.MvRewriteRule]] is the
 * read half: it answers coarser aggregates from the MV). A view
 * `SELECT keys, sum(m)…, count(*) FROM fact GROUP BY keys` is
 * self-maintainable under inserts AND deletes: apply the delta's partial
 * aggregates with signs (+1 insert, −1 retraction) and merge by key —
 * refresh cost is O(|MV| + |delta|), NEVER O(|fact|). At 100 TB of fact
 * that is the difference between a nightly full rebuild and a per-batch
 * merge of a dimension-cardinality table.
 *
 * Layout: `mvPath/v=<version>/` parquet, one dir per refresh; readers
 * take the max version (the time-travel/rollback surface). Streaming
 * maintenance writes version = epochId and reads state STRICTLY BELOW
 * it, so a replayed micro-batch overwrites its own version instead of
 * double-applying the delta — idempotent under crash replay
 * (`MvMaintenanceSpec` proves it with a forced replay).
 *
 * Consistency guard: a retraction that was never inserted would drive a
 * group's count negative — that is corrupt input, and the merge fails
 * fast in-plan (`raise_error`) rather than materializing a wrong view.
 * Groups whose count reaches exactly zero vanish from the view.
 */
object Mv {

  /** Column names the view stores: one `<m>_sum` per measure + row count. */
  private def sumCol(m: String) = s"${m}_sum"
  private val CntCol = "__cnt"

  private def aggExprs(sums: Seq[String], signed: Option[org.apache.spark.sql.Column]) = {
    val s = signed.getOrElse(lit(1L))
    sums.map(m => sum(col(m) * s).as(sumCol(m))) :+ sum(s).as(CntCol)
  }

  /** COMMITTED versions under `mvPath`, ascending; empty if none. A
    * version counts only once its `_SUCCESS` marker exists, so a reader
    * racing a crashed half-written refresh falls back to the previous
    * complete view (the replay then overwrites the partial dir). */
  def versions(spark: SparkSession, mvPath: String): Seq[Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(mvPath)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v=") &&
        fs.exists(new org.apache.hadoop.fs.Path(s.getPath, "_SUCCESS")))
      .map(_.getPath.getName.stripPrefix("v=").toLong).sorted
  }

  /** Full build from the fact table → version `version` (default 0). */
  def build(fact: DataFrame, mvPath: String, keys: Seq[String],
      sums: Seq[String], version: Long = 0L): Unit = {
    val e = aggExprs(sums, None)
    fact.groupBy(keys.map(col): _*).agg(e.head, e.tail: _*)
      .write.mode("overwrite").parquet(s"$mvPath/v=$version")
  }

  /** The view as of the newest version strictly below `beforeExclusive`
    * (default: the current view). */
  def read(spark: SparkSession, mvPath: String,
      beforeExclusive: Long = Long.MaxValue): DataFrame = {
    val vs = versions(spark, mvPath).filter(_ < beforeExclusive)
    require(vs.nonEmpty, s"no MV version below $beforeExclusive at $mvPath")
    spark.read.parquet(s"$mvPath/v=${vs.max}")
  }

  /**
   * Merge a delta into the view: reads the state strictly below
   * `version`, applies the delta's signed partial aggregates, writes
   * `v=<version>`. `signCol` (values +1/-1) marks inserts vs retractions;
   * absent means all-inserts. Deterministic and idempotent per version:
   * re-running the same (state, delta, version) overwrites the same dir
   * with the same bytes.
   */
  def refresh(spark: SparkSession, mvPath: String, delta: DataFrame,
      keys: Seq[String], sums: Seq[String], version: Long,
      signCol: Option[String] = None): Unit = {
    val old = read(spark, mvPath, beforeExclusive = version)
    val sign = signCol.map(c => col(c).cast("long"))
    val de = aggExprs(sums, sign)
    val deltaAgg = delta.groupBy(keys.map(col): _*).agg(de.head, de.tail: _*)
    val me = sums.map(m => sum(col(sumCol(m))).as(sumCol(m))) :+
      sum(col(CntCol)).as(CntCol)
    val merged = old.unionByName(deltaAgg)
      .groupBy(keys.map(col): _*)
      .agg(me.head, me.tail: _*)
    // corrupt-retraction guard: negative count = deleting rows that were
    // never in the fact — fail in-plan, do not materialize a wrong view
    val guarded = merged.withColumn(CntCol,
      when(col(CntCol) < 0L, raise_error(concat(
        lit("MV refresh drove a group count negative: over-retraction at key ("),
        concat_ws(",", keys.map(col): _*), lit(")"))))
        .otherwise(col(CntCol)))
      .filter(col(CntCol) =!= 0L)
    guarded.write.mode("overwrite").parquet(s"$mvPath/v=$version")
  }

  /**
   * Streaming maintenance: every micro-batch of fact changes refreshes
   * the view at version = epochId + 1 (the caller's [[build]] seed is
   * v=0, strictly below every epoch). A replayed epoch reads the same
   * prior state (strictly below its version) and overwrites its own dir —
   * exactly-once maintenance without a transaction log.
   */
  def startMaintenance(changes: DataFrame, mvPath: String, keys: Seq[String],
      sums: Seq[String], checkpoint: String,
      signCol: Option[String] = None,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        refresh(batch.sparkSession, mvPath, batch, keys, sums,
          version = epochId + 1, signCol = signCol)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
}
