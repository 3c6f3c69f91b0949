package graft.sources.lake

import org.apache.spark.sql.{DataFrame, GraftDatasetBridge, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsTriggerAvailableNow, Offset => OffsetV2}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.types.StructType

/**
 * The lake as a STREAMING SOURCE — `spark.readStream.format("graft-lake")`
 * — the Delta-style "table as a stream" read: the transaction log IS the
 * changelog, so a consumer's offset is simply a table VERSION and a
 * micro-batch is the data added by a contiguous version range. Built on
 * the V1 `Source` seam (the one Delta's own DeltaSource uses): offsets
 * are replayable version numbers, so Structured Streaming's checkpoint
 * gives exactly-once delivery of every appended row with no extra state.
 *
 *  - The FIRST batch is the whole table as of stream start (Delta's
 *    default); `startingVersion` overrides it — `latest` tails only
 *    commits after stream start, a number N starts the changelog at
 *    version N (initial snapshot skipped).
 *  - Subsequent batches read exactly the files ADDED by append /
 *    stream-append / overwrite commits in `(lastVersion, latest]` —
 *    bounded by changed-file volume, never a table rescan.
 *  - Change commits (delete / merge / update / restore) REWRITE rows;
 *    emitting their adds would duplicate or resurrect data, so the
 *    source fails fast on them unless `skipChangeCommits=true` (Delta's
 *    option of the same name) skips them entirely. Pure layout commits
 *    (optimize / zorder) and metadata commits (rename-column /
 *    drop-column / checkpoints) are always skipped — same rows, no new
 *    data.
 *  - The schema is pinned at stream start; later-evolved columns are
 *    projected away and renamed columns keep resolving via field ids.
 *
 * Scale: a micro-batch plans one parquet scan over just the committed
 * files of its version range — at 100 TB the per-trigger cost tracks the
 * ingest rate, not the table size, and the log fold that computes the
 * range is the KB-sized checkpointed state.
 *
 * `Trigger.AvailableNow` is supported NATIVELY
 * ([[SupportsTriggerAvailableNow]], the same seam Delta's source
 * implements): the trigger pins the table version at stream start and
 * the engine then drains up to that version in maxVersionsPerTrigger-
 * bounded batches before stopping — a backlog catch-up is a sequence of
 * bounded batches, not Spark's single-giant-batch fallback (which would
 * defeat admission control exactly when the backlog is largest).
 */
final class LakeStreamSource(spark: SparkSession, dir: String,
    options: Map[String, String])
  extends Source with SupportsTriggerAvailableNow {

  require(GraftLake.latestVersion(dir) >= 0, s"not a lake table: $dir")

  private val pinned: GraftLake.Snapshot = GraftLake.snapshot(spark, dir)
  private val skipChangeCommits =
    options.getOrElse("skipChangeCommits", "false").toBoolean
  // CDC mode (Delta's readChangeFeed): every batch is the NET row-level
  // delta of its version range — appends arrive as inserts, CoW deletes /
  // updates / merges / MoR deletes as delete(old)+insert(new) rows, pure
  // layout commits net to zero — so row-rewriting commits no longer kill
  // the stream; schema gains `change_kind` ∈ {insert, delete}
  private val readChangeFeed =
    options.getOrElse("readChangeFeed", "false").toBoolean
  if (readChangeFeed)
    require(!pinned.schema.fieldNames.contains("change_kind"),
      s"readChangeFeed reserves the column name change_kind, which $dir already has")
  // commits at or below this version never enter the changelog; None =
  // emit the initial snapshot as the first batch (Delta's default)
  private val startingVersion: Option[Long] =
    options.get("startingVersion").map {
      case "latest" => pinned.version
      case v => v.toLong - 1
    }
  // admission control (Delta's maxFilesPerTrigger shape, in version
  // units — the lake's natural batch granule): each micro-batch advances
  // at most N commits, so a consumer catching up on a long backlog
  // processes bounded slices instead of one giant batch. The initial
  // snapshot is always one batch (it is a single version's file set).
  private val maxVersionsPerTrigger: Option[Long] =
    options.get("maxVersionsPerTrigger").map { v =>
      val n = v.toLong
      require(n >= 1, s"maxVersionsPerTrigger must be >= 1, got $v")
      n
    }
  // the highest version already handed out by getBatch — getOffset caps
  // its next answer relative to this (V1 Source API has no start param)
  @volatile private var lastBatchEnd: Option[Long] = None

  // Trigger.AvailableNow: the version pinned when the engine prepares
  // the trigger — latestOffset never advances past it, so the query
  // drains exactly the data available at start (in admission-controlled
  // batches) and terminates
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(GraftLake.latestVersion(dir))

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** Admission-controlled latest offset (the engine prefers this over
    * [[getOffset]] once [[SupportsTriggerAvailableNow]] is implemented):
    * unlike V1 getOffset it RECEIVES the start, so the per-trigger
    * version cap needs no internal bookkeeping here. */
  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val live = GraftLake.latestVersion(dir)
    val v = availableNowCap.fold(live)(math.min(_, live))
    if (v < 0) null
    else {
      val from = Option(start).map(versionOf)
      val capped = (maxVersionsPerTrigger, from) match {
        case (Some(n), Some(f)) => math.min(v, f + n)
        case _ => v // first batch: the snapshot is one version's files
      }
      LongOffset(capped)
    }
  }

  override def reportLatestOffset(): OffsetV2 = {
    val v = GraftLake.latestVersion(dir)
    if (v < 0) null else LongOffset(v)
  }

  override def schema: StructType =
    if (readChangeFeed) LakeStreamSource.withChangeKind(pinned.schema)
    else pinned.schema

  override def getOffset: Option[Offset] = {
    val v = GraftLake.latestVersion(dir)
    if (v < 0) None
    else {
      val capped = maxVersionsPerTrigger match {
        case Some(n) => lastBatchEnd match {
          case Some(last) => math.min(v, last + n)
          case None => v // first batch: the snapshot is one version's files
        }
        case None => v
      }
      Some(LongOffset(capped))
    }
  }

  private def versionOf(o: OffsetV2): Long = o match {
    case l: LongOffset => l.offset
    case other => other.json().trim.toLong // SerializedOffset after restart
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val to = versionOf(end)
    lastBatchEnd = Some(to)
    import org.apache.spark.sql.functions.{col => fcol, lit}
    val df = start.map(versionOf).orElse(startingVersion) match {
      case None =>
        // initial batch: the whole table as of `to`, read under the
        // PINNED schema (not the as-of snapshot's): restart recovery
        // replays getBatch(None, v) for an already-committed batch, and
        // by then the table may have renamed/added columns — field-id
        // resolution maps either schema onto the files, but name-based
        // projection onto pinned names must start from pinned itself
        val snapTo = GraftLake.snapshot(spark, dir, asOf = Some(to))
        val snap0 =
          if (snapTo.files.isEmpty)
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], pinned.schema)
          else
            LakeFileIndex.scan(spark, pinned, snapTo.files)
        if (readChangeFeed) snap0.withColumn("change_kind", lit("insert"))
        else snap0
      case Some(from) if readChangeFeed =>
        // CDC: the net row-level delta of (from, to] — handles EVERY
        // commit kind; pure layout / metadata commits net to zero rows
        GraftLake.changes(spark, dir, from, to)
          .select((pinned.schema.fieldNames.toIndexedSeq :+ "change_kind")
            .map(fcol): _*)
      case Some(from) =>
        val adds = GraftLake.commits(dir)
          .filter(c => c.version > from && c.version <= to)
          .flatMap { c =>
            c.op match {
              case "append" | "stream-append" | "create" | "overwrite" => c.adds
              // an insert-only merge rewrites nothing (no removes) — its
              // adds are genuinely new rows, streamable as an append
              case "merge-into" if c.removes.isEmpty => c.adds
              // pure layout commits: same rows, no new data
              case "optimize" | "zorder" => Nil
              // metadata-only commits (rename/drop/add-column,
              // set-properties, and any future op that neither adds nor
              // removes files) never carry data — ALTER TABLE on a
              // streamed table must not kill the stream
              case _ if c.adds.isEmpty && c.removes.isEmpty => Nil
              case changeOp =>
                if (skipChangeCommits) Nil
                else throw new IllegalStateException(
                  s"lake stream at $dir hit a '$changeOp' commit (v${c.version}): " +
                    "row-rewriting commits cannot be streamed as appends — set " +
                    "option skipChangeCommits=true to skip them, or consume " +
                    "row-level changes via GraftLake.changes")
            }
          }
        if (adds.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], pinned.schema)
        else
          LakeFileIndex.scan(spark, pinned, adds)
    }
    GraftDatasetBridge.asStreaming(df)
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

object LakeStreamSource {
  private[lake] def withChangeKind(schema: StructType): StructType =
    StructType(schema.fields :+
      org.apache.spark.sql.types.StructField("change_kind",
        org.apache.spark.sql.types.StringType, nullable = false))
}
