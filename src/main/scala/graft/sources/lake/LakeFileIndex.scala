package graft.sources.lake

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/**
 * Planner-integrated lake reads: a Spark [[FileIndex]] over a
 * [[GraftLake]] snapshot, so footer-stats FILE pruning happens inside
 * query planning — `GraftLake.read(...).filter(pred)` plans a
 * FileSourceScan over only the stat-overlapping files, no special scan
 * API needed (the same integration seam Delta's TahoeFileIndex uses).
 * Every lake read plans through it: [[LakeFileIndex.scan]] builds the
 * frame for `GraftLake.read` and every internal reader (DML victims,
 * MERGE, OPTIMIZE/ZORDER, the change feed, the stream source, the MoR
 * positions scan), and [[GraftLakeSource]] hands the catalog the bare
 * relation. No read lists the table directory: the log is the listing.
 * `FileSourceStrategy` hands the pushed data filters to [[listFiles]];
 * anything the stats cannot disprove is listed, and the filters still
 * run as residuals — pruning is planning-time acceleration, never a
 * correctness dependency. The index pins the snapshot taken at
 * construction (snapshot isolation under concurrent writers; build a
 * new one to advance).
 *
 * Deletion vectors: when the snapshot carries DV'd files, a SINGLE
 * FileSourceScan cannot subtract per-file row positions, so the scan is
 * SPLIT — `dvSubset` restricts one index to the clean files and a twin
 * to the DV-carrying ones; [[LakeFileIndex.scan]] (which the DML rule
 * also calls, for catalog reads) unions the clean scan with the DV scan
 * filtered by the codegen'd [[DvDeleted]] position predicate. BOTH
 * branches keep full planning-time footer-stats pruning — row-level
 * deletes are orthogonal to file-level skipping.
 */
final class LakeFileIndex private[lake] (spark: SparkSession, val dir: String,
    asOf: Option[Long], preloaded: Option[GraftLake.Snapshot],
    private[lake] val dvSubset: Option[Boolean]) extends FileIndex {

  def this(spark: SparkSession, dir: String, asOf: Option[Long] = None) =
    this(spark, dir, asOf, None, None)

  private[graft] val snap: GraftLake.Snapshot =
    preloaded.getOrElse(GraftLake.snapshot(spark, dir, asOf))

  // any scan planned over this index resolves parquet columns by field id
  // (rename-stable); enabling the conf is benign for id-less schemas
  GraftLake.ensureFieldIdRead(spark)

  /** The files this index serves: all, clean-only, or DV-carrying-only. */
  private def subsetFiles: Seq[GraftLake.AddFile] = dvSubset match {
    case None => snap.files
    case Some(withDv) => snap.files.filter(_.dv.isDefined == withDv)
  }

  private[graft] def isAllSubset: Boolean = dvSubset.isEmpty
  private[graft] def hasDv: Boolean = snap.files.exists(_.dv.isDefined)

  /** The snapshot restricted to the files this index actually serves —
    * what log-fed column stats must fold over. Folding the FULL snapshot
    * on a DV split-scan branch counts the other branch's rows too: a
    * branch's nullCount could then exceed its rowCount, and CBO's
    * IsNotNull selectivity (1 − nullCount/rowCount) goes negative. */
  private[graft] def subsetSnap: GraftLake.Snapshot =
    if (dvSubset.isEmpty) snap else snap.copy(files = subsetFiles)

  def schema: StructType = snap.schema

  override def rootPaths: Seq[Path] = Seq(new Path(dir))

  override def partitionSchema: StructType = new StructType()

  override def inputFiles: Array[String] =
    subsetFiles.map(f => GraftLake.absPath(dir, f.path)).toArray

  override def refresh(): Unit = () // immutable snapshot by design

  /** Live rows this index serves — log-exact, DV-adjusted. */
  private[graft] def liveRows: Long =
    subsetFiles.map(f => f.rows - f.dv.map(_.cardinality).getOrElse(0L)).sum

  /** DV-adjusted size: a file's bytes scaled by its live-row fraction, so
    * a mostly-deleted MoR table sizes (and broadcasts) by what its scan
    * actually returns, not by raw parquet bytes that include dead rows. */
  override def sizeInBytes: Long = subsetFiles.map { f =>
    f.dv match {
      case Some(d) if f.rows > 0 =>
        math.max(1L, f.bytes * (f.rows - d.cardinality) / f.rows)
      case _ => f.bytes
    }
  }.sum

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept = GraftLake.overlappingResolved(
      snap.copy(files = subsetFiles), dataFilters)
    val statuses = kept.map { a =>
      // the DV descriptor rides HERE — per-file metadata, the Delta
      // shape: it flows into PartitionedFile.otherConstantMetadataColumn
      // Values and materializes as the _metadata.__dv_path constant
      // column ([[GraftParquetFileFormat]]), so each task carries only
      // its own split's descriptors and the PLAN carries none. Clean
      // files attach nothing and read the column as NULL.
      val meta: Map[String, Any] = a.dv match {
        case Some(d) =>
          Map(GraftParquetFileFormat.DvPathField -> GraftLake.absPath(dir, d.path))
        case None => Map.empty
      }
      FileStatusWithMetadata(
        new FileStatus(a.bytes, false, 1, 128L << 20, 0L,
          new Path(GraftLake.absPath(dir, a.path))),
        meta)
    }
    Seq(PartitionDirectory(InternalRow.empty, statuses))
  }
}

object LakeFileIndex {

  /** The relation over `idx` — what [[scan]] builds on and what
    * [[GraftLakeSource]] hands the catalog, so `spark.table` /
    * `SELECT ... FROM t` plan the same pruned FileSourceScan. */
  private[graft] def relationFor(spark: SparkSession,
      idx: LakeFileIndex): HadoopFsRelation =
    HadoopFsRelation(
      location = idx,
      partitionSchema = new StructType(),
      // nullable at every depth, as Spark's own file sources declare their
      // data schema: an old file lacking an evolved column reads NULL
      // there, so a NOT NULL the optimizer trusted would fold `IS NULL`
      // filters to false
      dataSchema = org.apache.spark.sql.GraftSchemaBridge.asNullable(idx.schema),
      bucketSpec = None,
      // parquet + the _metadata.__dv_path per-file constant column —
      // identical scan behavior for DV-less tables (the column is just
      // never requested) — and the logical→physical name translation
      // for renamed id-less columns (empty map = no-op)
      fileFormat = new GraftParquetFileFormat(
        GraftLake.physicalMapOf(idx.schema)),
      options = Map("mergeSchema" -> "true"))(spark)

  /** The lake's one scan builder: `files` of `snap` as a frame whose
    * columns are `lead` (resolved against the scan, e.g. `_metadata`
    * fields) followed by the snapshot schema, in snapshot order. Old
    * files missing an evolved column null-fill. Without deletion vectors
    * it is one relation; with them, the clean files' scan ∪ (the DV
    * files' scan − deleted positions), each branch an index that shares
    * the pinned snapshot and keeps planning-time file pruning.
    *
    * The frame is always a projection over the relation, never the bare
    * relation: the DML rule answers `count(*)` from the log only for a
    * bare lake relation (`format("graft-lake")`), so a count over this
    * frame scans the files. */
  private[graft] def scan(spark: SparkSession, snap: GraftLake.Snapshot,
      files: Seq[GraftLake.AddFile], lead: Seq[Column] = Nil): DataFrame = {
    val served = snap.copy(files = files)
    val cols = lead ++ snap.schema.fieldNames.map(col)
    def frame(dvSubset: Option[Boolean]): DataFrame =
      spark.baseRelationToDataFrame(relationFor(spark,
        new LakeFileIndex(spark, snap.dir, None, Some(served), dvSubset)))
    if (!files.exists(_.dv.isDefined)) frame(None).select(cols: _*)
    else frame(Some(false)).select(cols: _*)
      .union(frame(Some(true)).where(!GraftLake.dvDeletedCol()).select(cols: _*))
  }
}
