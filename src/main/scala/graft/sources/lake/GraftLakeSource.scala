package graft.sources.lake

import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode}
import org.apache.spark.sql.execution.streaming.{Sink, Source}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

/**
 * Catalog/DDL addressing for [[GraftLake]] tables — `format("graft-lake")`
 * and `CREATE TABLE ... USING `graft-lake``, the surface every
 * Delta/Iceberg user expects (reference: the engine's tables are plain
 * catalog objects; here the lakehouse layer joins the catalog the same
 * way).
 *
 *  - READS resolve to the planner-integrated [[LakeFileIndex]] relation:
 *    `spark.table("t")` / `SELECT ... FROM t` plan a FileSourceScan whose
 *    file listing is footer-stats pruned by the pushed filters — the
 *    relation `GraftLake.read` projects over. Option `versionAsOf` pins
 *    time travel. A bare `count(*)` over this relation is answered from
 *    the log ([[graft.spark.LakeDmlRule]]).
 *  - WRITES (`df.write.format("graft-lake")`, `CREATE TABLE ... AS
 *    SELECT`, `saveAsTable`) map SaveModes onto the log: ErrorIfExists →
 *    create, Append → append (create if absent), Overwrite → one commit
 *    replacing the active file set, Ignore → no-op when present.
 *  - SQL DML (`INSERT INTO/OVERWRITE`, `UPDATE`, `DELETE FROM`) is
 *    rewritten onto the transactional GraftLake operations by
 *    [[graft.spark.LakeDmlRule]] (injected via GraftExtensions) — a
 *    direct parquet write into the table directory would bypass the log.
 *
 * An EXTERNAL `CREATE TABLE ... USING `graft-lake` OPTIONS (path ...)`
 * (no AS SELECT) requires the lake table to already exist at the path —
 * schema inference reads the log, as Delta does.
 */
class GraftLakeSource extends RelationProvider with CreatableRelationProvider
    with StreamSourceProvider with StreamSinkProvider with DataSourceRegister
    with org.apache.spark.sql.connector.catalog.TableProvider {

  // ── DSv2 TableProvider face ───────────────────────────────────────────
  // Implemented ONLY to flip `isV2Provider("graft-lake")`: that routes
  // CREATE / CTAS / REPLACE TABLE AS SELECT (including
  // `df.writeTo(...).create/createOrReplace()`) as v2 plans, which
  // [[graft.spark.LakeDmlRule]] intercepts into ATOMIC lake commits —
  // v1 resolution rejects REPLACE outright. The returned path table is
  // deliberately capability-free, so Spark's own v2 read/write gates
  // (BATCH_READ / BATCH_WRITE / MICRO_BATCH_READ checks) fall every
  // data path back to the v1 seams above — reads keep planning the
  // footer-stats-pruned FileSourceScan, writes keep landing as log
  // commits, streams keep the version-offset changelog source.

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap): StructType =
    GraftLake.snapshot(org.apache.spark.sql.SparkSession.active,
      GraftLakeSource.normalizePath(Option(options.get("path")).getOrElse(
        throw new IllegalArgumentException(
          "graft-lake requires a 'path' option (or LOCATION)")))).schema

  override def getTable(schema: StructType,
      partitioning: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: java.util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.Table =
    GraftLakePathTable(
      GraftLakeSource.normalizePath(Option(properties.get("path")).getOrElse("?")),
      schema)

  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    require(outputMode == OutputMode.Append(),
      s"graft-lake sink supports Append output mode only, got $outputMode")
    require(partitionColumns.isEmpty,
      "graft-lake sink does not take partitionBy (clustering is the lake's " +
        "layout tool: optimize / optimizeZOrder)")
    new LakeStreamSink(sqlContext.sparkSession, pathOf(parameters), parameters)
  }

  override def shortName(): String = "graft-lake"

  // ── streaming read: the table as a version-offset changelog ──────────
  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val base =
      GraftLake.snapshot(sqlContext.sparkSession, pathOf(parameters)).schema
    val s =
      if (parameters.getOrElse("readChangeFeed", "false").toBoolean)
        LakeStreamSource.withChangeKind(base)
      else base
    (shortName(), s)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new LakeStreamSource(sqlContext.sparkSession, pathOf(parameters), parameters)

  private def pathOf(parameters: Map[String, String]): String =
    GraftLakeSource.normalizePath(parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft-lake requires a 'path' option (or LOCATION)")))

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    // (path normalization note: the catalog qualifies locations to file:
    // URIs; the lake's log and commit fence are java.io.File-based, so
    // normalizePath brings those back to plain local paths — one canonical
    // spelling keeps the log, the data files, and the DML rule's idx.dir
    // matching)
    val dir = pathOf(parameters)
    val asOf = parameters.get("versionAsOf").map(_.toLong)
    val spark = sqlContext.sparkSession
    // BATCH change-data-feed (the Delta table_changes shape as reader
    // options): the net row-level delta of commits
    // [startingVersion, endingVersion] with change_kind ∈ {insert,
    // delete} — an updated row is its old value deleted + new value
    // inserted, pure layout commits net to zero, cost bounded by
    // changed-file volume (GraftLake.changes). endingVersion defaults to
    // latest; startingVersion >= 1 (the initial state is a snapshot, not
    // a change — read the table plainly for it).
    if (parameters.getOrElse("readChangeFeed", "false").toBoolean) {
      require(asOf.isEmpty, "readChangeFeed and versionAsOf are exclusive")
      val from = parameters.getOrElse("startingVersion",
        throw new IllegalArgumentException(
          "readChangeFeed=true requires startingVersion")).toLong
      val to = parameters.get("endingVersion").map(_.toLong)
        .getOrElse(GraftLake.latestVersion(dir))
      require(from >= 1, s"startingVersion must be >= 1, got $from " +
        "(the initial state is a snapshot read, not a change)")
      require(to >= from - 1, s"endingVersion $to before startingVersion $from")
      val df = GraftLake.changes(spark, dir, from - 1, to)
      val sqlc = sqlContext
      return new BaseRelation with org.apache.spark.sql.sources.TableScan {
        override def sqlContext: SQLContext = sqlc
        override def schema: StructType = df.schema
        override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
          df.rdd
      }
    }
    val idx = new LakeFileIndex(spark, dir, asOf)
    if (idx.hasDv) {
      // a BaseRelation is ONE scan — deletion vectors need the DML rule's
      // split-scan rewrite above it. Refuse to hand out a naked relation
      // in a session that cannot apply it (silent resurrection of deleted
      // rows otherwise); GraftLake.read works without extensions.
      val ruleInjected = spark.sessionState.analyzer
        .postHocResolutionRules.contains(graft.spark.LakeDmlRule)
      require(ruleInjected,
        s"lake table $dir carries deletion vectors; reading it through " +
          "format(\"graft-lake\")/spark.table requires " +
          "spark.sql.extensions=graft.spark.GraftExtensions (or use " +
          "GraftLake.read)")
    }
    LakeFileIndex.relationFor(spark, idx)
  }

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val dir = pathOf(parameters)
    val numFiles = parameters.get("numFiles").map(_.toInt).getOrElse(0)
    val exists = GraftLake.latestVersion(dir) >= 0
    mode match {
      case SaveMode.ErrorIfExists =>
        if (exists)
          throw new IllegalArgumentException(s"lake table already exists: $dir")
        GraftLake.create(data, dir, numFiles)
      case SaveMode.Ignore =>
        if (!exists) GraftLake.create(data, dir, numFiles)
      case SaveMode.Append =>
        if (exists) GraftLake.append(data, dir, numFiles)
        else GraftLake.create(data, dir, numFiles)
      case SaveMode.Overwrite =>
        if (exists) GraftLake.overwrite(data, dir, numFiles)
        else GraftLake.create(data, dir, numFiles)
    }
    createRelation(sqlContext, parameters)
  }
}

/** The capability-free v2 face of a PATH-addressed lake table (the
  * catalog-addressed face is [[GraftLakeTable]]): exists so the
  * TableProvider contract has something to return; every actual data
  * path falls back to v1 on the missing capabilities. */
final case class GraftLakePathTable(dir: String, tableSchema: StructType)
    extends org.apache.spark.sql.connector.catalog.Table {
  override def name(): String = s"graft-lake:$dir"
  override def schema(): StructType = tableSchema
  override def capabilities()
      : java.util.Set[org.apache.spark.sql.connector.catalog.TableCapability] =
    java.util.Collections.emptySet()
}

object GraftLakeSource {
  /** The catalog qualifies table locations to `file:` URIs; the lake's
    * log and commit fence are `java.io.File`-based, so bring those back
    * to plain local paths. One canonical spelling keeps the log, the
    * data files, and the DML rule's `idx.dir` matching. */
  def normalizePath(raw: String): String =
    if (raw.startsWith("file:")) new java.net.URI(raw).getPath else raw

  /** The lake root dir behind a catalog table, if it IS a graft-lake
    * table (CREATE TABLE stores the path in the storage options; an
    * explicit LOCATION lands in locationUri). */
  def lakeDirOf(ct: org.apache.spark.sql.catalyst.catalog.CatalogTable)
      : Option[String] =
    if (!ct.provider.exists(_.equalsIgnoreCase("graft-lake"))) None
    else ct.storage.properties.get("path")
      .orElse(ct.storage.locationUri.map(_.toString))
      .map(normalizePath)
}
