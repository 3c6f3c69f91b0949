package graft.spark

import graft.sources.lake.{GraftLake, GraftLakeTable, LakeFileIndex}
import org.apache.spark.sql.{Column, GraftColumnBridge, GraftDatasetBridge, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{EliminateSubqueryAliases, ResolvedIdentifier, UnresolvedAttribute}
import org.apache.spark.sql.catalyst.catalog.{CatalogStatistics, CatalogTable}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, AttributeSet, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{AppendData, Assignment, CreateTable, CreateTableAsSelect, DeleteAction, DeleteFromTable, InsertAction, InsertIntoStatement, InsertStarAction, LogicalPlan, MergeAction, MergeIntoTable, OverwriteByExpression, Project, ReplaceTableAsSelect, TableSpec, TableSpecBase, UnresolvedTableSpec, UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.catalyst.plans.logical.{Histogram, HistogramBin}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{col, lit}

/**
 * SQL DML over graft-lake catalog tables, the seam Delta's DeltaAnalysis
 * rule uses: a post-hoc resolution rule that re-routes DML plans whose
 * target is a lake table onto the TRANSACTIONAL lake operations.
 *
 * Lake targets arrive in two shapes:
 *  - a v1 `LogicalRelation` over [[LakeFileIndex]] (plain
 *    `format("graft-lake")` reads, sessions without the DSv2 catalog);
 *  - a `DataSourceV2Relation` over [[GraftLakeTable]] (sessions with
 *    `spark.sql.catalog.spark_catalog=graft.sources.lake.GraftLakeCatalog`)
 *    — required for ALTER TABLE and MERGE INTO, which Spark rejects for
 *    v1 tables during resolution.
 *
 * Rewrites (matched parent-first, so write/DML nodes capture their target
 * before the naked-relation fallback below converts it):
 *  - `INSERT INTO` / `INSERT OVERWRITE`: v1 arrives as Spark's converted
 *    raw-parquet write (`InsertIntoHadoopFsRelationCommand`) — which would
 *    land files the log never references — v2 as `AppendData` /
 *    `OverwriteByExpression`; both become log-fenced append/overwrite
 *    commits.
 *  - `DELETE FROM` / `UPDATE`: rewritten into the lake's copy-on-write
 *    delete/update, resolved-attribute conditions mapped back to by-name
 *    columns (the rewrite re-reads the victim files, so the original
 *    exprIds do not survive).
 *  - `MERGE INTO`: full clause set (matched update/delete, not-matched
 *    insert, not-matched-by-source update/delete, star forms, per-clause
 *    conditions) onto [[GraftLake.mergeInto]]'s single-join CoW commit.
 *  - naked v2 lake relations (SELECT paths) fall back to the
 *    planner-integrated [[LakeFileIndex]] v1 relation — exprId-preserving,
 *    so the surrounding resolved plan is untouched — keeping every read on
 *    the footer-stats-pruned FileSourceScan.
 *
 * Inject via `spark.sql.extensions=graft.spark.GraftExtensions`.
 */
object LakeDmlRule extends Rule[LogicalPlan] {

  /** The lake table behind a resolved relation plan (either shape). */
  private def lakeTarget(plan: LogicalPlan): Option[(String, Option[CatalogTable])] =
    EliminateSubqueryAliases(plan) match {
      case LogicalRelation(r: HadoopFsRelation, _, table, _, _) =>
        r.location match {
          case idx: graft.sources.lake.LakeFileIndex => Some((idx.dir, table))
          case _ => None
        }
      case DataSourceV2Relation(t: GraftLakeTable, _, _, _, _, _) =>
        Some((t.dir, Some(t.ct)))
      case _ => None
    }

  /** Swap a v2 lake relation for the v1 [[LakeFileIndex]] relation with
    * the SAME output attributes — the resolved plan above it never
    * notices (Delta's DeltaTableV2 → v1 fallback shape). Reader-option
    * time travel (`spark.read.option("versionAsOf", 3).table("t")`)
    * needs no handling here: Spark turns those options into a
    * TimeTravelSpec and calls the catalog's time-travel `loadTable`, so
    * `t.asOf` already carries the pinned version AND the plan resolved
    * under that snapshot's schema (rename-safe by construction).
    *
    * When the snapshot carries DELETION VECTORS, one FileSourceScan
    * cannot subtract row positions — the relation becomes the DV
    * split-scan plan (clean scan ∪ DV scan − deleted positions, both
    * file-pruned) with the original output exprIds re-pinned by Alias,
    * so the surrounding resolved plan still never notices. */
  private def toV1(r: DataSourceV2Relation, t: GraftLakeTable): LogicalPlan = {
    val spark = SparkSession.active
    val idx = new LakeFileIndex(spark, t.dir, t.asOf)
    if (idx.hasDv) dvPlan(spark, idx, r.output, Some(t.ct))
    else new LogicalRelation(LakeFileIndex.relationFor(spark, idx),
      r.output, Some(withLogStats(t.ct, idx)), false, None)
  }

  /** Log-exact, DV-adjusted statistics for the snapshot subset `idx`
    * serves — the lake's ANALYZE-free CBO feed. The transaction log
    * already knows every file's row count and every DV's cardinality, so
    * catalog reads plan with TRUE sizes: the broadcast threshold sees
    * live bytes (a mostly-deleted MoR dim broadcasts where raw parquet
    * bytes would force a sort-merge), and with CBO / plan-stats enabled
    * the join reorderer sees exact cardinalities — no ANALYZE TABLE pass
    * over 100 TB required. Stamped onto the IN-PLAN CatalogTable copy
    * only; nothing is persisted to the metastore (the next snapshot
    * recomputes from its own log state). */
  private def withLogStats(ct: CatalogTable, idx: LakeFileIndex): CatalogTable = {
    // rowCount/sizeInBytes/min/max/nullCount are log-exact and always
    // fresher than anything ANALYZE wrote to the metastore; but ANALYZE's
    // ndv/avgLen/maxLen/histogram are DATA-derived and richer than the
    // log's bounds — inherit those fields per column when present
    // toPlanStats only reads colStats under CBO/plan-stats, so skip the
    // O(files × columns) driver-side fold when neither is on (the
    // default) — at 10⁶ files that fold is real planning latency
    val conf = org.apache.spark.sql.internal.SQLConf.get
    val merged = if (!conf.cboEnabled && !conf.planStatsEnabled) Map.empty[String,
      org.apache.spark.sql.catalyst.catalog.CatalogColumnStat]
    else {
      val analyzed = ct.stats.map(_.colStats).getOrElse(Map.empty)
      logColStats(idx).map { case (c, fresh) =>
        c -> analyzed.get(c).map(a => fresh.copy(
          distinctCount = a.distinctCount.orElse(fresh.distinctCount),
          avgLen = a.avgLen, maxLen = a.maxLen,
          histogram = a.histogram.orElse(fresh.histogram)))
          .getOrElse(fresh)
      }
    }
    ct.copy(stats = Some(CatalogStatistics(
      sizeInBytes = BigInt(idx.sizeInBytes),
      rowCount = Some(BigInt(idx.liveRows)),
      colStats = merged)))
  }

  /** Column-level stats folded from the log's per-file footer min/max —
    * what lets CBO's FilterEstimation size a range predicate on a lake
    * table from metadata. min/max attach ONLY when the schema type's
    * CatalogColumnStat external string format matches the footer's stat
    * kind (a DateType column's footer stats are epoch-day "long"s, but
    * its external stat format is "2020-01-01" — attaching the raw long
    * would make toPlanStat throw at planning time); nullCount is
    * format-agnostic and always safe. */
  private def logColStats(idx: LakeFileIndex)
      : Map[String, org.apache.spark.sql.catalyst.catalog.CatalogColumnStat] = {
    import org.apache.spark.sql.types._
    val byName = idx.schema.fields.map(f => f.name -> f.dataType).toMap
    // fold over the index's SUBSET, not the full snapshot: the DV split
    // scan stamps each branch with subset rowCounts, and column stats
    // must describe the same rows or nullCount can exceed rowCount
    val sub = idx.subsetSnap
    val perFile = GraftLake.perFileNumericStats(sub)
    // MoR staleness guard: footer min/max envelopes stay full-file-wide
    // while DVs grow, and FilterEstimation assumes uniformity over the
    // envelope — on a mostly-deleted subset whose live rows concentrate
    // in a sub-range, a range predicate's rowCount under-estimates by up
    // to the dead fraction (the direction that wrongly BROADCASTS a big
    // side). Past 50% deleted the envelopes are more dead than alive:
    // stop attaching min/max/histogram and let estimates fall back to
    // the exact rowCount with default selectivity. rowCount/sizeInBytes
    // stay DV-exact; file pruning is per-file stats and unaffected;
    // OPTIMIZE victims every DV-carrying file, so the steady state
    // restores full stats at the next compaction.
    val rawRows = sub.files.map(_.rows).sum
    val mostlyLive = rawRows == 0 || idx.liveRows * 2 >= rawRows
    GraftLake.tableColStats(sub).map { case (c, (kind, mn, mx, nulls)) =>
      val formatsMatch = mostlyLive && ((byName.get(c), kind) match {
        case (Some(ByteType | ShortType | IntegerType | LongType), "long") => true
        case (Some(FloatType | DoubleType), "double") => true
        case _ => false
      })
      // FilterEstimation refuses to engage without an ndv. The log gives
      // a PRINCIPLED upper bound for integers — ndv <= max-min+1 (tight
      // for dense keys AND for low-cardinality flags) — capped by the
      // non-null row count; other types fall back to the non-null count
      // (equality estimates turn optimistic, range estimates are
      // ndv-independent). An upper bound keeps size estimates on the
      // safe (over-estimating) side for the broadcast decision.
      val nonNull = nulls.map(idx.liveRows - _).getOrElse(idx.liveRows)
      val ndv: Option[BigInt] = (formatsMatch, kind, mn, mx) match {
        case (true, "long", Some(lo), Some(hi)) =>
          // range in BigInt: a Long-space subtraction overflows for
          // extreme bounds (min near Long.MinValue, max near MaxValue),
          // wrapping negative and collapsing the ndv to 1 via .max(1) —
          // a severe CBO underestimate
          Some((BigInt(hi.toLong) - BigInt(lo.toLong) + 1)
            .min(BigInt(nonNull)).max(1))
        case _ if nonNull >= 0 => Some(BigInt(nonNull).max(1))
        case _ => None
      }
      c -> org.apache.spark.sql.catalyst.catalog.CatalogColumnStat(
        distinctCount = ndv,
        min = if (formatsMatch) mn else None,
        max = if (formatsMatch) mx else None,
        nullCount = nulls.map(BigInt(_)),
        histogram = if (formatsMatch) perFile.get(c)
          .flatMap { case (k, fs) => fileHistogram(k, fs) } else None)
    }
  }

  /** The ANALYZE-free histogram: on a CLUSTERED column the per-file
    * footer envelopes are disjoint ranges holding near-equal row counts
    * — exactly the bins of an equi-height histogram, read from the log
    * for free. Attached only when the envelopes really are disjoint
    * (sorted by lo, each lo ≥ previous hi) and near-equal (max/min file
    * rows ≤ 4×) — i.e. only where the equi-height assumption Spark's
    * FilterEstimation bakes in actually holds; unclustered columns keep
    * plain min/max. This is what makes a range predicate on a z-ordered
    * / range-partitioned 100 TB table estimate by actual row DENSITY,
    * not linear interpolation over the whole domain. */
  private def fileHistogram(kind: String,
      files: Seq[(Double, Double, Long)]): Option[Histogram] = {
    if (files.size < 2) return None
    val sorted = files.sortBy(_._1)
    val disjoint = sorted.iterator.sliding(2).withPartial(false)
      .forall { w => w(1)._1 >= w(0)._2 }
    if (!disjoint) return None
    val live = sorted.filter(_._3 > 0)
    if (live.size < 2) return None
    if (live.map(_._3).max > 4L * live.map(_._3).min) return None
    // bound the bin count the way ANALYZE does (default 254 buckets)
    val target = 254
    val merged = if (live.size <= target) live else {
      val per = math.ceil(live.size.toDouble / target).toInt
      live.grouped(per).map(g => (g.head._1, g.last._2, g.map(_._3).sum)).toSeq
    }
    val bins = merged.map { case (lo, hi, rows) =>
      val ndv = if (kind == "long")
        math.max(1L, math.min(rows, (hi - lo).toLong + 1)) else math.max(1L, rows)
      HistogramBin(lo, hi, ndv)
    }
    val total = merged.map(_._3).sum
    Some(Histogram(total.toDouble / merged.size, bins.toArray))
  }

  /** Marks [[dvPlan]]'s output with the snapshot it reads whole: a
    * `format("graft-lake")` frame over a DV table is rewritten when
    * `load()` analyzes it, so a later `count()` sees this plan, not the
    * bare relation, and still folds to the log. */
  private val DvScanOf =
    org.apache.spark.sql.catalyst.trees.TreeNodeTag[GraftLake.Snapshot]("graft.lake.dvScanOf")

  /** The DV split-scan plan re-pinned to `wanted` output attributes.
    * The inner relations carry `ct` so catalog machinery that walks the
    * resolved plan (e.g. `refreshTable`'s cache invalidation, which calls
    * `catalogTable.get` on every LogicalRelation) keeps working. */
  private def dvPlan(spark: SparkSession, idx: LakeFileIndex,
      wanted: Seq[AttributeReference],
      ct: Option[CatalogTable]): LogicalPlan = {
    val inner0 = LakeFileIndex.scan(spark, idx.snap, idx.snap.files)
      .queryExecution.analyzed
    val inner = ct match {
      case Some(c) => inner0.transform {
        // per-branch stats: each split relation reports ITS subset's
        // live rows/bytes, so the union's estimate sums to the table's
        case l @ LogicalRelation(r: HadoopFsRelation, _, _, _, _) =>
          val stamped = r.location match {
            case i: LakeFileIndex => withLogStats(c, i)
            case _ => c
          }
          l.copy(catalogTable = Some(stamped))
        case l: LogicalRelation => l.copy(catalogTable = Some(c))
      }
      case None => inner0
    }
    require(inner.output.length == wanted.length &&
      inner.output.zip(wanted).forall { case (h, w) =>
        h.name.equalsIgnoreCase(w.name) },
      s"DV scan column mismatch: ${inner.output.map(_.name)} vs ${wanted.map(_.name)}")
    val p = Project(wanted.zip(inner.output).map { case (want, have) =>
      Alias(have, want.name)(exprId = want.exprId, qualifier = want.qualifier)
    }, inner)
    p.setTagValue(DvScanOf, idx.snap)
    p
  }

  /** An all-files [[LakeFileIndex]] relation whose snapshot carries DVs —
    * the one shape that must not reach execution as a naked scan. */
  private object DvLakeRelation {
    def unapply(plan: LogicalPlan): Option[(LogicalRelation, LakeFileIndex)] =
      plan match {
        case lr @ LogicalRelation(r: HadoopFsRelation, _, _, _, _) =>
          r.location match {
            case idx: LakeFileIndex if idx.isAllSubset && idx.hasDv =>
              Some((lr, idx))
            case _ => None
          }
        case _ => None
      }
  }

  /** Convert every naked v2 lake relation inside `plan` (used on command
    * QUERIES too — commands hold them as innerChildren, which transforms
    * never descend into, so conversion must happen at capture time) —
    * and every v1 lake relation needing the DV split (same reason). */
  private def convert(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case r @ DataSourceV2Relation(t: GraftLakeTable, _, _, _, _, _) => toV1(r, t)
    case DvLakeRelation(lr, idx) =>
      dvPlan(SparkSession.active, idx, lr.output.collect {
        case a: AttributeReference => a }, lr.catalogTable)
  }

  /** Provider / explicit location of a v2 table spec, both pre- and
    * post-ResolveTableSpec. */
  private def specProvider(spec: TableSpecBase): Option[String] = spec match {
    case s: TableSpec => s.provider
    case s: UnresolvedTableSpec => s.provider
    case _ => None
  }
  private def isLake(spec: TableSpecBase): Boolean =
    specProvider(spec).exists(_.equalsIgnoreCase("graft-lake"))
  /** Spark 4's native `CREATE TABLE ... CLUSTER BY (c1, c2)` arrives as
    * a ClusterByTransform in the v2 plan's partitioning: map it onto the
    * lake's clusterBy property (same semantics, SQL-standard spelling).
    * Returns None for any OTHER partitioning (hive-style PARTITIONED BY
    * stays rejected — clustering subsumes it here). */
  private def clusterCols(partitioning: Seq[org.apache.spark.sql.connector.expressions.Transform])
      : Option[Map[String, String]] = partitioning match {
    case Seq() => Some(Map.empty)
    case Seq(org.apache.spark.sql.connector.expressions.ClusterByTransform(refs)) =>
      Some(Map(GraftLake.ClusterByKey ->
        refs.map(_.fieldNames.mkString(".")).mkString(",")))
    case _ => None
  }

  private def specProps(spec: TableSpecBase): Map[String, String] = spec match {
    case s: TableSpec => s.properties
    case s: UnresolvedTableSpec => s.properties
    case _ => Map.empty
  }

  private def specPath(spec: TableSpecBase): Option[String] = spec match {
    case s: TableSpec => s.location.orElse(s.options.get("path"))
      .map(graft.sources.lake.GraftLakeSource.normalizePath)
    case s: UnresolvedTableSpec => GraftSqlParser.pathOf(s)
    case _ => None
  }
  private def partsOf(ident: org.apache.spark.sql.connector.catalog.Identifier)
      : Seq[String] = ident.namespace.toSeq :+ ident.name

  /** Exact live row count of a bare lake relation, from the LOG alone:
    * Σ (AddFile.rows − dv.cardinality). The commit-time footer stats make
    * this exact by construction, DVs included — a count(*) over a 100 TB
    * table is a driver-side metadata fold, zero tasks. */
  private def lakeLiveCount(plan: LogicalPlan): Option[Long] =
    EliminateSubqueryAliases(plan) match {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) =>
        r.location match {
          case idx: LakeFileIndex if idx.isAllSubset => Some(liveRows(idx.snap))
          case _ => None
        }
      case DataSourceV2Relation(t: GraftLakeTable, _, _, _, _, _) =>
        Some(liveRows(GraftLake.snapshot(SparkSession.active, t.dir, t.asOf)))
      case p => p.getTagValue(DvScanOf).map(liveRows)
    }
  private def liveRows(snap: GraftLake.Snapshot): Long =
    snap.files.map(f => f.rows - f.dv.map(_.cardinality).getOrElse(0L)).sum

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    // ── SELECT count(*) FROM lake_table: answered from the transaction
    // log (exact, DV-aware) — no scan, no tasks. Any filter / grouping /
    // extra aggregate falls through to normal planning. Conf-gated ON;
    // disable with spark.graft.lake.metadataCount.enabled=false.
    case org.apache.spark.sql.catalyst.plans.logical.Aggregate(Nil,
        Seq(a @ Alias(org.apache.spark.sql.catalyst.expressions.aggregate
          .AggregateExpression(org.apache.spark.sql.catalyst.expressions
          .aggregate.Count(Seq(org.apache.spark.sql.catalyst.expressions
          .Literal(1, _))), _, false, None, _), _)), child, _)
        if SparkSession.active.conf.get(
          "spark.graft.lake.metadataCount.enabled", "true") == "true" &&
          lakeLiveCount(child).isDefined =>
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
        Seq(a.toAttribute),
        Seq(org.apache.spark.sql.catalyst.InternalRow(lakeLiveCount(child).get)))
    // ── v2 DDL routes (the TableProvider face flips isV2Provider, so
    // CREATE / CTAS / REPLACE ... AS SELECT — including
    // df.writeTo(...).create/createOrReplace() — arrive as v2 plans):
    // each lands as ONE atomic lake commit + a mirrored metastore entry,
    // instead of v2's catalog createTable + capability-gated write (and
    // instead of v2 REPLACE's non-atomic drop+create)
    case CreateTable(ResolvedIdentifier(_, ident), cols, parts, spec, ignore)
        if isLake(spec) && clusterCols(parts).isDefined =>
      LakeCreateTableCommand(partsOf(ident), specPath(spec),
        org.apache.spark.sql.types.StructType(cols.map(c =>
          org.apache.spark.sql.types.StructField(c.name, c.dataType, c.nullable))),
        None, ignore, specProps(spec) ++ clusterCols(parts).get)
    case CreateTableAsSelect(ResolvedIdentifier(_, ident), parts, query,
        spec, _, ignore, _)
        if isLake(spec) && query.resolved && clusterCols(parts).isDefined =>
      LakeCreateTableCommand(partsOf(ident), specPath(spec),
        new org.apache.spark.sql.types.StructType(), Some(convert(query)),
        ignore, specProps(spec) ++ clusterCols(parts).get)
    case ReplaceTableAsSelect(ResolvedIdentifier(_, ident), parts, query,
        spec, _, orCreate, _)
        if isLake(spec) && query.resolved && clusterCols(parts).isDefined =>
      LakeReplaceTableCommand(partsOf(ident), specPath(spec),
        convert(query), orCreate, specProps(spec) ++ clusterCols(parts).get)
    // ── INSERT, v1 path: DataSourceAnalysis (earlier in the post-hoc
    // batch) has already converted the insert; intercept the raw-parquet
    // write
    case InsertIntoHadoopFsRelationCommand(_, _, _, _, _, _, _, query, mode,
        table, Some(idx: graft.sources.lake.LakeFileIndex), _) =>
      LakeInsertCommand(idx.dir, convert(query), mode == SaveMode.Overwrite, table)
    // defensive twin in case the statement reaches us unconverted
    case InsertIntoStatement(target, _, _, query, overwrite, _, _)
        if query.resolved && lakeTarget(target).isDefined =>
      val (dir, table) = lakeTarget(target).get
      LakeInsertCommand(dir, convert(query), overwrite, table)
    // ── INSERT, v2 path (DSv2 catalog): ResolveInsertInto produced v2
    // write nodes over the capability-free GraftLakeTable
    case AppendData(r: DataSourceV2Relation, query, _, _, _, _)
        if r.table.isInstanceOf[GraftLakeTable] =>
      val t = r.table.asInstanceOf[GraftLakeTable]
      LakeInsertCommand(t.dir, convert(query), overwrite = false, Some(t.ct))
    case OverwriteByExpression(r: DataSourceV2Relation, _, query, _, _, _, _)
        if r.table.isInstanceOf[GraftLakeTable] =>
      val t = r.table.asInstanceOf[GraftLakeTable]
      LakeInsertCommand(t.dir, convert(query), overwrite = true, Some(t.ct))
    // ── DELETE / UPDATE (either relation shape)
    case DeleteFromTable(target, condition) if lakeTarget(target).isDefined =>
      val (dir, table) = lakeTarget(target).get
      LakeDeleteCommand(dir, condition, table)
    case UpdateTable(target, assignments, condition)
        if lakeTarget(target).isDefined =>
      val (dir, table) = lakeTarget(target).get
      val sets = assignments.map {
        case Assignment(key: AttributeReference, value) => key.name -> value
        case Assignment(other, _) => throw new IllegalArgumentException(
          s"graft-lake UPDATE supports top-level columns only, got $other")
      }
      LakeUpdateCommand(dir, sets, condition, table)
    // ── MERGE INTO (v2 catalog target; Spark rejects v1 merge targets
    // during resolution)
    case m @ MergeIntoTable(target, source, cond, matched, notMatched, nmbs,
        schemaEvolution) if m.resolved && lakeTarget(target).isDefined =>
      val (dir, table) = lakeTarget(target).get
      LakeMergeCommand(dir, target.output.collect { case a: AttributeReference => a },
        convert(source), cond, matched, notMatched, nmbs, schemaEvolution, table)
    // ── naked v2 lake relations (SELECT paths): v1 fallback. Parent
    // nodes were matched above first, so only pure-read relations remain.
    case r @ DataSourceV2Relation(t: GraftLakeTable, _, _, _, _, _) =>
      toV1(r, t)
    // ── naked v1 lake relations over a DV-carrying snapshot (SELECT via
    // spark.table / format("graft-lake")): split the scan so deleted
    // positions subtract. The rewrite's inner relations are SUBSET
    // indexes, which this case never matches — no reapplication loop.
    case DvLakeRelation(lr, idx) =>
      dvPlan(SparkSession.active, idx, lr.output.collect {
        case a: AttributeReference => a }, lr.catalogTable)
  }

  /** Resolved exprIds don't survive the CoW re-read of victim files —
    * map attributes back to by-name references before handing the
    * condition to the lake API. */
  private[spark] def byName(e: Expression): Column =
    GraftColumnBridge.column(e.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    })

  private[spark] def refresh(spark: SparkSession,
      table: Option[CatalogTable]): Unit =
    // drop the cached relation (its LakeFileIndex pins the pre-DML
    // snapshot) so the next SELECT resolves a fresh one
    table.foreach(t => spark.catalog.refreshTable(t.identifier.quotedString))
}

/** INSERT INTO (append) / INSERT OVERWRITE as log-fenced lake commits. */
case class LakeInsertCommand(dir: String, query: LogicalPlan,
    overwrite: Boolean, table: Option[CatalogTable])
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(query)
  override def run(spark: SparkSession): Seq[Row] = {
    val df = GraftDatasetBridge.ofRows(spark, query)
    if (overwrite) GraftLake.overwrite(df, dir) else GraftLake.append(df, dir)
    LakeDmlRule.refresh(spark, table)
    Seq.empty
  }
}

/** DELETE FROM as the lake's delete — copy-on-write by default, or
  * merge-on-read (deletion vectors) when the session conf
  * `spark.graft.lake.deleteMode=mor` is set (Delta's
  * `delta.enableDeletionVectors` knob, session-scoped): point deletes
  * then cost O(matched rows) of bitmap instead of rewriting victim
  * files. */
case class LakeDeleteCommand(dir: String, condition: Expression,
    table: Option[CatalogTable]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val mor = spark.conf.getOption("spark.graft.lake.deleteMode")
      .exists(_.equalsIgnoreCase("mor"))
    if (mor) GraftLake.deleteMoR(spark, dir, LakeDmlRule.byName(condition))
    else GraftLake.delete(spark, dir, LakeDmlRule.byName(condition))
    LakeDmlRule.refresh(spark, table)
    Seq.empty
  }
}

/** UPDATE as the lake's update — copy-on-write by default, merge-on-read
  * (DV the old rows + append just the updated rows, one commit) when the
  * session conf `spark.graft.lake.updateMode=mor` is set. */
case class LakeUpdateCommand(dir: String, sets: Seq[(String, Expression)],
    condition: Option[Expression], table: Option[CatalogTable])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val mor = spark.conf.getOption("spark.graft.lake.updateMode")
      .exists(_.equalsIgnoreCase("mor"))
    val cond = condition.map(LakeDmlRule.byName).getOrElse(lit(true))
    val assigns = sets.map { case (n, v) => n -> LakeDmlRule.byName(v) }
    if (mor) GraftLake.updateMoR(spark, dir, cond, assigns)
    else GraftLake.update(spark, dir, cond, assigns)
    LakeDmlRule.refresh(spark, table)
    Seq.empty
  }
}

/** MERGE INTO as [[GraftLake.mergeInto]]'s copy-on-write commit. The
  * resolved condition/clause expressions reference target and source by
  * exprId; `tx` maps them onto the `t.` / `s.` aliases mergeInto joins
  * under (by-name, since the CoW re-read mints fresh exprIds).
  *
  * WITH SCHEMA EVOLUTION: the normal path is Spark's own analyzer —
  * [[GraftLakeTable]] declares `AUTOMATIC_SCHEMA_EVOLUTION`, so
  * `ResolveMergeIntoSchemaEvolution` computes the new columns (from star
  * actions AND explicit assignments referencing source-only columns),
  * calls the catalog's `alterTable` (one add-column metadata commit per
  * evolving merge, Spark's contract for this capability), reloads the
  * relation, and every reference then resolves against the evolved
  * schema — by the time this command captures the plan, `targetAttrs`
  * already carries the new columns and `newCols` below is empty. The
  * manual computation remains as a fallback for plans that reach us
  * un-evolved; it now rides [[GraftLake.mergeInto]]'s `newColumns`
  * parameter, so THAT path lands schema change + rewrite in ONE atomic
  * commit. Star actions are re-widened to populate fallback columns
  * (`UpdateAction.fromStar` marks the update case; an insert is treated
  * as star-shaped when its assignments are exactly a full by-name copy
  * of source attributes, which is what `INSERT *` expands to — an
  * explicit column list spelling out that identical copy is
  * indistinguishable post-resolution and gets widened too). */
case class LakeMergeCommand(dir: String, targetAttrs: Seq[AttributeReference],
    source: LogicalPlan, condition: Expression,
    matched: Seq[MergeAction], notMatched: Seq[MergeAction],
    notMatchedBySource: Seq[MergeAction], schemaEvolution: Boolean,
    table: Option[CatalogTable])
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)

  override def run(spark: SparkSession): Seq[Row] = {
    val tSet = AttributeSet(targetAttrs)
    val sSet = AttributeSet(source.output)
    def tx(e: Expression): Column = GraftColumnBridge.column(e.transform {
      case a: AttributeReference if tSet.contains(a) =>
        UnresolvedAttribute(Seq("t", a.name))
      case a: AttributeReference if sSet.contains(a) =>
        UnresolvedAttribute(Seq("s", a.name))
    })
    def assignName(a: Assignment): String = a.key match {
      case k: AttributeReference => k.name
      case other => throw new IllegalArgumentException(
        s"graft-lake MERGE supports top-level columns only, got $other")
    }
    val targetCols = targetAttrs.map(_.name)
    val newCols: Seq[(String, org.apache.spark.sql.types.DataType)] =
      if (!schemaEvolution) Nil
      else source.output.filterNot(a =>
        targetCols.exists(_.equalsIgnoreCase(a.name)))
        .map(a => a.name -> a.dataType)
    val widen: Seq[(String, Column)] = newCols.map { case (n, _) =>
      n -> col(s"s.$n")
    }
    def isStarShapedInsert(assigns: Seq[Assignment]): Boolean =
      assigns.length == targetAttrs.length && assigns.forall { as =>
        (as.key, as.value) match {
          case (k: AttributeReference, v: AttributeReference) =>
            sSet.contains(v) && k.name.equalsIgnoreCase(v.name)
          case _ => false
        }
      }
    def matchedClause(a: MergeAction): GraftLake.MatchedClause = a match {
      case UpdateAction(cond, assigns, fromStar) =>
        GraftLake.MatchedUpdate(cond.map(tx),
          assigns.map(as => assignName(as) -> tx(as.value)) ++
            (if (fromStar) widen else Nil))
      case DeleteAction(cond) => GraftLake.MatchedDelete(cond.map(tx))
      case UpdateStarAction(cond) =>
        GraftLake.MatchedUpdate(cond.map(tx),
          targetCols.map(n => n -> col(s"s.$n")) ++ widen)
      case other => throw new UnsupportedOperationException(
        s"graft-lake MERGE: unsupported matched action $other")
    }
    def insertClause(a: MergeAction): GraftLake.NotMatchedInsert = a match {
      case InsertAction(cond, assigns) =>
        GraftLake.NotMatchedInsert(cond.map(tx),
          assigns.map(as => assignName(as) -> tx(as.value)) ++
            (if (isStarShapedInsert(assigns)) widen else Nil))
      case InsertStarAction(cond) =>
        GraftLake.NotMatchedInsert(cond.map(tx),
          targetCols.map(n => n -> col(s"s.$n")) ++ widen)
      case other => throw new UnsupportedOperationException(
        s"graft-lake MERGE: unsupported not-matched action $other")
    }
    val srcDf = GraftDatasetBridge.ofRows(spark, source)
    // copy-on-write by default; merge-on-read (DV touched rows + append
    // only the changed rows) with spark.graft.lake.mergeMode=mor
    val run: (SparkSession, String, org.apache.spark.sql.DataFrame, Column,
        Seq[GraftLake.MatchedClause], Seq[GraftLake.NotMatchedInsert],
        Seq[GraftLake.MatchedClause],
        Seq[org.apache.spark.sql.types.StructField]) => Long =
      if (spark.conf.getOption("spark.graft.lake.mergeMode")
          .exists(_.equalsIgnoreCase("mor"))) GraftLake.mergeIntoMoR
      else GraftLake.mergeInto
    run(spark, dir, srcDf, tx(condition),
      matched.map(matchedClause), notMatched.map(insertClause),
      notMatchedBySource.map(matchedClause),
      newCols.map { case (n, dt) =>
        org.apache.spark.sql.types.StructField(n, dt, nullable = true) })
    LakeDmlRule.refresh(spark, table)
    Seq.empty
  }
}
