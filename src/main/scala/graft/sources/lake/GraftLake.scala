package graft.sources.lake

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{FileAlreadyExistsException, Files}
import java.util.UUID

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import graft.spark.LocalCheckpoint
import org.apache.spark.SerializableWritable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/**
 * GraftLake — a transaction-log table format over parquet: the lakehouse
 * ACID layer (the storage model popularized by Delta Lake / Iceberg,
 * re-derived here from the public papers' design: an ordered log of
 * add/remove-file actions whose atomic append IS the commit point).
 *
 * Layout:
 * {{{
 *   <table>/_log/v%020d.json     one commit per version, immutable
 *   <table>/data/part-*.parquet  data files, immutable once referenced
 * }}}
 *
 * Commit protocol (single-writer-wins optimistic concurrency):
 *  1. write the data files straight into `data/` under fresh unique
 *     names, one lake-owned Spark job per write ([[DataFileWriter]]; no
 *     staging dir, no rename committer). They are invisible to readers
 *     until step 3: readers only see files the log references;
 *  2. write the full commit JSON to a tmp file, fsync;
 *  3. `Files.createLink(_log/v<N+1>.json, tmp)` — hard-link creation is
 *     atomic and fails if the destination exists, so exactly one writer
 *     wins version N+1 and the linked file is complete by construction
 *     (no reader can observe a partial commit). Losers reload the log,
 *     RECOMPUTE their actions against the new snapshot, and retry at the
 *     next version — recompute-under-the-fence makes delete/merge
 *     serializable without any conflict matrix.
 *
 * A crash anywhere before step 3 leaves only unreferenced data/tmp files;
 * readers never see them and [[vacuum]] reclaims them. On HDFS/object
 * stores the same fence is `FileSystem.create(path, overwrite = false)`.
 *
 * Per-file column stats (min/max/nullCount) are read from the parquet
 * FOOTERS at commit time — no data scan — and drive file pruning in
 * [[scanRange]]/[[scanEq]]: at 100 TB the log + stats are the KB-sized
 * planning object and a selective range scan opens only the overlapping
 * files. Footer reads are distributed over executors when a commit
 * references many files.
 *
 * Exactly-once streaming append: [[appendStreamBatch]] stamps the commit
 * with (appId, epochId); a replayed foreachBatch epoch finds its txn in
 * the log and becomes a no-op (same fence shape as the log bus sink).
 *
 * Log checkpoints (the `checkpointEvery` table property): every Nth
 * commit also persists the folded state — active files, schema, per-app
 * epoch watermarks — through the same link fence, so a reader folds
 * O(active files + tail commits) instead of replaying the whole history;
 * checkpoints are pure acceleration (deleting them only slows reads).
 */
object GraftLake {

  final case class ColStats(min: Option[String], max: Option[String],
      nullCount: Long, kind: String)

  /** A deletion-vector sidecar reference: roaring bitmap of deleted
    * `_metadata.row_index` positions, stored at `<table>/<path>` and
    * immutable once referenced (a grown DV is a NEW sidecar). Carried ON
    * the AddFile so CoW rewrites, RESTORE, time travel, the change feed,
    * and vacuum all inherit DV versioning from plain AddFile identity. */
  final case class DvRef(path: String, cardinality: Long)

  /** `cluster`: the layout-generation tag stamped by the zorder commit
    * that wrote this file — the cluster columns as FIELD IDS (names for
    * id-less tables), comma-joined. A file counts as clustered only
    * while its tag matches the table's CURRENT clusterBy (resolved the
    * same way), so changing the cluster columns turns the old bulk back
    * into OPTIMIZE victims; a RENAME of a clustered column keeps ids —
    * and the physically-unchanged layout — clustered. Carried on the
    * AddFile (through checkpoints), so staleness is O(active files) to
    * answer, never a commit-log scan. */
  final case class AddFile(path: String, rows: Long, bytes: Long,
      stats: Map[String, ColStats], dv: Option[DvRef] = None,
      cluster: Option[String] = None)

  final case class Commit(version: Long, ts: Long, op: String,
      txnApp: Option[String], txnEpoch: Option[Long],
      schemaJson: Option[String], adds: Seq[AddFile], removes: Seq[String],
      ckptEvery: Option[Int] = None, maxColId: Option[Int] = None,
      retiredNames: Seq[(String, Long)] = Nil,
      props: Seq[(String, Option[String])] = Nil,
      clusterBounds: Option[String] = None,
      features: Seq[String] = Nil)

  /** Folded log state at one version — what a checkpoint persists: the
    * active file set, the evolved schema, the high-water epoch per
    * streaming appId (the txn fence survives log truncation this way),
    * the highest column id EVER assigned (ids are never reused, so a
    * re-added column can't resurrect a dropped column's data), and the
    * names retired by rename/drop with the id they had (data files still
    * carry those column names, so reusing one for a DIFFERENT id would
    * let parquet's name-keyed row-group pushdown bind a filter to dead
    * data — rejected at DDL/evolution time instead). */
  private[lake] final case class LogState(version: Long, schemaJson: String,
      files: scala.collection.immutable.VectorMap[String, AddFile],
      txns: Map[String, Long], maxColId: Int, retired: Map[String, Long],
      ckptEvery: Int = 0, props: Map[String, String] = Map.empty,
      clusterBounds: Option[String] = None,
      features: Set[String] = Set.empty)

  final case class Snapshot(dir: String, version: Long, schema: StructType,
      files: Seq[AddFile], maxColId: Int = 0,
      retired: Map[String, Long] = Map.empty, ckptEvery: Int = 0,
      props: Map[String, String] = Map.empty,
      clusterBounds: Option[String] = None,
      features: Set[String] = Set.empty,
      txns: Map[String, Long] = Map.empty) {
    def activePaths: Seq[String] = files.map(f => GraftLake.absPath(dir, f.path))
  }

  /** Table FEATURES this build of the library understands — protocol
    * gating, the Delta table-features shape: every commit that uses a
    * gated capability is auto-stamped at the [[tryCommit]] choke point
    * (one place — no writer path can forget), the log folds their
    * union, and a reader that meets a feature it does NOT support
    * FAILS FAST instead of silently misreading (an old fold that
    * ignores an unknown `dv` field would resurrect deleted rows; one
    * that ignores `graft.physical` metadata binds renamed columns to
    * the wrong parquet names). Features are monotone — once used,
    * recorded forever (RESTORE keeps them; clones re-detect from what
    * they actually carry). */
  private[lake] val SupportedFeatures: Set[String] =
    Set("deletionVectors", "columnMapping", "checkConstraints", "clustering")

  /** The gated capabilities this commit actually uses. */
  private def detectFeatures(c: Commit): Seq[String] = {
    val b = Seq.newBuilder[String]
    if (c.adds.exists(_.dv.isDefined)) b += "deletionVectors"
    if (c.schemaJson.exists(_.contains(PhysicalNameKey))) b += "columnMapping"
    if (c.props.exists { case (k, v) =>
        v.isDefined && k.startsWith(ConstraintPrefix) }) b += "checkConstraints"
    if (c.props.exists { case (k, v) => v.isDefined && k == ClusterByKey })
      b += "clustering"
    b.result()
  }

  /** Thrown when a log records a feature this build does not support. */
  final class LakeUnsupportedFeatureException(msg: String)
    extends RuntimeException(msg)

  /** Thrown when `maxRetries` successive commit attempts all lost the
    * version fence (pathological contention). */
  final class LakeContentionException(msg: String) extends RuntimeException(msg)

  private val mapper = new ObjectMapper()

  // ── log dirs / names ─────────────────────────────────────────────────

  private def logDir(dir: String) = new File(dir, "_log")
  private def dataDir(dir: String) = new File(dir, "data")
  private def versionFile(dir: String, v: Long) =
    new File(logDir(dir), f"v$v%020d.json")
  private def ckptFile(dir: String, v: Long) =
    new File(logDir(dir), f"ckpt-v$v%020d.json")

  // ── commit (de)serialization ─────────────────────────────────────────

  private def colStatsNode(s: ColStats): ObjectNode = {
    val n = mapper.createObjectNode()
    s.min.foreach(n.put("min", _))
    s.max.foreach(n.put("max", _))
    n.put("nulls", s.nullCount)
    n.put("kind", s.kind)
    n
  }

  private def addFileNode(into: ArrayNode, a: AddFile): Unit = {
    val an = into.addObject()
    an.put("path", a.path); an.put("rows", a.rows); an.put("bytes", a.bytes)
    a.dv.foreach { d =>
      val dn = an.putObject("dv")
      dn.put("path", d.path); dn.put("card", d.cardinality)
    }
    a.cluster.foreach(an.put("cluster", _))
    val sn = an.putObject("stats")
    a.stats.foreach { case (col, st) =>
      sn.set[com.fasterxml.jackson.databind.JsonNode](col, colStatsNode(st)); ()
    }
  }

  private def parseAddFile(an: com.fasterxml.jackson.databind.JsonNode): AddFile = {
    val stats = Option(an.get("stats")).map { sn =>
      sn.properties().asScala.map { e =>
        val v = e.getValue
        e.getKey -> ColStats(
          Option(v.get("min")).map(_.asText),
          Option(v.get("max")).map(_.asText),
          v.get("nulls").asLong, v.get("kind").asText)
      }.toMap
    }.getOrElse(Map.empty)
    AddFile(an.get("path").asText, an.get("rows").asLong,
      an.get("bytes").asLong, stats,
      Option(an.get("dv")).map(d =>
        DvRef(d.get("path").asText, d.get("card").asLong)),
      Option(an.get("cluster")).map(_.asText))
  }

  private def parseAddFiles(arr: com.fasterxml.jackson.databind.JsonNode): Seq[AddFile] =
    arr.asInstanceOf[ArrayNode].elements().asScala.map(parseAddFile).toSeq

  private def commitJson(c: Commit): String = {
    val n = mapper.createObjectNode()
    n.put("version", c.version)
    n.put("ts", c.ts)
    n.put("op", c.op)
    c.txnApp.foreach(n.put("txnApp", _))
    c.txnEpoch.foreach(e => n.put("txnEpoch", e))
    c.schemaJson.foreach(n.put("schema", _))
    c.ckptEvery.foreach(n.put("ckptEvery", _))
    c.maxColId.foreach(n.put("maxColId", _))
    if (c.retiredNames.nonEmpty) {
      val rn = n.putObject("retired")
      c.retiredNames.foreach { case (name, id) => rn.put(name, id) }
    }
    if (c.props.nonEmpty) {
      val pn = n.putObject("props")
      c.props.foreach {
        case (k, Some(v)) => pn.put(k, v)
        case (k, None) => pn.putNull(k)
      }
    }
    c.clusterBounds.foreach(n.put("clusterBounds", _))
    if (c.features.nonEmpty) {
      val fn = n.putArray("features")
      c.features.foreach(fn.add)
    }
    val adds = n.putArray("adds")
    c.adds.foreach(addFileNode(adds, _))
    val rem = n.putArray("removes")
    c.removes.foreach(rem.add)
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(n)
  }

  private def parseCommit(f: File): Commit = {
    val n = mapper.readTree(f)
    def optStr(k: String) = Option(n.get(k)).map(_.asText)
    val removes = n.get("removes").asInstanceOf[ArrayNode]
      .elements().asScala.map(_.asText).toSeq
    Commit(n.get("version").asLong, n.get("ts").asLong, n.get("op").asText,
      optStr("txnApp"), Option(n.get("txnEpoch")).map(_.asLong),
      optStr("schema"), parseAddFiles(n.get("adds")), removes,
      Option(n.get("ckptEvery")).map(_.asInt),
      Option(n.get("maxColId")).map(_.asInt),
      Option(n.get("retired")).map(_.properties().asScala
        .map(e => e.getKey -> e.getValue.asLong).toSeq).getOrElse(Nil),
      Option(n.get("props")).map(_.properties().asScala.map { e =>
        e.getKey -> (if (e.getValue.isNull) None else Some(e.getValue.asText))
      }.toSeq).getOrElse(Nil),
      Option(n.get("clusterBounds")).map(_.asText),
      Option(n.get("features")).map(_.asInstanceOf[ArrayNode]
        .elements().asScala.map(_.asText).toSeq).getOrElse(Nil))
  }

  // ── log checkpoints: snapshot cost O(active files + tail), not O(log) ─

  /** Checkpoint write, STREAMING: one generator pass straight to the
    * file, never a giant in-memory tree or string. Measured in r11 on
    * synthetic 10⁶-file log states (the 128 TB table at a 128 MB file
    * target): the tree+pretty-printer form took 25.7 s write / 13.9 s
    * parse and GC'd hard; the streaming form 1.9 s write / 4.2 s parse,
    * O(1) heap. Same JSON shape as before — old checkpoints parse fine
    * and vice versa. */
  private[lake] def writeCkpt(f: File, s: LogState): Unit = {
    val g = mapper.getFactory.createGenerator(f,
      com.fasterxml.jackson.core.JsonEncoding.UTF8)
    try {
      g.writeStartObject()
      g.writeNumberField("version", s.version)
      g.writeStringField("schema", s.schemaJson)
      g.writeNumberField("maxColId", s.maxColId)
      g.writeNumberField("ckptEvery", s.ckptEvery)
      if (s.retired.nonEmpty) {
        g.writeObjectFieldStart("retired")
        s.retired.foreach { case (name, id) => g.writeNumberField(name, id) }
        g.writeEndObject()
      }
      if (s.props.nonEmpty) {
        g.writeObjectFieldStart("props")
        s.props.foreach { case (k, v) => g.writeStringField(k, v) }
        g.writeEndObject()
      }
      s.clusterBounds.foreach(g.writeStringField("clusterBounds", _))
      if (s.features.nonEmpty) {
        g.writeArrayFieldStart("features")
        s.features.toSeq.sorted.foreach(g.writeString)
        g.writeEndArray()
      }
      g.writeObjectFieldStart("txns")
      s.txns.foreach { case (app, epoch) => g.writeNumberField(app, epoch) }
      g.writeEndObject()
      g.writeArrayFieldStart("files")
      s.files.values.foreach { a =>
        g.writeStartObject()
        g.writeStringField("path", a.path)
        g.writeNumberField("rows", a.rows)
        g.writeNumberField("bytes", a.bytes)
        a.dv.foreach { d =>
          g.writeObjectFieldStart("dv")
          g.writeStringField("path", d.path)
          g.writeNumberField("card", d.cardinality)
          g.writeEndObject()
        }
        a.cluster.foreach(g.writeStringField("cluster", _))
        g.writeObjectFieldStart("stats")
        a.stats.foreach { case (c, st) =>
          g.writeObjectFieldStart(c)
          st.min.foreach(g.writeStringField("min", _))
          st.max.foreach(g.writeStringField("max", _))
          g.writeNumberField("nulls", st.nullCount)
          g.writeStringField("kind", st.kind)
          g.writeEndObject()
        }
        g.writeEndObject()
        g.writeEndObject()
      }
      g.writeEndArray()
      g.writeEndObject()
    } finally g.close()
  }

  /** Checkpoint parse, STREAMING: the files array is consumed one
    * element-subtree at a time (small per-file trees, shared with the
    * commit parser), never one tree for the whole checkpoint — the cold
    * `snapshot()` cost every reader pays. Field-order agnostic. */
  private[lake] def parseCkpt(f: File): LogState = {
    import com.fasterxml.jackson.core.JsonToken
    val p = mapper.getFactory.createParser(f)
    try {
      var version = 0L
      var schema: String = null
      var maxColId = 0
      var ckptEvery = 0
      var retired = Map.empty[String, Long]
      var txns = Map.empty[String, Long]
      var props = Map.empty[String, String]
      var clusterBounds: Option[String] = None
      var features = Set.empty[String]
      val files = Vector.newBuilder[(String, AddFile)]
      require(p.nextToken() == JsonToken.START_OBJECT, s"corrupt checkpoint $f")
      while (p.nextToken() != JsonToken.END_OBJECT) {
        val field = p.currentName()
        p.nextToken()
        field match {
          case "version" => version = p.getLongValue
          case "schema" => schema = p.getText
          case "maxColId" => maxColId = p.getIntValue
          case "ckptEvery" => ckptEvery = p.getIntValue
          case "retired" =>
            retired = mapper.readTree[com.fasterxml.jackson.databind.JsonNode](p)
              .properties().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
          case "props" =>
            props = mapper.readTree[com.fasterxml.jackson.databind.JsonNode](p)
              .properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap
          case "clusterBounds" => clusterBounds = Some(p.getText)
          case "features" =>
            features = mapper.readTree[com.fasterxml.jackson.databind.JsonNode](p)
              .elements().asScala.map(_.asText).toSet
          case "txns" =>
            txns = mapper.readTree[com.fasterxml.jackson.databind.JsonNode](p)
              .properties().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
          case "files" =>
            while (p.nextToken() != JsonToken.END_ARRAY) {
              val a = parseAddFile(
                mapper.readTree[com.fasterxml.jackson.databind.JsonNode](p))
              files += a.path -> a
            }
          case _ => p.skipChildren()
        }
      }
      LogState(version,
        Option(schema).getOrElse(sys.error(s"checkpoint $f has no schema")),
        scala.collection.immutable.VectorMap.from(files.result()), txns,
        maxColId, retired, ckptEvery, props, clusterBounds, features)
    } finally p.close()
  }

  /** Newest checkpoint at or below `maxV`, if any. Checkpoints are
    * written through the same link fence as commits, so a parseable
    * checkpoint file is always complete. */
  private def latestCheckpointAt(dir: String, maxV: Long): Option[LogState] = {
    val ld = logDir(dir)
    Option(ld.listFiles((_, n) => n.matches("ckpt-v\\d{20}\\.json")))
      .getOrElse(Array.empty[File])
      .flatMap { f =>
        val v = f.getName.stripPrefix("ckpt-v").stripSuffix(".json").toLong
        if (v <= maxV) Some((v, f)) else None
      }
      .sortBy(_._1).lastOption.map(p => parseCkpt(p._2))
  }

  /** Log folds ([[stateAt]] calls) — process-wide observability, in the
    * style of [[lostFences]]; not part of any correctness path. An
    * uncontended append or stream epoch folds once (the caller's
    * pre-snapshot, reused by stage, the fence and auto-compaction), plus
    * once more when the commit lands on a checkpoint version. */
  private[lake] val folds = new java.util.concurrent.atomic.AtomicLong()

  /** Fold the log to `target`, starting from the newest usable checkpoint
    * — the read path that keeps working when the table has streamed for
    * weeks: O(active files + tail commits), never O(total history). */
  private def stateAt(dir: String, target: Long): LogState = {
    folds.incrementAndGet()
    require(target >= 0 && versionFile(dir, target).exists(),
      s"no version $target in $dir")
    val base = latestCheckpointAt(dir, target)
    val active = scala.collection.mutable.LinkedHashMap.empty[String, AddFile]
    base.foreach(_.files.foreach { case (p, a) => active(p) = a })
    var schemaJson: Option[String] = base.map(_.schemaJson)
    val txns = scala.collection.mutable.Map.empty[String, Long]
    base.foreach(b => txns ++= b.txns)
    var maxColId = base.map(_.maxColId).getOrElse(0)
    val retired = scala.collection.mutable.Map.empty[String, Long]
    base.foreach(b => retired ++= b.retired)
    var ckptEvery = base.map(_.ckptEvery).getOrElse(0)
    val props = scala.collection.mutable.Map.empty[String, String]
    base.foreach(b => props ++= b.props)
    var clusterBounds: Option[String] = base.flatMap(_.clusterBounds)
    val features = scala.collection.mutable.Set.empty[String]
    base.foreach(b => features ++= b.features)
    var v = base.map(_.version + 1).getOrElse(0L)
    while (v <= target) {
      val c = parseCommit(versionFile(dir, v))
      features ++= c.features
      c.removes.foreach(active.remove)
      c.adds.foreach(a => active(a.path) = a)
      c.schemaJson.foreach(s => schemaJson = Some(s))
      c.maxColId.foreach(m => maxColId = math.max(maxColId, m))
      c.ckptEvery.foreach(e => ckptEvery = e) // latest setting wins
      c.props.foreach { // latest delta wins per key; None = unset
        case (k, Some(value)) => props(k) = value
        case (k, None) => props.remove(k)
      }
      // folded like ckptEvery; empty string = explicit clear
      c.clusterBounds.foreach(b =>
        clusterBounds = if (b.isEmpty) None else Some(b))
      retired ++= c.retiredNames
      for (app <- c.txnApp; epoch <- c.txnEpoch)
        txns(app) = math.max(epoch, txns.getOrElse(app, Long.MinValue))
      v += 1
    }
    // protocol gate: the whole point of recorded features is that a
    // build meeting one it does NOT understand stops HERE, before any
    // read/write could silently misinterpret the log
    val unknown = features.toSet -- SupportedFeatures
    if (unknown.nonEmpty)
      throw new LakeUnsupportedFeatureException(
        s"table $dir uses feature(s) ${unknown.toSeq.sorted.mkString(", ")} " +
          "that this build of graft-lake does not support; upgrade the " +
          "library to read or write this table")
    LogState(target, schemaJson.getOrElse(
        sys.error(s"no schema recorded in $dir through v$target")),
      scala.collection.immutable.VectorMap(active.toSeq: _*), txns.toMap, maxColId,
      retired.toMap, ckptEvery, props.toMap, clusterBounds, features.toSet)
  }

  /** Write a checkpoint after version `v` when the cadence says so.
    * `every` comes from the committing writer's already-folded snapshot
    * (the cadence is a FOLDED table property since SET TBLPROPERTIES —
    * latest setting wins — so no extra log read happens here).
    * Best-effort and race-free: the link fence dedups concurrent writers,
    * and a crash here loses nothing (readers fall back to older
    * checkpoints or a from-scratch fold). */
  private def maybeCheckpoint(dir: String, v: Long, every: Int): Unit = {
    if (every > 0 && v > 0 && v % every == 0 && !ckptFile(dir, v).exists()) {
      val ld = logDir(dir)
      val tmp = new File(ld, s".tmp-ckpt-${UUID.randomUUID()}")
      writeCkpt(tmp, stateAt(dir, v))
      try Files.createLink(ckptFile(dir, v).toPath, tmp.toPath)
      catch { case _: FileAlreadyExistsException => () }
      finally tmp.delete()
    }
  }

  /** All committed versions, contiguous from 0 (holes are impossible:
    * version N+1's fence can only be won after N exists). */
  private[lake] def commits(dir: String): Seq[Commit] = {
    val ld = logDir(dir)
    val fs = Option(ld.listFiles((_, n) => n.matches("v\\d{20}\\.json")))
      .getOrElse(Array.empty[File]).sortBy(_.getName)
    fs.map(parseCommit).toIndexedSeq
  }

  def latestVersion(dir: String): Long = {
    val ld = logDir(dir)
    Option(ld.listFiles((_, n) => n.matches("v\\d{20}\\.json")))
      .getOrElse(Array.empty[File])
      .map(_.getName.stripPrefix("v").stripSuffix(".json").toLong)
      .sorted.lastOption.getOrElse(-1L)
  }

  /** (version, op, ts, adds, removes) per commit — the table's history. */
  def history(dir: String): Seq[(Long, String, Long, Int, Int)] =
    commits(dir).map(c => (c.version, c.op, c.ts, c.adds.size, c.removes.size))

  def snapshot(spark: SparkSession, dir: String,
      asOf: Option[Long] = None): Snapshot = {
    val latest = latestVersion(dir)
    require(latest >= 0, s"not a lake table: $dir")
    val target = asOf.getOrElse(latest)
    require(target >= 0 && target <= latest, s"no version $target in $dir")
    val st = stateAt(dir, target)
    val schema =
      org.apache.spark.sql.types.DataType.fromJson(st.schemaJson).asInstanceOf[StructType]
    Snapshot(dir, target, schema, st.files.values.toSeq,
      math.max(st.maxColId, schema.fields.flatMap(idOf).foldLeft(0L)(math.max).toInt),
      st.retired, st.ckptEvery, st.props, st.clusterBounds, st.features, st.txns)
  }

  // ── the atomic commit fence ──────────────────────────────────────────

  /** Attempt to publish `c` as version `c.version`; true iff this writer
    * won the fence. The linked file is complete before it becomes
    * visible, so readers never observe a partial commit. */
  /** Commits that lost the create-if-absent fence and recomputed —
    * process-wide observability for contention measurements; not part of
    * any correctness path. Measured in r12 (local[8], 16 append commits
    * per writer against one table): 1 writer 4.4 commits/s, 2 → 9.5,
    * 4 → 20.6, 8 → 29.8 at 0.74 lost fences per commit — throughput rises
    * with writers, so optimistic concurrency pays retries without
    * storming and no backoff jitter is warranted. */
  private[lake] val lostFences = new java.util.concurrent.atomic.AtomicLong()

  private def tryCommit(dir: String, c0: Commit): Boolean = {
    // auto-stamp the gated capabilities this commit uses — ONE choke
    // point, so no writer path (DML, clone, restore, convert, stream
    // sink) can introduce a feature without recording it in the log
    val c = c0.copy(features =
      (c0.features ++ detectFeatures(c0)).distinct)
    val ld = logDir(dir); ld.mkdirs()
    val tmp = new File(ld, s".tmp-${UUID.randomUUID()}")
    // SYNC: the bytes are durable BEFORE the link makes them visible —
    // a power cut can lose an uncommitted tmp, never a linked commit
    Files.write(tmp.toPath, commitJson(c).getBytes(StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE,
      java.nio.file.StandardOpenOption.SYNC)
    try {
      Files.createLink(versionFile(dir, c.version).toPath, tmp.toPath)
      true
    } catch {
      case _: FileAlreadyExistsException => lostFences.incrementAndGet(); false
    } finally tmp.delete()
  }

  // ── footer stats ─────────────────────────────────────────────────────

  /** Min/max/nullCount per file and column from parquet footers only
    * (no data scan, [[ParquetFooter.stats]]); distributed when the file
    * list is large. */
  private[lake] def footerStats(spark: SparkSession,
      paths: Seq[String]): Map[String, (Long, Long, Map[String, ColStats])] = {
    val conf = new SerializableWritable(spark.sessionState.newHadoopConf())
    if (paths.size <= 16) paths.map(p => p -> ParquetFooter.stats(p, conf.value)).toMap
    else spark.sparkContext.parallelize(paths, math.min(paths.size, 64))
      .map(p => p -> ParquetFooter.stats(p, conf.value)).collect().toMap
  }

  /** Table-level per-column (kind, min, max, nullCount) folded from the
    * log's per-file footer stats — the lake's ANALYZE-free column
    * statistics. Conservative: a column missing stats on ANY active file
    * is omitted entirely; a file with unknown nullCount (-1) drops the
    * null count but keeps the bounds. DV'd files keep their full-file
    * bounds (the envelope stays a valid over-approximation after
    * row-level deletes), but their nullCount is DISCOUNTED by the DV
    * cardinality: footer nulls count deleted rows too, and a nullCount
    * above the live row count sends CBO's IsNotNull selectivity
    * (1 − nullCount/rowCount) negative. `max(0, nulls − deleted)` is the
    * provable lower bound on live nulls (each deleted row removes at
    * most one null) — erring low over-estimates surviving rows, the safe
    * direction for a broadcast decision. */
  private[graft] def tableColStats(snap: Snapshot)
      : Map[String, (String, Option[String], Option[String], Option[Long])] =
    snap.schema.fields.iterator.flatMap { f =>
      val c = f.name
      // per-file stats are keyed by parquet FIELD ID (rename-stable);
      // fall back to the name for id-less (externally created) tables
      val key = idOf(f).map(_.toString).getOrElse(c)
      val per = snap.files.map(a =>
        (a.stats.get(key), a.dv.map(_.cardinality).getOrElse(0L)))
      if (per.isEmpty || per.exists(_._1.isEmpty)) None
      else {
        val ss = per.map(_._1.get)
        val kind = ss.head.kind
        val mins = ss.flatMap(_.min)
        val maxs = ss.flatMap(_.max)
        val mn = if (mins.size == ss.size)
          Some(mins.reduce((a, b) => if (cmp(kind, a, b) <= 0) a else b)) else None
        val mx = if (maxs.size == ss.size)
          Some(maxs.reduce((a, b) => if (cmp(kind, a, b) >= 0) a else b)) else None
        val nulls = if (ss.forall(_.nullCount >= 0))
          Some(per.map { case (s, dvc) => math.max(0L, s.get.nullCount - dvc) }.sum)
          else None
        Some(c -> ((kind, mn, mx, nulls)))
      }
    }.toMap

  /** Per-file (min, max, liveRows) as doubles for each NUMERIC-statted
    * column, in log file order — the raw material for the ANALYZE-free
    * clustered-column histogram (see LakeDmlRule). A column is present
    * only when EVERY active file carries bounds for it. */
  private[graft] def perFileNumericStats(snap: Snapshot)
      : Map[String, (String, Seq[(Double, Double, Long)])] =
    snap.schema.fields.iterator.flatMap { f =>
      val key = idOf(f).map(_.toString).getOrElse(f.name)
      val per = snap.files.map(a => (a.stats.get(key),
        a.rows - a.dv.map(_.cardinality).getOrElse(0L)))
      val kinds = per.flatMap(_._1).map(_.kind).distinct
      if (per.isEmpty || kinds.size != 1 || !Set("long", "double")(kinds.head) ||
          per.exists { case (s, _) => s.isEmpty || s.get.min.isEmpty || s.get.max.isEmpty })
        None
      else Some(f.name -> ((kinds.head, per.map { case (s, live) =>
        (s.get.min.get.toDouble, s.get.max.get.toDouble, live)
      })))
    }.toMap

  private[lake] def cmp(kind: String, a: String, b: String): Int = kind match {
    case "long" => java.lang.Long.compare(a.toLong, b.toLong)
    case "double" => java.lang.Double.compare(a.toDouble, b.toDouble)
    case _ => utf8Cmp(a, b)
  }

  /** Unsigned lexicographic compare of the UTF-8 encodings — the collation
    * parquet footer min/max for UTF8 BINARY are computed in (code-point
    * order). Java's `String.compareTo` is UTF-16 code-unit order, which
    * DISAGREES for strings mixing U+E000–U+FFFF with supplementary-plane
    * characters (surrogate units 0xD800–0xDFFF sort below 0xE000+ in
    * UTF-16 but their code points sort above) — comparing footer bounds in
    * the wrong collation silently wrong-prunes files. Spark's own string
    * min/max aggregate in UTF8String (binary) order, so this also keeps
    * [[merge]]'s update-key bounds consistent with file stats. */
  private def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes(StandardCharsets.UTF_8)
    val y = b.getBytes(StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** Pruning must FAIL OPEN: a value that doesn't parse against the
    * stats kind (e.g. a Date rendered "2020-01-01" vs "long" stats)
    * yields None and the caller keeps the file — never throws, never
    * wrongly prunes. */
  private def cmpOpt(kind: String, a: String, b: String): Option[Int] =
    try Some(cmp(kind, a, b)) catch { case _: NumberFormatException => None }

  // ── column identity: parquet field ids (Iceberg semantics) ──────────
  //
  // Every table column carries a stable integer id, stamped into the
  // schema metadata under Spark's own `parquet.field.id` key and written
  // into every data file's parquet schema. Readers run with
  // `spark.sql.parquet.fieldId.read.enabled`, so columns resolve BY ID,
  // not by name — which is what makes [[renameColumn]] a pure metadata
  // commit (old files keep serving the renamed column) and [[dropColumn]]
  // safe against resurrection (ids are never reused; a re-added column of
  // the same name gets a fresh id and old files null-fill it). Per-file
  // stats are keyed by the id too, so footer pruning on a renamed column
  // still skips files written under the old name.

  private val FieldIdKey = "parquet.field.id"

  private[lake] def idOf(f: StructField): Option[Long] =
    if (f.metadata.contains(FieldIdKey)) Some(f.metadata.getLong(FieldIdKey))
    else None

  /** Column-mapping-by-physical-name (the Delta column-mapping shape,
    * restricted to where it is NEEDED): a field of a CONVERTed table
    * carries no field id — its identity in the data files is its NAME —
    * so renaming it used to be refused outright. Instead, the first
    * rename FREEZES the file-side name as `graft.physical` field
    * metadata and the rename becomes a pure label change: parquet files
    * (adopted AND lake-written — [[stampIds]] writes physical names)
    * only ever contain physical names, reads translate
    * logical→physical inside [[GraftParquetFileFormat]] (schemas and
    * pushed filters; row batches are positional, so nothing translates
    * back), and footer stats stay keyed by the stable physical name
    * ([[statsKey]]). Fields WITH ids never need this — id resolution
    * is already rename-proof — so the mapping engages only for id-less
    * fields, and a table with no renamed id-less fields pays zero. */
  private[lake] val PhysicalNameKey = "graft.physical"

  private[lake] def physOf(f: StructField): Option[String] =
    if (f.metadata.contains(PhysicalNameKey))
      Some(f.metadata.getString(PhysicalNameKey))
    else None

  /** The column name the data files carry for this field. */
  private[lake] def physNameOf(f: StructField): String =
    physOf(f).getOrElse(f.name)

  /** logical → physical, for the fields where they differ. */
  private[graft] def physicalMapOf(schema: StructType): Map[String, String] =
    schema.fields.flatMap(f =>
      physOf(f).filter(_ != f.name).map(p => f.name -> p)).toMap

  private def withPhysical(f: StructField, phys: String): StructField =
    f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(f.metadata).putString(PhysicalNameKey, phys).build())

  private def withId(f: StructField, id: Int): StructField =
    f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(f.metadata).putLong(FieldIdKey, id.toLong).build())

  /** Fresh ids 1..n for a new table (any inherited id metadata — e.g. a
    * CTAS from another lake table — is overridden). */
  private def assignIds(schema: StructType): StructType =
    StructType(schema.fields.zipWithIndex.map { case (f, i) => withId(f, i + 1) })

  /** Stamp the target schema's field ids onto `df`'s columns (by name)
    * so the staged parquet files carry them, and write each column
    * under its PHYSICAL name (= logical except for renamed id-less
    * fields) so the file namespace stays rename-stable; unknown columns
    * pass through. */
  private def stampIds(df: DataFrame, target: StructType): DataFrame = {
    val byName = target.fields.map(f => f.name -> f).toMap
    df.select(df.columns.toIndexedSeq.map { c =>
      byName.get(c) match {
        case Some(f) =>
          val written = physNameOf(f)
          idOf(f) match {
            case Some(id) => col(c).as(written,
              new org.apache.spark.sql.types.MetadataBuilder()
                .putLong(FieldIdKey, id).build())
            case None if written != c => col(c).as(written)
            case None => col(c)
          }
        case None => col(c)
      }
    }: _*)
  }

  /** The key a column's footer stats live under in AddFile.stats: its
    * field id when assigned (rename-stable), else the PHYSICAL name —
    * which is what id-less (adopted/converted) files were footer-read
    * under, and what [[stampIds]] writes, so a renamed id-less column
    * keeps pruning too. */
  private[lake] def statsKey(schema: StructType, logical: String): String =
    schema.fields.find(_.name == logical) match {
      case Some(f) => idOf(f).map(_.toString).getOrElse(physNameOf(f))
      case None => logical
    }

  /** Field-id column resolution is conf-gated in Spark; flip it on for
    * any session about to read lake files. Benign globally: schemas
    * without id metadata resolve by name exactly as before. */
  private[lake] def ensureFieldIdRead(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    // CONVERTed tables mix id-less adopted files with id-stamped files
    // written by later evolution: ignoreMissing makes Spark fall back to
    // NAME matching for files that carry no ids at all (instead of
    // erroring), which is exactly the adopted files' contract — every
    // lake-written file carries ids, so this relaxation never engages
    // for them
    spark.conf.set("spark.sql.parquet.fieldId.read.ignoreMissing", "true")
  }

  // ── staging data files ───────────────────────────────────────────────

  /** CHECK-constraint property prefix (the Delta shape —
    * `delta.constraints.<name>`): any folded table property
    * `constraint.<name> = <boolean SQL expr>` is enforced on EVERY
    * write. ADD validates existing data with one scan (set time);
    * writes then enforce with a codegen'd `assert_true` filter that
    * RIDES the staging write — zero extra pass, a violating batch
    * fails its job before anything commits. Clones/REPLACE inherit or
    * reset with the props they carry. */
  private[graft] val ConstraintPrefix = "constraint."

  private[graft] def constraintsOf(snap: Snapshot): Seq[(String, String)] =
    snap.props.collect {
      case (k, v) if k.startsWith(ConstraintPrefix) =>
        k.stripPrefix(ConstraintPrefix) -> v
    }.toSeq.sortBy(_._1)

  /** CHECK constraints whose stored SQL references `colName` — a
    * rename/drop of such a column is refused (Delta's rule): the text
    * can't be rewritten reliably, and a dangling reference would fail
    * every future write at enforcement time. Drop or re-state the
    * constraint first. */
  private def constraintsReferencing(snap: Snapshot,
      colName: String): Seq[String] =
    constraintsOf(snap).collect {
      case (name, sql) if SparkSession.active.sessionState.sqlParser
        .parseExpression(sql).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.nameParts.head
        }.exists(_.equalsIgnoreCase(colName)) => name
    }

  /** The write-side enforcement frame: all rows pass through, a
    * violation throws with the constraint's name and expression. SQL
    * CHECK semantics: NULL passes (coalesce-to-true), only FALSE
    * violates. Callers pad batches that omit constrained columns with
    * nulls first (see [[stage]]) — the stored value IS null, and null
    * passes CHECK, so a pre-evolution writer keeps writing. */
  private def enforceConstraints(df: DataFrame,
      cs: Seq[(String, String)]): DataFrame =
    cs.foldLeft(df) { case (d, (name, sql)) =>
      d.filter(org.apache.spark.sql.functions.assert_true(
        coalesce(org.apache.spark.sql.functions.expr(sql).cast("boolean"),
          lit(true)),
        lit(s"CHECK constraint $name violated: $sql")).isNull)
    }

  /** A staged batch: the AddFile actions plus the CHECK-constraint set
    * the rows were validated against AT STAGE TIME. Committers that
    * stage before their fence loop (append / overwrite / replace /
    * stream-append) must re-compare this set under the fence via
    * [[fenceConstraints]] — otherwise a concurrent `ALTER TABLE SET
    * ('constraint.x'=...)` that commits between stage and commit would
    * land its ADD-time validation scan WITHOUT seeing the staged rows,
    * silently breaking the write-side induction invariant (Delta
    * resolves the same race as a metadata-change commit conflict). The
    * rewrite paths that stage INSIDE their fence loop don't need it:
    * any commit between their snapshot read and tryCommit bumps the
    * version, loses them the fence, and re-stages against the new
    * constraint set. */
  private case class Staged(adds: Seq[AddFile],
      checkedConstraints: Seq[(String, String)])

  /** Fence-side re-validation for pre-staged batches: fail the commit
    * (contention, retryable by the caller) if the snapshot under the
    * fence carries any constraint the batch was NOT validated against.
    * Direction matters: a constraint DROPPED since stage time is fine —
    * the rows passed a superset — only a new/changed expression can
    * admit unvalidated rows. */
  private def fenceConstraints(staged: Staged, snap: Snapshot,
      op: String): Unit = {
    val now = constraintsOf(snap)
    val missed = now.filterNot(staged.checkedConstraints.contains)
    if (missed.nonEmpty)
      throw new LakeContentionException(
        s"$op at ${snap.dir}: CHECK constraint(s) ${missed.map(_._1).mkString(", ")} " +
          "were set concurrently after this batch was validated; retry the write")
  }

  /** On a thrown commit (contention or constraint conflict), staged
    * files were never referenced by any log version — delete them so a
    * failed pre-staged write leaves no orphans for VACUUM to find. */
  private def discardOnThrow[A](dir: String, adds: Seq[AddFile])(body: => A): A =
    try body catch {
      case e: Throwable =>
        adds.foreach(a => new File(dir, a.path).delete()); throw e
    }

  /** Write `df` as parquet files into `data/`, validated against and
    * carrying the blooms of `stageSnap` — the caller's already-folded
    * snapshot (None only for a table that has no version yet). A
    * constraint set after that snapshot is caught under the fence
    * ([[fenceConstraints]], or the lost fence of a rewrite that planned
    * from the same snapshot). */
  private def stage(df: DataFrame, dir: String, numFiles: Int,
      target: StructType, stageSnap: Option[Snapshot]): Staged = {
    // every written file passes through here — append, CTAS, CoW
    // rewrites, merge outputs, streaming batches — so this is THE
    // constraint choke point (CoW re-staged rows satisfy by the
    // ADD-time scan's induction) AND the bloom-filter choke point
    // (every file written after the property is set carries the blooms;
    // OPTIMIZE rewrites backfill older files)
    val cs0: Seq[(String, String)] =
      stageSnap.map(constraintsOf).getOrElse(Nil)
    val checked = {
        val cs = cs0
        if (cs.isEmpty) df
        else {
          // enforce on the NULL-FILLED shape the rows will actually read
          // back as: a pre-evolution writer that omits a constrained
          // column stores NULL there, and SQL CHECK passes on NULL — so
          // the batch must pass too, not fail analysis. The padding is
          // enforcement-only; the written file keeps the batch's columns.
          val have = df.columns.map(_.toLowerCase).toSet
          val padded = target.fields
            .filterNot(f => have.contains(f.name.toLowerCase))
            .foldLeft(df)((d, f) =>
              d.withColumn(f.name, lit(null).cast(f.dataType)))
          enforceConstraints(padded, cs).select(df.columns.map(col): _*)
        }
      }
    val stamped = stampIds(checked, target)
    val out = if (numFiles > 0) stamped.repartition(numFiles) else stamped
    val written = DataFileWriter.write(out, dir,
      stageSnap.map(bloomWriteOptions(_, df.columns.toSeq, target)).getOrElse(Map.empty))
    // stats come keyed by the parquet column NAME at write time — the
    // PHYSICAL name since stampIds — and re-key to the field id where
    // one exists so pruning survives later renames (id-less fields stay
    // keyed by their physical name, which is itself rename-stable)
    val keyOf: Map[String, String] =
      target.fields.flatMap(f => idOf(f).map(id => physNameOf(f) -> id.toString)).toMap
    Staged(written.map(a =>
      a.copy(stats = a.stats.map { case (n, s) => keyOf.getOrElse(n, n) -> s })), cs0)
  }

  /** Unwind a freshly-cloned/created table after a failed catalog
    * registration (create-then-register ordering): removes the LAKE
    * METADATA only (_log, _staged, data/) and the dir itself if that
    * left it empty — never arbitrary pre-existing content at a
    * user-supplied LOCATION. A shallow clone's data/ is empty (absolute
    * references), so this makes the failed registration leave no trace. */
  private[graft] def deleteTableDir(dir: String): Unit = {
    Seq("_log", "_staged", "data").foreach(d =>
      deleteRecursively(new File(dir, d)))
    new File(dir).delete() // only succeeds if now empty — intentional
  }

  private def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  // ── writes ───────────────────────────────────────────────────────────

  /** Create a new lake table at `dir` (version 0). `checkpointEvery` is a
    * table property: every Nth commit also persists a fenced log
    * checkpoint so readers fold O(active files + tail), never the whole
    * history — without it a long-streamed table's every snapshot would
    * re-read weeks of log. */
  def create(df: DataFrame, dir: String, numFiles: Int = 0,
      checkpointEvery: Int = 10): Long = {
    require(!versionFile(dir, 0).exists(), s"lake table already exists: $dir")
    val schema = assignIds(df.schema)
    val adds = stage(df, dir, numFiles, schema, None).adds
    val c = Commit(0L, System.currentTimeMillis(), "create", None, None,
      Some(schema.json), adds, Nil, ckptEvery = Some(checkpointEvery),
      maxColId = Some(schema.fields.length))
    if (!tryCommit(dir, c))
      throw new LakeContentionException(s"concurrent create at $dir")
    0L
  }

  /** CONVERT an existing parquet directory into a lake table IN PLACE,
    * zero data rewrite (the CONVERT TO DELTA migration shape): list the
    * parquet files, read their FOOTERS for rows/bytes/min-max
    * (distributed over executors when the list is large — the same
    * machinery every commit uses), and commit v0 referencing the files
    * where they already are. At 100 TB this is the adoption path:
    * metadata-only, cost ∝ file COUNT, never data volume.
    *
    * The adopted schema carries NO field ids (the files were written
    * without them), so the table starts name-keyed — Spark's field-id
    * read only engages for fields with id metadata, and columns added by
    * LATER evolution get fresh ids stamped into the files that carry
    * them, so the mixture stays sound. Stats are keyed by column name
    * for the same reason. Hive-partitioned layouts (`col=value`
    * subdirectories) are REFUSED: their partition values live in paths,
    * not footers, and silently adopting the files would drop those
    * columns — rewrite into a clustered lake table instead (the lake's
    * clustering-over-partitioning posture). */
  def convert(spark: SparkSession, dir: String,
      checkpointEvery: Int = 10): Long = {
    require(latestVersion(dir) < 0, s"already a lake table: $dir")
    val root = new File(dir)
    require(root.isDirectory, s"not a directory: $dir")
    val rels = scala.collection.mutable.ArrayBuffer.empty[String]
    def walk(f: File, rel: String): Unit =
      if (f.isDirectory) {
        require(!f.getName.contains("="),
          s"hive-partitioned layout ($rel): partition values live in the " +
            "path, not the files — read and write into a clustered lake " +
            "table instead of converting in place")
        Option(f.listFiles()).getOrElse(Array.empty)
          .filterNot(c => c.getName.startsWith("_") || c.getName.startsWith("."))
          .foreach(c => walk(c, if (rel.isEmpty) c.getName else s"$rel/${c.getName}"))
      } else if (f.getName.endsWith(".parquet")) rels += rel
    walk(root, "")
    require(rels.nonEmpty, s"no parquet files under $dir")
    val schema = StructType(spark.read
      .parquet(rels.toSeq.map(r => s"$dir/$r"): _*).schema.fields
      .map(f => f.copy(metadata = org.apache.spark.sql.types.Metadata.empty)))
    val stats = footerStats(spark, rels.toSeq.sorted.map(r => s"$dir/$r"))
    val adds = rels.toSeq.sorted.map { rel =>
      val (rows, bytes, cs) = stats(s"$dir/$rel")
      AddFile(rel, rows, bytes, cs)
    }
    val c = Commit(0L, System.currentTimeMillis(), "convert", None, None,
      Some(schema.json), adds, Nil, ckptEvery = Some(checkpointEvery),
      maxColId = Some(0))
    if (!tryCommit(dir, c))
      throw new LakeContentionException(s"concurrent create at $dir")
    0L
  }

  /** SHALLOW CLONE: a new lake table whose v0 commit references the
    * SOURCE table's current files by ABSOLUTE path — zero bytes copied,
    * so cloning a 100 TB corpus for an experiment costs one metadata
    * commit. The clone is fully independent from then on: its writes
    * (appends, CoW/MoR DML, OPTIMIZE) land in its own directory, its
    * reads pin its own log, and its vacuum NEVER reclaims absolute
    * references (the source owns those bytes). Schema, field ids,
    * retired names, properties (clusterBy + generation tags included)
    * and cluster boundaries carry over, so pruning, rename-stable reads
    * and incremental clustering behave identically on day one. Caveat
    * (Delta's too): a keepHistory=false vacuum on the SOURCE can
    * reclaim files the clone still references — clone from tables whose
    * history retention you control. */
  def shallowClone(spark: SparkSession, srcDir: String, dstDir: String,
      checkpointEvery: Int = 10, asOf: Option[Long] = None): Long = {
    require(latestVersion(dstDir) < 0, s"lake table already exists: $dstDir")
    val src = GraftLakeSource.normalizePath(srcDir)
    // asOf = TIME-TRAVEL CLONE (SHALLOW CLONE s VERSION AS OF n): pin a
    // past snapshot as a standalone table — the reproducible-training
    // move ("run X trained on corpus v42") without keeping the source's
    // whole history alive for readers
    val snap = snapshot(spark, src, asOf)
    val adds = snap.files.map { f =>
      f.copy(path = absPath(src, f.path),
        dv = f.dv.map(d => d.copy(path = absPath(src, d.path))))
    }
    val props: Seq[(String, Option[String])] =
      snap.props.toSeq.map { case (k, v) => k -> Some(v) }
    val c = Commit(0L, System.currentTimeMillis(), "clone", None, None,
      Some(snap.schema.json), adds, Nil, ckptEvery = Some(checkpointEvery),
      maxColId = Some(snap.maxColId),
      retiredNames = snap.retired.toSeq,
      props = props, clusterBounds = snap.clusterBounds)
    if (!tryCommit(dstDir, c))
      throw new LakeContentionException(s"concurrent create at $dstDir")
    0L
  }

  /** Append-only commit; never conflicts, so losers just re-fence at the
    * next version. New nullable columns evolve the table schema (each
    * assigned a fresh, never-reused field id); a type conflict on a
    * shared column is rejected. */
  def append(df: DataFrame, dir: String, numFiles: Int = 0): Long = {
    val spark = df.sparkSession
    val pre = snapshot(spark, dir)
    val merged0 = mergeSchemas(pre.schema, df.schema, pre.maxColId, pre.retired)
    // clustered table: best-effort WRITE-side clustering — sort the batch
    // within its partitions by the cluster z-value (narrow, no shuffle;
    // one approxQuantile pass over the batch) so new files land with
    // tight per-file envelopes on the cluster columns. Cross-file
    // clustering stays OPTIMIZE's job (Delta's clustered-write posture).
    val staged = clusterByOf(pre).filter(_.forall(df.columns.contains)) match {
      case Some(cols) => df.sortWithinPartitions(clusterSortKey(pre, df, cols))
      case None => df
    }
    val batch = stage(staged, dir, numFiles, merged0, Some(pre))
    val adds = batch.adds
    val (v, committed) = discardOnThrow(dir, adds) { retry(dir, "append", Some(pre)) { snap =>
      fenceConstraints(batch, snap, "append")
      val merged = mergedUnderFence(snap, df.schema, merged0, "append")
      val schemaJson = if (merged == snap.schema) None else Some(merged.json)
      Some((Commit(snap.version + 1, System.currentTimeMillis(), "append",
        None, None, schemaJson, adds, Nil,
        maxColId = Some(maxIdOf(merged, snap.maxColId))), (snap.version + 1, snap)))
    } }.get
    maybeAutoCompact(spark, dir, committed, adds)
    v
  }

  /** Delta's autoCompact, as a folded table property: once the table
    * carries `autoCompact = true` and the small-file census crosses the
    * consolidation threshold, the append that tipped it runs a bare
    * OPTIMIZE inline (clusters if clusterBy is set, bin-packs
    * otherwise) — amortized O(1) rewrites per append, no nightly job to
    * forget. Best-effort by design: the append ALREADY committed, so a
    * compaction failure warns instead of failing a write that landed. */
  /** Victim cap for ONE inline auto-compaction (≈2 GB at the 32 MB
    * small-file bar): bounds the latency the TIPPING append pays. A
    * bigger backlog (a converted table with 10⁴ small files, say)
    * amortizes — each subsequent append past the threshold folds
    * another capped slice until the census drops under it. Measured in
    * r13 (local[8], ~100-row small files): a plain append 0.15–0.19 s;
    * the tipping append with the cap 0.56–0.62 s folding ~62 files,
    * invariant from a 128- to a 256-file backlog; the uncapped fold of
    * the remainder grows with the backlog (0.41 s → 0.79 s). */
  private[graft] val AutoCompactMaxVictims = 64

  /** Decides from `base`, the snapshot the append committed on top of,
    * plus the commit's `adds` — exactly the state it published, with no
    * fresh fold. */
  private def maybeAutoCompact(spark: SparkSession, dir: String,
      base: Snapshot, adds: Seq[AddFile]): Unit = {
    if (!base.props.get("autoCompact").exists(_.equalsIgnoreCase("true"))) return
    if ((base.files ++ adds).count(_.bytes < (32L << 20)) < ConsolidateSmallGenerations)
      return
    try { optimize(spark, dir, maxVictims = AutoCompactMaxVictims); () } catch {
      case e: Exception => System.err.println(
        s"[graft-lake] auto-compact at $dir failed (the append already " +
          s"committed): $e")
    }
  }

  /** Recompute the evolved schema from the LATEST snapshot while keeping
    * the ids the already-staged files were stamped with; a racing commit
    * that bound one of this writer's new columns (or ids) differently is
    * unrecoverable without restaging, so fail loudly instead of
    * committing files whose ids would resolve to the wrong column. */
  private def mergedUnderFence(snap: Snapshot, incoming: StructType,
      staged: StructType, op: String): StructType = {
    val merged = mergeSchemas(snap.schema, incoming, snap.maxColId, snap.retired, pinned = staged)
    incoming.fieldNames.foreach { n =>
      if (statsKey(merged, n) != statsKey(staged, n))
        throw new LakeContentionException(
          s"$op: column '$n' was concurrently bound to a different field id; retry")
    }
    val ids = merged.fields.flatMap(idOf)
    if (ids.distinct.length != ids.length)
      throw new LakeContentionException(
        s"$op: concurrent schema evolution produced a field-id collision; retry")
    merged
  }

  private def maxIdOf(schema: StructType, floor: Int): Int =
    math.max(floor, schema.fields.flatMap(idOf).foldLeft(0L)(math.max).toInt)

  /** INSERT OVERWRITE / SaveMode.Overwrite: one commit replaces the whole
    * active file set with the staged data. History is kept (the replaced
    * snapshot stays time-travelable until vacuum). Schema follows the
    * same evolution rule as [[append]]: new nullable columns widen the
    * table, a type conflict on a shared column is rejected. */
  def overwrite(df: DataFrame, dir: String, numFiles: Int = 0): Long = {
    val spark = df.sparkSession
    val pre = snapshot(spark, dir)
    val merged0 = mergeSchemas(pre.schema, df.schema, pre.maxColId, pre.retired)
    val batch = stage(df, dir, numFiles, merged0, Some(pre))
    val adds = batch.adds
    discardOnThrow(dir, adds) { retry(dir, "overwrite", Some(pre)) { snap =>
      fenceConstraints(batch, snap, "overwrite")
      val merged = mergedUnderFence(snap, df.schema, merged0, "overwrite")
      val schemaJson = if (merged == snap.schema) None else Some(merged.json)
      Some((Commit(snap.version + 1, System.currentTimeMillis(), "overwrite",
        None, None, schemaJson, adds, snap.files.map(_.path),
        maxColId = Some(maxIdOf(merged, snap.maxColId))), snap.version + 1))
    } }.get
  }

  /** CREATE OR REPLACE TABLE ... AS SELECT: ONE atomic commit that
    * replaces both the active file set AND the table definition — the
    * new schema is a RESET (old columns are not carried or null-filled),
    * with fresh field ids continuing past `maxColId` so no id is ever
    * reused. Old snapshots stay time-travelable under their own schemas
    * (no current-snapshot read ever touches a pre-replace file, which is
    * why new columns may freely reuse pre-replace names). A racing
    * commit that advances the id space fails the fence loudly — the
    * staged files would carry colliding ids. */
  def replaceTable(df: DataFrame, dir: String, numFiles: Int = 0): Long = {
    val spark = df.sparkSession
    val pre = snapshot(spark, dir)
    val firstId = pre.maxColId + 1
    val schema = StructType(df.schema.fields.zipWithIndex.map {
      case (f, i) => withId(f, firstId + i)
    })
    val batch = stage(df, dir, numFiles, schema, Some(pre))
    val adds = batch.adds
    discardOnThrow(dir, adds) { retry(dir, "replace", Some(pre)) { snap =>
      fenceConstraints(batch, snap, "replace")
      if (snap.maxColId >= firstId)
        throw new LakeContentionException(
          s"replace at $dir raced a schema-evolving commit; retry")
      // REPLACE swaps both data and schema: persisted bucket boundaries
      // describe the OLD distribution (always stale now), and a clusterBy
      // referencing columns the new schema lacks would make the next bare
      // OPTIMIZE fail on an unresolvable column — drop what dangles, keep
      // what still resolves (it re-clusters the fresh data next OPTIMIZE)
      val danglingCluster = clusterByOf(snap)
        .filterNot(_.forall(schema.fieldNames.contains))
        .map(_ => ClusterByKey -> None).toSeq
      // bloom columns the new schema lacks dangle the same way: keep the
      // survivors (they bloom the fresh data), unset what no longer
      // resolves, drop orphaned NDV overrides
      val oldBloom = bloomColsIn(snap.props)
      val keptBloom = oldBloom.filter(schema.fieldNames.contains)
      val danglingBloom: Seq[(String, Option[String])] =
        (if (keptBloom == oldBloom) Nil
        else Seq(BloomColsKey ->
          (if (keptBloom.nonEmpty) Some(keptBloom.mkString(",")) else None))) ++
          snap.props.keys.filter(k => k.startsWith(BloomNdvPrefix) &&
            !schema.fieldNames.contains(k.stripPrefix(BloomNdvPrefix)))
            .map(_ -> None).toSeq
      Some((Commit(snap.version + 1, System.currentTimeMillis(), "replace",
        None, None, Some(schema.json), adds, snap.files.map(_.path),
        maxColId = Some(firstId + df.schema.fields.length - 1),
        props = danglingCluster ++ danglingBloom,
        clusterBounds = if (snap.clusterBounds.isDefined) Some("") else None),
        snap.version + 1))
    } }.get
  }

  /** Copy-on-write UPDATE: rows matching `predicate` get each `set`
    * column replaced (all assignment values evaluate against the PRE-update
    * row, SQL UPDATE semantics); only stat-overlapping files rewrite.
    * Values are cast to the column's declared type. */
  def update(spark: SparkSession, dir: String, predicate: Column,
      set: Seq[(String, Column)]): Long = {
    rewrite(spark, dir, "update", predicate) { (hit, snap) =>
      val byName = set.toMap
      set.foreach { case (name, _) =>
        require(snap.schema.fieldNames.contains(name),
          s"UPDATE sets unknown column '$name'")
      }
      val matched = coalesce(predicate, lit(false))
      hit.select(snap.schema.fields.toIndexedSeq.map { f =>
        byName.get(f.name) match {
          case Some(v) =>
            when(matched, v.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
          case None => col(f.name)
        }
      }: _*)
    }
  }

  /** Exactly-once streaming append: the log tracks each appId's
    * high-water epoch (carried through checkpoints, so the fence survives
    * log truncation), and a replayed epoch <= that watermark commits
    * nothing. Epochs must be monotonic per appId — exactly Structured
    * Streaming's foreachBatch contract. */
  def appendStreamBatch(df: DataFrame, dir: String, appId: String,
      epochId: Long, numFiles: Int = 0): Boolean = {
    def fenced(snap: Snapshot): Boolean = snap.txns.get(appId).exists(_ >= epochId)
    val pre = snapshot(df.sparkSession, dir)
    if (fenced(pre)) return false
    // clustered table: streaming batches best-effort sort like appends
    // (narrow, no shuffle) so continuously-ingested files land with
    // tight envelopes on the cluster columns between OPTIMIZE runs
    val staged = clusterByOf(pre).filter(_.forall(df.columns.contains)) match {
      case Some(cols) => df.sortWithinPartitions(clusterSortKey(pre, df, cols))
      case None => df
    }
    val batch = stage(staged, dir, numFiles, pre.schema, Some(pre))
    val adds = batch.adds
    val committed = discardOnThrow(dir, adds) { retry(dir, "stream-append", Some(pre)) { snap =>
      fenceConstraints(batch, snap, "stream-append")
      // re-check under the fence: a racing attempt of the SAME epoch may
      // have won a version while we staged
      if (fenced(snap)) None
      else
        Some((Commit(snap.version + 1, System.currentTimeMillis(), "stream-append",
          Some(appId), Some(epochId), None, adds, Nil), snap))
    } }
    committed match {
      case None => adds.foreach(a => new File(dir, a.path).delete())
      case Some(base) => maybeAutoCompact(df.sparkSession, dir, base, adds)
    }
    committed.isDefined
  }

  /** Copy-on-write DELETE: only files whose stats overlap the predicate
    * are rewritten; everything else is untouched (same physical file).
    * The rewrite is recomputed from the latest snapshot on every fence
    * retry, so concurrent appends are never lost. */
  def delete(spark: SparkSession, dir: String, predicate: Column): Long =
    rewrite(spark, dir, "delete", predicate) { (hit, _) =>
      hit.filter(!coalesce(predicate, lit(false)))
    }

  /** Merge-on-read DELETE — deletion vectors instead of copy-on-write:
    * matched rows are recorded as `_metadata.row_index` positions in a
    * roaring-bitmap SIDECAR per file, and the commit re-adds each touched
    * AddFile with the (old ∪ new) DV reference — no parquet rewrite, so a
    * point delete costs O(matched rows) bitmap bytes instead of O(victim
    * file bytes) (the write-amplification wall CoW hits at 100 TB with
    * row-level deletes; Delta/Iceberg-v2 position deletes, re-derived).
    *
    * Read-path contract: EVERY reader applies DVs — [[readFiles]] (read /
    * scan / CoW victim selection / optimize / zorder), the
    * planner-integrated [[LakeFileIndex]] path (via the DML rule's
    * DV-splitting rewrite), [[changes]] (a grown DV emits exactly the
    * delta positions as deletes, via AddFile-identity diff + net
    * `exceptAll`), and the streaming source (fails fast or skips the
    * commit like any row-removing op; the initial snapshot applies DVs).
    *
    * Positions aggregate as bitmaps ON EXECUTORS (map-side partials, one
    * shuffle of compressed partials per file) — the driver only handles
    * KB-sized compressed bitmaps. A file whose DV reaches every row is
    * dropped from the table outright (no sidecar, no re-add). Stats stay
    * as written (a DV only shrinks the rowset — pruning bounds remain a
    * sound superset); [[optimize]] treats DV-carrying files as rewrite
    * candidates, which purges the vectors back out of the steady state. */
  def deleteMoR(spark: SparkSession, dir: String, predicate: Column): Long =
    retry(dir, "delete-mor") { snap =>
      val hit = overlapping(snap, predicate)
      if (hit.isEmpty) None
      else {
        val marked = markDeletedPositions(spark, snap, hit, predicate)
        if (marked.isEmpty) None
        else {
          val (rm, dvAdds) = dvGrow(dir,
            hit.map(f => baseName(f.path) -> f).toMap, marked)
          if (rm.isEmpty) None
          else Some((Commit(snap.version + 1, System.currentTimeMillis(),
            "delete-mor", None, None, None, dvAdds, rm),
            snap.version + 1))
        }
      }
    }.getOrElse(latestVersion(dir))

  /** Merge-on-read UPDATE — the DV twin of [[update]]: matched rows are
    * marked deleted in their files' deletion vectors and their UPDATED
    * versions land in fresh files, ONE commit for both — write cost is
    * O(matched rows) (bitmap bytes + just the updated rows' parquet)
    * instead of CoW's O(victim file bytes), the same wall [[deleteMoR]]
    * removes for deletes. Assignment values evaluate against the
    * PRE-update row (SQL UPDATE semantics), cast to the declared types.
    * All DV read-path guarantees apply unchanged: the commit nets to
    * delete(old)+insert(new) in [[changes]]/the CDC stream, RESTORE rolls
    * both the DV and the new files back, OPTIMIZE purges the vectors. */
  def updateMoR(spark: SparkSession, dir: String, predicate: Column,
      set: Seq[(String, Column)]): Long =
    retry(dir, "update-mor") { snap =>
      set.foreach { case (name, _) =>
        require(snap.schema.fieldNames.contains(name),
          s"UPDATE sets unknown column '$name'")
      }
      val hit = overlapping(snap, predicate)
      if (hit.isEmpty) None
      else {
        val marked = markDeletedPositions(spark, snap, hit, predicate)
        if (marked.isEmpty) None
        else {
          val (rm, dvAdds) = dvGrow(dir,
            hit.map(f => baseName(f.path) -> f).toMap, marked)
          // the updated rows: LIVE matching rows with assignments applied
          val byName = set.toMap
          val markedFiles = marked.keySet
          val sources = hit.filter(f => markedFiles.contains(baseName(f.path)))
          val updated = readFiles(spark, snap, sources.map(f => absPath(dir, f.path)))
            .filter(coalesce(predicate, lit(false)))
            .select(snap.schema.fields.toIndexedSeq.map { fld =>
              byName.get(fld.name).map(_.cast(fld.dataType).as(fld.name))
                .getOrElse(col(fld.name))
            }: _*)
          val newAdds = stage(updated, dir, 0, snap.schema, Some(snap)).adds
          Some((Commit(snap.version + 1, System.currentTimeMillis(),
            "update-mor", None, None, None, dvAdds ++ newAdds, rm),
            snap.version + 1))
        }
      }
    }.getOrElse(latestVersion(dir))

  /** Scan `files` exposing per-row (`__gl_file` = basename, `__gl_pos` =
    * row index) alongside `schema`'s columns, with already-deleted
    * positions subtracted — the shared victim-read for MoR DML. Clean
    * and DV-carrying files split into two FileSourceScans under one
    * union (both keep pushdown/pruning); descriptors ride the per-file
    * metadata, never the plan. */
  private def scanWithPositions(spark: SparkSession, snap: Snapshot,
      files: Seq[AddFile], schema: StructType): DataFrame = {
    ensureFieldIdRead(spark)
    val outCols = Seq(col("_metadata.file_name").as("__gl_file"),
      col("_metadata.row_index").as("__gl_pos")) ++
      schema.fieldNames.map(col).toSeq
    def branch(group: Seq[AddFile], withDv: Boolean): Option[DataFrame] =
      if (group.isEmpty) None
      else {
        val idx = new LakeFileIndex(spark, snap.dir, None,
          Some(snap.copy(schema = schema, files = group)), Some(withDv))
        val df = spark.baseRelationToDataFrame(
          LakeFileIndex.relationFor(spark, idx))
        val live = if (withDv) df.where(!dvDeletedCol()) else df
        Some(live.select(outCols: _*))
      }
    val (dvd, clean) = files.partition(_.dv.isDefined)
    (branch(clean, withDv = false), branch(dvd, withDv = true)) match {
      case (Some(c), Some(d)) => c.unionByName(d)
      case (Some(c), None) => c
      case (None, Some(d)) => d
      case (None, None) =>
        emptyDf(spark, StructType(
          StructField("__gl_file", org.apache.spark.sql.types.StringType) +:
          StructField("__gl_pos", org.apache.spark.sql.types.LongType) +:
          schema.fields.toSeq))
    }
  }

  /** Per-file bitmaps of LIVE rows matching `predicate`: map-side partial
    * bitmaps, merged per file, collected as compressed bytes (basename →
    * bitmap). Already-deleted rows are filtered first, so a no-new-rows
    * file simply doesn't appear. */
  private def markDeletedPositions(spark: SparkSession, snap: Snapshot,
      files: Seq[AddFile], predicate: Column): Map[String, Array[Byte]] = {
    import spark.implicits._
    val pairs = scanWithPositions(spark, snap, files, snap.schema)
      .filter(predicate)
      .select(col("__gl_file"), col("__gl_pos")).as[(String, Long)]
    bitmapsOf(pairs)
  }

  /** Per-file roaring bitmaps of (basename, position) pairs: map-side
    * partial bitmaps, merged per file on executors, collected as
    * compressed bytes — the driver never sees raw positions. */
  private def bitmapsOf(pairs: org.apache.spark.sql.Dataset[(String, Long)])
      : Map[String, Array[Byte]] = {
    import pairs.sparkSession.implicits._
    val partials = pairs.mapPartitions { it =>
      val m = scala.collection.mutable.HashMap.empty[String, org.roaringbitmap.longlong.Roaring64Bitmap]
      it.foreach { case (f, p) =>
        m.getOrElseUpdate(f, new org.roaringbitmap.longlong.Roaring64Bitmap()).addLong(p)
      }
      m.iterator.map { case (f, bm) => (f, DeletionVector.toBytes(bm)) }
    }
    partials.groupByKey(_._1).mapGroups { (f, it) =>
      val acc = new org.roaringbitmap.longlong.Roaring64Bitmap()
      it.foreach { case (_, b) => acc.or(DeletionVector.fromBytes(b)) }
      (f, DeletionVector.toBytes(acc))
    }.collect().toMap
  }

  /** Union `marked` positions into each victim's existing DV and build
    * the commit's (removes, DV re-adds): a grown vector is a NEW sidecar,
    * a vector covering every row drops the file outright, an unchanged
    * vector leaves the file alone. Shared by [[deleteMoR]] /
    * [[updateMoR]] / [[mergeIntoMoR]]. */
  private def dvGrow(dir: String, byBase: Map[String, AddFile],
      marked: Map[String, Array[Byte]]): (Seq[String], Seq[AddFile]) = {
    val removes = Seq.newBuilder[String]
    val adds = Seq.newBuilder[AddFile]
    marked.foreach { case (base, newBytes) =>
      val f = byBase(base)
      val bm = DeletionVector.fromBytes(newBytes)
      f.dv.foreach(d => bm.or(DeletionVector.read(fileAt(dir, d.path))))
      val card = bm.getLongCardinality
      if (card != f.dv.map(_.cardinality).getOrElse(0L)) {
        removes += f.path
        if (card < f.rows) {
          val rel = s"dv/dv-${UUID.randomUUID()}.bin"
          DeletionVector.write(new File(dir, rel), bm)
          adds += f.copy(dv = Some(DvRef(rel, card)))
        }
      }
    }
    (removes.result(), adds.result())
  }

  /** Copy-on-write MERGE (upsert by `key`): files possibly holding an
    * update key are rewritten with matched rows replaced; all update rows
    * (matched + new) are written once. Conservative stats pruning keeps
    * the candidate set sound: a key outside the candidates cannot exist
    * in the table. */
  def merge(spark: SparkSession, dir: String, updates: DataFrame,
      key: String): Long = {
    val upd = updates.cache()
    try {
      val (lo, hi, n, nKeys, nNullKeys) = {
        val r = upd.agg(min(col(key)), max(col(key)), count(lit(1)),
          count_distinct(col(key)), count(when(col(key).isNull, 1))).collect()(0)
        (Option(r.get(0)), Option(r.get(1)), r.getLong(2), r.getLong(3),
          r.getLong(4))
      }
      if (n == 0) return latestVersion(dir)
      // NULL merge keys have no defined match semantics (SQL equality
      // never matches NULL, so a NULL-key "update" could only ever insert
      // — and count_distinct ignores NULLs, which would otherwise make
      // the duplicate-key guard below fire with a misleading message).
      // Reject them explicitly, Delta's behavior for null-unsafe merge keys.
      require(nNullKeys == 0,
        s"merge updates contain $nNullKeys NULL '$key' value(s); " +
          "NULL merge keys are not supported — filter them out or assign keys")
      // ambiguous-merge guard (same contract as Delta's "multiple source
      // rows matched"): two update rows with one key would BOTH survive
      // the anti-join ∪ updates rewrite, silently corrupting key
      // uniqueness — reject instead
      require(nKeys == n,
        s"merge updates contain duplicate '$key' values ($n rows, $nKeys keys)")
      retryRewrite(spark, dir, "merge") { snap =>
        val candidates = snap.files.filter { f =>
          f.stats.get(statsKey(snap.schema, key)) match {
            case Some(st) if st.min.isDefined && st.max.isDefined =>
              (lo, hi) match {
                case (Some(l), Some(h)) =>
                  (for {
                    c1 <- cmpOpt(st.kind, st.max.get, l.toString)
                    c2 <- cmpOpt(st.kind, st.min.get, h.toString)
                  } yield c1 >= 0 && c2 <= 0).getOrElse(true)
                case _ => true
              }
            case _ => true // no stats — must assume it can hold the key
          }
        }
        val base =
          if (candidates.isEmpty) emptyDf(spark, snap.schema)
          else readFiles(spark, snap, candidates.map(f => absPath(dir, f.path)))
        val rewritten = base.join(upd.select(col(key)).distinct(), Seq(key), "left_anti")
          .unionByName(upd, allowMissingColumns = true)
        (candidates, rewritten)
      }
    } finally { upd.unpersist(); () }
  }

  // ── general MERGE INTO (SQL MERGE semantics) ─────────────────────────

  /** `WHEN MATCHED [AND cond] THEN UPDATE SET ... | DELETE` clause.
    * Conditions and SET values reference target columns as `t.<col>` and
    * source columns as `s.<col>` (the frames are aliased internally). */
  sealed trait MatchedClause
  final case class MatchedUpdate(condition: Option[Column],
      set: Seq[(String, Column)]) extends MatchedClause
  final case class MatchedDelete(condition: Option[Column] = None)
      extends MatchedClause
  /** `WHEN NOT MATCHED [AND cond] THEN INSERT (cols) VALUES (...)`;
    * unassigned target columns insert NULL. Values reference `s.<col>`. */
  final case class NotMatchedInsert(condition: Option[Column],
      values: Seq[(String, Column)])

  /** The clause-chain machinery shared by [[mergeInto]] (copy-on-write)
    * and [[mergeIntoMoR]] (deletion vectors): struct-typed CASE chains
    * over the `t.`/`s.` aliased join, first-applicable-clause semantics. */
  private final case class MergeChains(fields: IndexedSeq[StructField],
      matched: Seq[MatchedClause], notMatched: Seq[NotMatchedInsert],
      notMatchedBySource: Seq[MatchedClause]) {
    val rowT: StructType = StructType(fields.map(f =>
      StructField(f.name, f.dataType, nullable = true)))
    val nullRow: Column = lit(null).cast(rowT)
    def keepStruct: Column =
      struct(fields.map(f => col(s"t.${f.name}").as(f.name)): _*)

    def validate(): Unit = {
      val names = fields.map(_.name).toSet
      (matched ++ notMatchedBySource).foreach {
        case MatchedUpdate(_, set) => set.foreach { case (n, _) =>
          require(names.contains(n), s"MERGE UPDATE sets unknown column '$n'") }
        case _ => ()
      }
      notMatched.foreach(c => c.values.foreach { case (n, _) =>
        require(names.contains(n), s"MERGE INSERT targets unknown column '$n'") })
    }

    def chain(cs: Seq[MatchedClause]): Column =
      cs.foldRight(keepStruct) { (c, els) =>
        c match {
          case MatchedUpdate(cond, set) =>
            val byName = set.toMap
            val updated = struct(fields.map { f =>
              byName.get(f.name).map(_.cast(f.dataType))
                .getOrElse(col(s"t.${f.name}")).as(f.name)
            }: _*)
            when(cond.getOrElse(lit(true)), updated).otherwise(els)
          case MatchedDelete(cond) =>
            when(cond.getOrElse(lit(true)), nullRow).otherwise(els)
        }
      }

    val insertChain: Column =
      notMatched.foldRight(nullRow) { (c, els) =>
        val byName = c.values.toMap
        val ins = struct(fields.map { f =>
          byName.get(f.name).map(_.cast(f.dataType))
            .getOrElse(lit(null).cast(f.dataType)).as(f.name)
        }: _*)
        when(c.condition.getOrElse(lit(true)), ins).otherwise(els)
      }

    /** True iff SOME clause of `cs` fires for this row — the row is
      * touched (updated or deleted); an unfired row keeps its place. */
    def fired(cs: Seq[MatchedClause]): Column =
      cs.map {
        case MatchedUpdate(c, _) => c.getOrElse(lit(true))
        case MatchedDelete(c) => c.getOrElse(lit(true))
      }.foldLeft(lit(false))(_ || _)
  }

  /** General copy-on-write MERGE INTO — full SQL MERGE semantics over an
    * arbitrary join condition, the operation `merge` (upsert-by-key)
    * cannot express. Clause semantics follow the standard (and Delta):
    * the FIRST clause of the applicable class whose condition holds fires;
    * a target row matched by MORE than one source row while any matched
    * clause exists is an error (ambiguous merge — which update wins would
    * be nondeterministic); `notMatchedBySource` clauses fire for target
    * rows with no source match.
    *
    * Scale shape (Delta's two-phase plan): victim files are found by a
    * stats prune on the first `t.k = s.k` equi-conjunct's source bounds,
    * then an exact `input_file_name` semi-join over just the candidates —
    * only files PROVABLY holding a matched row rewrite (all active files
    * when `notMatchedBySource` forces a whole-table pass). The rewrite is
    * ONE full-outer join of victims × source projected through the clause
    * chain in a single pass — no per-clause scans. The per-target-row
    * match count rides a window keyed (tid, sid-for-inserts) so unmatched
    * source rows never collapse into one null partition.
    *
    * Reference semantics: SQL:2003 MERGE; the conflict contract matches
    * Delta's multipleSourceRowMatchingTargetRowInMergeException.
    *
    * `newColumns` evolves the table schema ATOMICALLY with the merge:
    * each new column gets a fresh field id and the add-column metadata
    * lands in the SAME commit as the rewrite (Delta's evolving-merge
    * shape — a failed merge leaves no half-applied schema behind). The
    * clause chains may then reference the new columns freely, both in
    * explicit assignments and inserts; existing files null-fill them.
    *
    * Clause-shape fast paths (both matter at 100 TB):
    *  - INSERT-ONLY merge (no matched / not-matched-by-source clause):
    *    matched target files are NOT rewritten — victims = none, the
    *    commit is adds-only, and duplicate source matches are legal
    *    (Delta's insert-only optimization; a naive full-outer rewrite
    *    would silently DUPLICATE a target row matched by two source
    *    rows, since each join match emits one keep-row).
    *  - a merge with not-matched-by-source but NO matched clause keeps
    *    matched target rows via a LEFT SEMI join (once each, however
    *    many source rows matched) instead of the full-outer chain —
    *    same duplication hazard, same fix; the ambiguity guard stays
    *    reserved for merges where an update/delete would actually be
    *    nondeterministic. */
  def mergeInto(spark: SparkSession, dir: String, source: DataFrame,
      condition: Column, matched: Seq[MatchedClause],
      notMatched: Seq[NotMatchedInsert],
      notMatchedBySource: Seq[MatchedClause] = Nil,
      newColumns: Seq[StructField] = Nil): Long = {
    require(matched.nonEmpty || notMatched.nonEmpty || notMatchedBySource.nonEmpty,
      "MERGE INTO needs at least one WHEN clause")
    val src = source.cache()
    // one agg per distinct equi source column across fence retries:
    // (min, max, rows, distinct keys) — bounds drive the stats prune,
    // rows==distinct proves each target row can match at most ONE source
    // row (extra conjuncts only ever REMOVE matches), which lets the
    // ambiguity window — a whole extra shuffle of victims × source — be
    // skipped in the dominant unique-key-merge case
    val srcAgg = scala.collection.mutable.Map.empty[String, (Option[Any], Option[Any], Long, Long)]
    def aggOf(sCol: String): (Option[Any], Option[Any], Long, Long) =
      srcAgg.getOrElseUpdate(sCol, {
        val r = src.agg(min(col(sCol)), max(col(sCol)), count(lit(1)),
          count_distinct(col(sCol))).collect()(0)
        (Option(r.get(0)), Option(r.get(1)), r.getLong(2), r.getLong(3))
      })
    try {
      retryRewriteEvolving(spark, dir, "merge-into") { snap =>
        // schema evolution, recomputed under the fence each attempt (a
        // racing commit may have advanced the id space or already added
        // the column — mergeSchemas dedups by name, type-checked)
        val evolved =
          if (newColumns.isEmpty) snap.schema
          else mergeSchemas(snap.schema, StructType(newColumns.toArray),
            snap.maxColId, snap.retired)
        val snapE = snap.copy(schema = evolved,
          maxColId = maxIdOf(evolved, snap.maxColId))
        val schemaOut = if (evolved == snap.schema) None else Some(evolved)
        val fields = evolved.fields.toIndexedSeq
        val ch = MergeChains(fields, matched, notMatched, notMatchedBySource)
        ch.validate()

        val equi = mergeEquiCol(spark, snapE, src, condition)
        val uniqueMatch = equi.exists { case (_, sCol) =>
          val (_, _, n, d) = aggOf(sCol); n == d
        }

        // stats-pruned candidates: files that MAY hold a source-matched
        // row per the first equi-conjunct's source bounds (conservative —
        // a key outside the candidates provably isn't in the table)
        val cand: Seq[AddFile] = equi match {
          case Some((tCol, sCol)) =>
            val (lo, hi, _, _) = aggOf(sCol)
            (lo, hi) match {
              case (Some(l), Some(h)) =>
                snap.files.filter { f =>
                  f.stats.get(statsKey(evolved, tCol)) match {
                    case Some(st) if st.min.isDefined && st.max.isDefined =>
                      (for {
                        c1 <- cmpOpt(st.kind, st.max.get, l.toString)
                        c2 <- cmpOpt(st.kind, st.min.get, h.toString)
                      } yield c1 >= 0 && c2 <= 0).getOrElse(true)
                    case _ => true
                  }
                }
              case _ => snap.files // all-null or empty source keys
            }
          case None => snap.files
        }

        def expand(df: DataFrame): DataFrame =
          df.where(col("__gl_r").isNotNull).select("__gl_r.*")

        if (matched.isEmpty && notMatchedBySource.isEmpty) {
          // ── INSERT-ONLY fast path: nothing matched is rewritten, so no
          // victims, no ambiguity guard (duplicate matches are legal —
          // they just suppress the insert), and the commit is adds-only.
          // The anti-join target is the stats-pruned candidate set: any
          // target row a source row could match lives there.
          val tgt =
            if (cand.isEmpty) emptyDf(spark, evolved)
            else readFiles(spark, snapE, cand.map(f => absPath(dir, f.path)))
          val inserts = src.alias("s").join(tgt.alias("t"), condition, "left_anti")
            .select(ch.insertChain.as("__gl_r"))
          (Nil, expand(inserts), schemaOut, None, None)
        } else {
          // phase 1: victim files. Stats-prune candidates on the first
          // target=source equi-conjunct's source bounds, then the exact
          // touched set via an input_file_name semi-join (candidate files
          // only are scanned; the semi-join broadcasts a small source).
          val victims: Seq[AddFile] =
            if (notMatchedBySource.nonEmpty) snap.files
            else if (cand.isEmpty) Nil
            else {
              val touched = readFiles(spark, snapE, cand.map(f => absPath(dir, f.path)))
                .withColumn("__gl_file", input_file_name()).alias("t")
                .join(src.alias("s"), condition, "left_semi")
                .select(col("__gl_file")).distinct()
                .collect().map(r => baseName(r.getString(0))).toSet
              cand.filter(f => touched.contains(baseName(f.path)))
            }

          val tgt0 =
            if (victims.isEmpty) emptyDf(spark, evolved)
            else readFiles(spark, snapE, victims.map(f => absPath(dir, f.path)))

          if (matched.isEmpty) {
            // ── not-matched-by-source WITHOUT matched clauses: matched
            // target rows are untouched — keep them via LEFT SEMI (once
            // each; the full-outer chain would emit one copy per source
            // match), unmatched target rows run the nmbs chain via LEFT
            // ANTI, inserts come from the source-side anti-join. Three
            // joins, each semi/anti (broadcastable small source), no
            // window — multiple matches are semantically irrelevant here.
            val kept = tgt0.alias("t").join(src.alias("s"), condition, "left_semi")
              .select(fields.map(f => col(f.name)): _*)
            val nmbsRows = expand(
              tgt0.alias("t").join(src.alias("s"), condition, "left_anti")
                .alias("t").select(ch.chain(notMatchedBySource).as("__gl_r")))
            val inserts =
              if (notMatched.isEmpty) emptyDf(spark, evolved)
              else expand(
                src.alias("s").join(tgt0.alias("t"), condition, "left_anti")
                  .select(ch.insertChain.as("__gl_r")))
            (victims, kept.unionByName(nmbsRows).unionByName(inserts), schemaOut, None, None)
          } else {
            // phase 2: one full-outer join of victims × source, projected
            // through the clause chains in a single pass.
            val t = tgt0.withColumn("__gl_tid", monotonically_increasing_id()).alias("t")
            val s2 = src.withColumn("__gl_sid", monotonically_increasing_id()).alias("s")
            val joined = t.join(s2, condition, "full_outer")
            val isMatched = col("t.__gl_tid").isNotNull && col("s.__gl_sid").isNotNull

            // ambiguity guard: >1 source match for one target row while a
            // matched clause exists is nondeterministic — reject. Skipped
            // when the equi key is distinct in the source (each target row
            // then matches at most once — the window's shuffle of victims ×
            // source is pure cost). Unmatched source rows get their own
            // window partition via sid (a shared null-tid partition would
            // serialize every insert through one task).
            val guarded =
              if (uniqueMatch) joined
              else {
                val w = org.apache.spark.sql.expressions.Window.partitionBy(
                  col("t.__gl_tid"),
                  when(col("t.__gl_tid").isNull, col("s.__gl_sid")).otherwise(lit(0L)))
                joined
                  .withColumn("__gl_n", sum(when(isMatched, 1L).otherwise(0L)).over(w))
                  .where(when(isMatched && col("__gl_n") > 1L,
                    assert_true(lit(false), lit(s"MERGE INTO $dir: a target row " +
                      "matched multiple source rows; make the ON condition more " +
                      "selective or deduplicate the source")).isNotNull)
                    .otherwise(lit(true)))
              }

            val result = when(isMatched, ch.chain(matched))
              .when(col("t.__gl_tid").isNotNull && col("s.__gl_sid").isNull,
                if (notMatchedBySource.isEmpty) ch.keepStruct
                else ch.chain(notMatchedBySource))
              .otherwise(ch.insertChain)
            val replacement = expand(guarded.select(result.as("__gl_r")))
            (victims, replacement, schemaOut, None, None)
          }
        }
      }
    } finally { src.unpersist(); () }
  }

  /** Merge-on-read MERGE INTO — the deletion-vector twin of [[mergeInto]]
    * (Delta's DV merge): target rows a clause actually FIRES on are
    * marked deleted in their files' vectors, and ONLY the changed rows
    * (updates' new versions + inserts) land in fresh files — one commit,
    * write cost O(touched rows) instead of CoW's O(victim file bytes).
    * Rows whose clause conditions all fail keep their physical place (no
    * vector entry, no copy). Same clause semantics, same ambiguity
    * guard/elision, same victim pruning, same atomic `newColumns`
    * evolution; the change feed nets to delete(old)+insert(new) per
    * touched row exactly as CoW does. Insert-only merges delegate to
    * [[mergeInto]], whose adds-only fast path is already optimal. */
  def mergeIntoMoR(spark: SparkSession, dir: String, source: DataFrame,
      condition: Column, matched: Seq[MatchedClause],
      notMatched: Seq[NotMatchedInsert],
      notMatchedBySource: Seq[MatchedClause] = Nil,
      newColumns: Seq[StructField] = Nil): Long = {
    if (matched.isEmpty && notMatchedBySource.isEmpty)
      return mergeInto(spark, dir, source, condition, matched, notMatched,
        notMatchedBySource, newColumns)
    val src = source.cache()
    val srcAgg = scala.collection.mutable.Map.empty[String, (Option[Any], Option[Any], Long, Long)]
    def aggOf(sCol: String): (Option[Any], Option[Any], Long, Long) =
      srcAgg.getOrElseUpdate(sCol, {
        val r = src.agg(min(col(sCol)), max(col(sCol)), count(lit(1)),
          count_distinct(col(sCol))).collect()(0)
        (Option(r.get(0)), Option(r.get(1)), r.getLong(2), r.getLong(3))
      })
    try {
      retry(dir, "merge-mor") { snap =>
        val evolved =
          if (newColumns.isEmpty) snap.schema
          else mergeSchemas(snap.schema, StructType(newColumns.toArray),
            snap.maxColId, snap.retired)
        val snapE = snap.copy(schema = evolved,
          maxColId = maxIdOf(evolved, snap.maxColId))
        val fields = evolved.fields.toIndexedSeq
        val ch = MergeChains(fields, matched, notMatched, notMatchedBySource)
        ch.validate()

        val equi = mergeEquiCol(spark, snapE, src, condition)
        val uniqueMatch = equi.exists { case (_, sCol) =>
          val (_, _, n, d) = aggOf(sCol); n == d
        }
        // victims as in mergeInto: stats prune + exact semi-join, or the
        // whole table when not-matched-by-source forces the pass
        val cand: Seq[AddFile] = equi match {
          case Some((tCol, sCol)) =>
            val (lo, hi, _, _) = aggOf(sCol)
            (lo, hi) match {
              case (Some(l), Some(h)) =>
                snap.files.filter { f =>
                  f.stats.get(statsKey(evolved, tCol)) match {
                    case Some(st) if st.min.isDefined && st.max.isDefined =>
                      (for {
                        c1 <- cmpOpt(st.kind, st.max.get, l.toString)
                        c2 <- cmpOpt(st.kind, st.min.get, h.toString)
                      } yield c1 >= 0 && c2 <= 0).getOrElse(true)
                    case _ => true
                  }
                }
              case _ => snap.files
            }
          case None => snap.files
        }
        val victims: Seq[AddFile] =
          if (notMatchedBySource.nonEmpty) snap.files
          else if (cand.isEmpty) Nil
          else {
            val touched = readFiles(spark, snapE, cand.map(f => absPath(dir, f.path)))
              .withColumn("__gl_file", input_file_name()).alias("t")
              .join(src.alias("s"), condition, "left_semi")
              .select(col("__gl_file")).distinct()
              .collect().map(r => baseName(r.getString(0))).toSet
            cand.filter(f => touched.contains(baseName(f.path)))
          }

        // target = victim files' LIVE rows WITH physical positions
        // (clean/DV split scan, per-file descriptors in the FileIndex)
        val tgt = scanWithPositions(spark, snapE, victims, evolved)
        val t = tgt.withColumn("__gl_tid", monotonically_increasing_id()).alias("t")
        val s2 = src.withColumn("__gl_sid", monotonically_increasing_id()).alias("s")
        val joined = t.join(s2, condition, "full_outer")
        val isMatched = col("t.__gl_tid").isNotNull && col("s.__gl_sid").isNotNull
        val tOnly = col("t.__gl_tid").isNotNull && col("s.__gl_sid").isNull
        val guarded =
          if (matched.isEmpty || uniqueMatch) joined
          else {
            val w = org.apache.spark.sql.expressions.Window.partitionBy(
              col("t.__gl_tid"),
              when(col("t.__gl_tid").isNull, col("s.__gl_sid")).otherwise(lit(0L)))
            joined
              .withColumn("__gl_n", sum(when(isMatched, 1L).otherwise(0L)).over(w))
              .where(when(isMatched && col("__gl_n") > 1L,
                assert_true(lit(false), lit(s"MERGE INTO $dir: a target row " +
                  "matched multiple source rows; make the ON condition more " +
                  "selective or deduplicate the source")).isNotNull)
                .otherwise(lit(true)))
          }
        // touched = a clause actually fires; untouched rows keep their
        // physical place (that is the whole point of merge-on-read)
        val touchedT = (isMatched && ch.fired(matched)) ||
          (tOnly && ch.fired(notMatchedBySource))
        val resultMoR = when(isMatched && ch.fired(matched), ch.chain(matched))
          .when(tOnly && ch.fired(notMatchedBySource), ch.chain(notMatchedBySource))
          .when(col("t.__gl_tid").isNull, ch.insertChain)
          .otherwise(ch.nullRow)
        // one join execution feeds both the position bitmaps and the
        // emitted rows
        val slim = guarded.select(col("t.__gl_file").as("__gl_file"),
            col("t.__gl_pos").as("__gl_pos"),
            coalesce(touchedT, lit(false)).as("__gl_touched"),
            resultMoR.as("__gl_r"))
          .localCheckpoint(eager = true)
        import spark.implicits._
        // released once staged and vectored, also when this attempt then
        // loses the fence (the retry re-plans from a fresh snapshot)
        val (newAdds, rm, dvAdds) = try {
          val marked = bitmapsOf(slim.where(col("__gl_touched"))
            .select(col("__gl_file"), col("__gl_pos")).as[(String, Long)])
          val emitted = slim.where(col("__gl_r").isNotNull).select("__gl_r.*")
          val newAdds = stage(emitted, dir, 0, evolved, Some(snap)).adds
          val (rm, dvAdds) = dvGrow(dir,
            victims.map(f => baseName(f.path) -> f).toMap, marked)
          (newAdds, rm, dvAdds)
        } finally LocalCheckpoint.release(slim)
        if (rm.isEmpty && newAdds.isEmpty) None
        else {
          val schemaJson = if (evolved == snap.schema) None else Some(evolved.json)
          Some((Commit(snap.version + 1, System.currentTimeMillis(),
            "merge-mor", None, None, schemaJson, dvAdds ++ newAdds, rm,
            maxColId = schemaJson.map(_ => maxIdOf(evolved, snap.maxColId))),
            snap.version + 1))
        }
      }.getOrElse(latestVersion(dir))
    } finally { src.unpersist(); () }
  }

  /** The first `t.col = s.col` equi-conjunct of a merge condition, found
    * by resolving it against empty aliased frames: drives the victim
    * stats prune AND the unique-source-key proof that elides the
    * ambiguity window. None → no equi linkage (the exact semi-join still
    * narrows victims to truly touched files). */
  private def mergeEquiCol(spark: SparkSession, snap: Snapshot,
      src: DataFrame, condition: Column): Option[(String, String)] = {
    import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression}
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    val equi: Option[(String, String)] = {
      val j = emptyDf(spark, snap.schema).alias("t")
        .join(emptyDf(spark, StructType(src.schema.fields)).alias("s"), condition, "inner")
        .queryExecution.analyzed.collectFirst {
          case jn: org.apache.spark.sql.catalyst.plans.logical.Join => jn
        }
      j.flatMap { jn =>
        val left = jn.left.outputSet
        val right = jn.right.outputSet
        jn.condition.toSeq.flatMap(conjuncts).collectFirst {
          case EqualTo(a: AttributeReference, b: AttributeReference)
              if left.contains(a) && right.contains(b) => (a.name, b.name)
          case EqualTo(b: AttributeReference, a: AttributeReference)
              if right.contains(b) && left.contains(a) => (a.name, b.name)
        }
      }
    }
    equi
  }

  /** Bin-pack small files (< `smallBytes`) into ~`targetBytes` outputs.
    * Pure layout change: same rows before and after; old files stay on
    * disk for time travel until [[vacuum]]. */
  /** `maxVictims` caps how many files ONE run rewrites (smallest first,
    * so the worst small-file offenders fold first): an inline
    * auto-compaction must never make the tipping append pay a whole
    * backlog's fold — the backlog amortizes across subsequent appends
    * instead (figures measured in r13 on [[AutoCompactMaxVictims]]).
    * Explicit OPTIMIZE runs uncapped. */
  def optimize(spark: SparkSession, dir: String,
      smallBytes: Long = 32L << 20, targetBytes: Long = 128L << 20,
      where: Option[Column] = None, maxVictims: Int = Int.MaxValue): Long = {
    // liquid-clustering-lite: a bare OPTIMIZE of a table carrying the
    // clusterBy property clusters INCREMENTALLY on those columns — only
    // files that are not part of the latest zorder generation (plus any
    // DV-carrying file, to purge vectors) rewrite; the already-clustered
    // bulk keeps its physical place. At 100 TB this is the difference
    // between OPTIMIZE costing O(new data since last run) and O(table)
    // every night. Two clustered generations overlap in range space, but
    // pruning is per-file min/max, so each stays individually tight; an
    // explicit OPTIMIZE ... ZORDER BY re-clusters the WHOLE table when a
    // global layout is wanted. OPTIMIZE ... WHERE keeps bin-packing —
    // targeted compaction must not reshuffle untouched layout.
    if (where.isEmpty && clusterByOf(snapshot(spark, dir)).isDefined) {
      return retryRewriteEvolving(spark, dir, "zorder") { snap =>
        clusterByOf(snap) match {
          case None => // unset under the fence
            (Nil, emptyDf(spark, snap.schema), None, None, None)
          case Some(cols) =>
            val uncl = unclusteredFiles(snap)
            // generation consolidation: under a frequent append+OPTIMIZE
            // cadence each run emits a small clustered generation, so the
            // file count would grow one-per-cycle without bound. Past a
            // pair threshold, fold the SMALL clustered files (products of
            // those small runs — steady-state generations sit at
            // ~targetBytes and never re-enter) into the victim set: the
            // common case stays O(new data), the occasional fold is
            // O(small-generation bulk), and the active file count stays
            // bounded by the threshold + O(table/targetBytes). Buckets
            // come from the persisted boundaries, so the fold stays
            // z-aligned with the untouched bulk.
            val smallClustered =
              if (uncl.size == snap.files.size) Nil
              else {
                val unclPaths = uncl.map(_.path).toSet
                val smalls = snap.files.filter(f =>
                  !unclPaths.contains(f.path) && f.bytes < smallBytes)
                if (smalls.size >= ConsolidateSmallGenerations) smalls else Nil
              }
            val victims0 = uncl ++ smallClustered
            val victims =
              if (victims0.size <= maxVictims) victims0
              else victims0.sortBy(_.bytes).take(maxVictims)
            if (victims.isEmpty)
              (Nil, emptyDf(spark, snap.schema), None, None, None)
            else {
              val bytes = victims.map(_.bytes).sum
              val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
              val df0 = readFiles(spark, snap, victims.map(f => absPath(dir, f.path)))
              // bucket with the PERSISTED boundaries when the table has
              // them (z-aligned with earlier generations, no quantile
              // pass); first cluster of a table computes and persists
              val (bits, bounds) = snap.clusterBounds.map(parseBounds)
                .getOrElse {
                  val b = graft.sources.Layout.clusterBits(cols.size)
                  (b, graft.sources.Layout.clusterBounds(df0, cols, b))
                }
              val df = df0
                .withColumn("__z",
                  graft.sources.Layout.clusteredZValueWith(cols, bounds, bits))
                .repartitionByRange(n, col("__z"))
                .sortWithinPartitions("__z")
                .drop("__z")
              (victims, df, None,
                Some(snap.clusterBounds.getOrElse(boundsJson(bits, bounds))),
                Some(clusterTagOf(snap, cols)))
            }
        }
      }
    }
    retryRewriteEvolving(spark, dir, "optimize") { snap =>
      // `where` = TARGETED compaction (Delta's OPTIMIZE ... WHERE): only
      // files whose footer stats overlap the predicate are candidates —
      // at 100 TB you compact the hot day/tenant, never the whole table
      val scoped = where.map(w => overlapping(snap, w)).getOrElse(snap.files)
      // DV-carrying files are rewrite candidates REGARDLESS of size:
      // compaction purges the deletion vectors back out of the steady
      // state (Delta's OPTIMIZE does the same), so reads stop paying the
      // position filter and the sidecars become vacuumable
      val small0 = scoped.filter(f => f.bytes < smallBytes || f.dv.isDefined)
      val small =
        if (small0.size <= maxVictims) small0
        else small0.sortBy(_.bytes).take(maxVictims)
      if (small.size < 2 && !small.exists(_.dv.isDefined))
        (Nil, emptyDf(spark, snap.schema), None, None, None)
      else {
        val total = small.map(_.bytes).sum
        val nOut = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
        val base = readFiles(spark, snap, small.map(f => absPath(dir, f.path)))
        // targeted compaction of a CLUSTERED table keeps the rewrite
        // z-aligned when the persisted bucket boundaries exist: the
        // compacted hot slice re-sorts by the SAME cluster key the bulk
        // uses (no quantile pass), so its new files keep tight envelopes
        // instead of mixing the slice into envelope-wide outputs — and
        // they are tagged as the current generation, because they ARE
        // clustered (bare OPTIMIZE won't churn them again).
        val zAligned = for {
          cols <- clusterByOf(snap)
          bj <- snap.clusterBounds
          if cols.forall(snap.schema.fieldNames.contains)
        } yield {
          val (bits, bounds) = parseBounds(bj)
          (base.withColumn("__z",
            graft.sources.Layout.clusteredZValueWith(cols, bounds, bits))
            .repartitionByRange(nOut, col("__z"))
            .sortWithinPartitions("__z")
            .drop("__z"),
            clusterTagOf(snap, cols))
        }
        zAligned match {
          case Some((df, tag)) => (small, df, None, None, Some(tag))
          case None => (small, base.repartition(nOut), None, None, None)
        }
      }
    }
  }

  /** ALTER TABLE ... RENAME COLUMN as a pure metadata commit. Two
    * identities, one contract:
    *  - a field WITH an id renames freely — the id is its identity, so
    *    every existing data file keeps serving it (no rewrite), filters
    *    on the new name still stats-prune (stats are id-keyed), and
    *    time travel to pre-rename versions shows the old name;
    *  - an id-less field (a CONVERTed table's adopted columns, whose
    *    file-side identity is its NAME) renames via column mapping:
    *    the first rename freezes [[PhysicalNameKey]] = the current
    *    file-side name, and from then on the logical name is a pure
    *    label — reads/writes/stats all use the frozen physical name
    *    (this used to be REFUSED; Delta's column-mapping mode is the
    *    same resolution). */
  def renameColumn(spark: SparkSession, dir: String, oldName: String,
      newName: String): Long =
    retry(dir, "rename-column") { snap =>
      require(snap.schema.fieldNames.contains(oldName), s"no column '$oldName' in $dir")
      require(!snap.schema.fieldNames.contains(newName),
        s"column '$newName' already exists in $dir")
      val ckRefs = constraintsReferencing(snap, oldName)
      require(ckRefs.isEmpty, s"cannot rename column '$oldName': CHECK " +
        s"constraint(s) ${ckRefs.mkString(", ")} reference it; drop or " +
        "re-state the constraint(s) first")
      val f0 = snap.schema(oldName)
      val movingId = idOf(f0).getOrElse(-1L)
      // a retired name may only come back for the SAME field id (data
      // files still carry that column name; binding it to a different id
      // would mislead parquet's name-keyed row-group pushdown). An
      // id-less field never re-claims a retired name: its -1 sentinel
      // must not alias whatever the name used to mean.
      require(snap.retired.get(newName).forall(id =>
          (idOf(f0).isDefined && id == movingId) ||
            // an id-less field renaming BACK to its own frozen physical
            // name reclaims exactly the files it already serves — safe
            physNameOf(f0) == newName),
        s"column name '$newName' was retired by an earlier rename/drop " +
          s"(field id ${snap.retired.get(newName).orNull}) and old data " +
          "files still carry it; pick a different name")
      val fields = snap.schema.fields.map { f =>
        if (f.name != oldName) f
        else if (idOf(f).isDefined) f.copy(name = newName)
        // id-less: freeze the file-side name once (first rename wins —
        // later renames keep mapping to the same physical column)
        else withPhysical(f, physNameOf(f)).copy(name = newName)
      }
      // a clustered/bloom column rename follows the column (same commit,
      // so neither property can dangle between two versions)
      val clusterDelta = clusterByOf(snap).filter(_.contains(oldName))
        .map(cols => ClusterByKey -> Some(
          cols.map(c => if (c == oldName) newName else c).mkString(",")))
        .toSeq
      val bloomCols = bloomColsIn(snap.props)
      val bloomDelta: Seq[(String, Option[String])] =
        (if (bloomCols.contains(oldName))
          Seq(BloomColsKey -> Some(bloomCols
            .map(c => if (c == oldName) newName else c).mkString(",")))
        else Nil) ++
          snap.props.get(BloomNdvPrefix + oldName).toSeq.flatMap(v =>
            Seq(BloomNdvPrefix + oldName -> None,
              BloomNdvPrefix + newName -> Some(v)))
      // retire the old name when data files CARRY it: always for the id
      // path, and for the FIRST id-less rename (oldName is the frozen
      // physical name, sentinel id -1 so nothing can rebind it). Later
      // id-less renames move a pure label no file ever stored — free.
      val retire: Seq[(String, Long)] =
        if (idOf(f0).isDefined) Seq(oldName -> movingId)
        else if (physNameOf(f0) == oldName) Seq(oldName -> -1L)
        else Nil
      Some((Commit(snap.version + 1, System.currentTimeMillis(), "rename-column",
        None, None, Some(StructType(fields).json), Nil, Nil,
        retiredNames = retire,
        props = clusterDelta ++ bloomDelta,
        clusterBounds = if (clusterDelta.nonEmpty &&
          snap.clusterBounds.isDefined) Some("") else None),
        snap.version + 1))
    }.get

  /** ALTER TABLE ... DROP COLUMN as a pure metadata commit: the field id
    * is retired (never reused — maxColId keeps counting past it), so the
    * column's data stays untouched in existing files but is invisible.
    * The NAME is retired too: re-adding it would alias dead data under
    * parquet's name-keyed row-group pushdown, so later evolution rejects
    * it (Iceberg readers allow the reuse because their filter evaluation
    * is id-keyed end-to-end; Spark's parquet pushdown is not). */
  def dropColumn(spark: SparkSession, dir: String, name: String): Long =
    retry(dir, "drop-column") { snap =>
      require(snap.schema.fieldNames.contains(name), s"no column '$name' in $dir")
      require(snap.schema.fields.length > 1, s"cannot drop the only column of $dir")
      val ckRefs = constraintsReferencing(snap, name)
      require(ckRefs.isEmpty, s"cannot drop column '$name': CHECK " +
        s"constraint(s) ${ckRefs.mkString(", ")} reference it; drop or " +
        "re-state the constraint(s) first")
      val fields = snap.schema.fields.filterNot(_.name == name)
      // dropping a clustered column shrinks (or, below two survivors,
      // clears) the clusterBy property in the SAME commit; a bloom
      // column drops out of its list (and its NDV override) the same way
      val clusterDelta = clusterByOf(snap).filter(_.contains(name)).map { cols =>
        val rest = cols.filterNot(_ == name)
        ClusterByKey -> (if (rest.size >= 2) Some(rest.mkString(",")) else None)
      }.toSeq
      val bloomCols = bloomColsIn(snap.props)
      val bloomDelta: Seq[(String, Option[String])] =
        (if (bloomCols.contains(name)) {
          val rest = bloomCols.filterNot(_ == name)
          Seq(BloomColsKey ->
            (if (rest.nonEmpty) Some(rest.mkString(",")) else None))
        } else Nil) ++
          snap.props.get(BloomNdvPrefix + name)
            .map(_ => BloomNdvPrefix + name -> None).toSeq
      Some((Commit(snap.version + 1, System.currentTimeMillis(), "drop-column",
        None, None, Some(StructType(fields).json), Nil, Nil,
        maxColId = Some(snap.maxColId),
        // retire the name the FILES carry — the physical name for a
        // mapped (renamed id-less) field; its logical label was never
        // written anywhere and needs no protection
        retiredNames = Seq(physNameOf(snap.schema(name)) ->
          idOf(snap.schema(name)).getOrElse(-1L)),
        props = clusterDelta ++ bloomDelta,
        clusterBounds = if (clusterDelta.nonEmpty &&
          snap.clusterBounds.isDefined) Some("") else None),
        snap.version + 1))
    }.get

  /** ALTER TABLE ... ADD COLUMN as a pure metadata commit: the new column
    * gets a FRESH field id (maxColId + 1 — never a reused one), existing
    * files null-fill it, and new writes carry it. Nullable by contract
    * (existing rows have no value to give it). A name retired by an
    * earlier rename/drop is rejected: old data files still carry that
    * column name, and parquet's name-keyed row-group pushdown would bind
    * filters on the re-added column to the dead data. */
  def addColumn(spark: SparkSession, dir: String, name: String,
      dataType: org.apache.spark.sql.types.DataType): Long =
    retry(dir, "add-column") { snap =>
      require(!snap.schema.fieldNames.contains(name),
        s"column '$name' already exists in $dir")
      require(!snap.retired.contains(name),
        s"column name '$name' was retired by an earlier rename/drop " +
          s"(field id ${snap.retired.get(name).orNull}) and old data files " +
          "still carry it; pick a different name")
      // a mapped field's PHYSICAL name is live in every data file even
      // though no logical column shows it — adding a column under it
      // would alias that data for name-resolved (id-less) files
      require(!snap.schema.fields.exists(f => physNameOf(f) == name),
        s"column name '$name' is the physical (file-side) name of " +
          "a renamed column and data files carry it; pick a different name")
      val f = withId(StructField(name, dataType, nullable = true), snap.maxColId + 1)
      Some((Commit(snap.version + 1, System.currentTimeMillis(), "add-column",
        None, None, Some(StructType(snap.schema.fields :+ f).json), Nil, Nil,
        maxColId = Some(snap.maxColId + 1)), snap.version + 1))
    }.get

  /** ALTER TABLE ... SET TBLPROPERTIES ('checkpointEvery'='n') as a pure
    * metadata commit. The cadence is a FOLDED property (latest setting
    * wins, carried through log checkpoints), so it can change over a
    * table's life — e.g. tighten it once a table starts streaming. 0
    * disables new checkpoints (existing ones keep accelerating reads). */
  def setCheckpointEvery(spark: SparkSession, dir: String, every: Int): Long = {
    require(every >= 0, s"checkpointEvery must be >= 0, got $every")
    retry(dir, "set-properties") { snap =>
      if (snap.ckptEvery == every) None // already there
      else Some((Commit(snap.version + 1, System.currentTimeMillis(),
        "set-properties", None, None, None, Nil, Nil,
        ckptEvery = Some(every)), snap.version + 1))
    }.getOrElse(latestVersion(dir))
  }

  /** Folded table property key for liquid-clustering-lite: comma-
    * separated column list; bare OPTIMIZE re-clusters by it, appends
    * best-effort sort by it. */
  private[graft] val ClusterByKey = "clusterBy"

  /** Per-column parquet BLOOM FILTER properties — point-lookup data
    * skipping where footer min/max stats are blind: a uniformly
    * distributed high-cardinality key (document id, content hash, user
    * id) overlaps EVERY file's [min,max], so a takedown / audit lookup
    * (`WHERE doc_id = 'x'`) scans all 100 TB under stats-only pruning.
    * `bloomFilter.columns` = comma-separated column list; every file
    * staged after the property folds in carries a parquet-native bloom
    * per listed column (written via `parquet.bloom.filter.enabled#col`,
    * sized by `bloomFilter.ndv.<col>` — else `bloomFilter.ndv`, else
    * [[BloomDefaultNdv]] — expected distinct values PER ROW GROUP).
    *
    * Scale shape: the filters live IN the data files (footer-referenced
    * bitsets, ~1.2 MB at 1M NDV / 1% FPP, capped by parquet's
    * `parquet.bloom.filter.max.bytes` = 1 MB default), so planning cost
    * is ZERO — the driver's log fold never sees them — and each task
    * consults only its own splits' blooms at open time, where parquet-mr
    * drops disproven ROW GROUPS before any page IO (Spark's pushed Eq/In
    * filters reach that check through the default
    * `spark.sql.parquet.filterPushdown` path; re-verified against the
    * bundled parquet-hadoop: bloom read filtering defaults ON). min/max
    * file pruning stays first — blooms cut the residual row groups that
    * stats cannot disprove. Backfill contract = Delta's bloom index:
    * only files written AFTER the property is set carry blooms;
    * OPTIMIZE rewrites the rest. Rename/drop of a bloom column follows
    * in the SAME metadata commit ([[renameColumn]]/[[dropColumn]]), so
    * the property never dangles; a renamed column's OLD files keep
    * serving their blooms under the write-time name only until parquet's
    * name-keyed pushdown stops matching — exactly the existing stats
    * contract, and OPTIMIZE refreshes. Measured in r13 (local[8], 8M
    * rows × ~220 B, 16 files, default row groups, ndv 600k, unsorted
    * key): absent-key SELECT * 0.443 s bare → 0.073 s with the bloom
    * (6.1×, every row group disproven before page IO), present-key
    * 0.407 s → 0.252 s, append cost within noise. Row groups must stay
    * large: at 256 KB row groups the blooms (180 KB) outweighed the
    * 36 KB groups they guarded and bought nothing. */
  private[graft] val BloomColsKey = "bloomFilter.columns"
  private[graft] val BloomNdvKey = "bloomFilter.ndv"
  private[graft] val BloomNdvPrefix = "bloomFilter.ndv."
  private[graft] val BloomDefaultNdv = 100000L

  private[graft] def bloomColsIn(props: Map[String, String]): Seq[String] =
    props.get(BloomColsKey).toSeq.flatMap(_.split(','))
      .map(_.trim).filter(_.nonEmpty)

  /** The parquet bloom filter of `column` in `file`'s first row group,
    * if the footer references one — the verification surface for
    * [[BloomColsKey]] (specs and gates probe presence and membership
    * through it; the hot read path never calls this — parquet-mr applies
    * blooms inside each task's row-group filtering). */
  private[graft] def readBloom(spark: SparkSession, file: String,
      column: String): Option[org.apache.parquet.column.values.bloomfilter.BloomFilter] = {
    val r = ParquetFooter.open(file, spark.sessionState.newHadoopConf())
    try {
      val block = r.getFooter.getBlocks.get(0)
      block.getColumns.asScala.find(_.getPath.toDotString == column)
        .flatMap(cc => Option(r.getBloomFilterDataReader(block).readBloomFilter(cc)))
    } finally r.close()
  }

  /** Writer options staging a batch under `snap`'s bloom properties:
    * keys carry the column name the parquet file will STORE — the
    * target field's physical name (stampIds writes physical names) —
    * matched case-insensitively against the property's canonical name;
    * bloom columns the batch omits (pre-evolution writers) contribute
    * nothing. */
  private def bloomWriteOptions(snap: Snapshot, batchCols: Seq[String],
      target: StructType): Map[String, String] =
    bloomColsIn(snap.props).flatMap { c =>
      batchCols.find(_.equalsIgnoreCase(c)).toSeq.flatMap { _ =>
        val written = target.fields.find(_.name.equalsIgnoreCase(c))
          .map(physNameOf).getOrElse(c)
        val ndv = snap.props.get(BloomNdvPrefix + c)
          .orElse(snap.props.get(BloomNdvKey))
          .map(_.toLong).getOrElse(BloomDefaultNdv)
        Seq(s"parquet.bloom.filter.enabled#$written" -> "true",
          s"parquet.bloom.filter.expected.ndv#$written" -> ndv.toString)
      }
    }.toMap

  /** How many SMALL clustered files (bytes < OPTIMIZE's smallBytes) a
    * table accumulates before a bare OPTIMIZE folds them back into one
    * generation. High enough that the normal incremental cadence (a few
    * small generations at a time) never pays a fold; low enough that the
    * active file count under an append+OPTIMIZE-every-batch cadence is
    * bounded (spec: LakeClusterBySpec "file count stays bounded"). */
  private[graft] val ConsolidateSmallGenerations = 16

  /** clusterBy validation shared by [[setProperties]] and the up-front
    * CREATE/REPLACE check: 2..8 columns (one column is just a sort; the
    * z-interleave [[graft.functions.ZValueN]] caps at 8 — per-column bits
    * shrink via [[graft.sources.Layout.clusterBits]] so every accepted
    * width stays writable), all present in the schema. */
  private def validateClusterBy(schema: StructType,
      props: Map[String, String]): Unit =
    props.get(ClusterByKey).foreach { v =>
      val cols = v.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
      require(cols.size >= 2,
        s"$ClusterByKey needs at least two columns, got '$v'")
      require(cols.size <= 8,
        s"$ClusterByKey supports at most 8 columns (z-interleave width), " +
          s"got ${cols.size} in '$v'")
      val missing = cols.filterNot(schema.fieldNames.contains)
      require(missing.isEmpty,
        s"$ClusterByKey columns not in the table schema: ${missing.mkString(", ")}")
    }

  /** Validate table properties against a schema WITHOUT committing.
    * CREATE/REPLACE TABLE run this BEFORE creating the lake table, so an
    * invalid clusterBy (or a malformed checkpointEvery) throws before any
    * side effect — the old order created the table first and could leave
    * an orphaned lake directory with data but no catalog entry. */
  /** Bloom property validation: columns must exist and be atomic
    * non-boolean (parquet bloom filters cover every primitive physical
    * type except boolean/int96; nested columns aren't reachable by
    * Spark's parquet pushdown anyway); NDV overrides must be positive
    * integers naming schema columns. */
  private def validateBloom(schema: StructType,
      props: Map[String, String]): Unit = {
    import org.apache.spark.sql.types._
    def bloomable(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | StringType | BinaryType | DateType |
           TimestampType | TimestampNTZType => true
      case _: DecimalType => true
      case _ => false
    }
    props.get(BloomColsKey).foreach { v =>
      val cols = v.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
      require(cols.nonEmpty, s"$BloomColsKey must name at least one column")
      val missing = cols.filterNot(schema.fieldNames.contains)
      require(missing.isEmpty,
        s"$BloomColsKey columns not in the table schema: ${missing.mkString(", ")}")
      val bad = cols.filterNot(c => bloomable(schema(c).dataType))
      require(bad.isEmpty,
        s"$BloomColsKey columns must be atomic non-boolean types, got: " +
          bad.map(c => s"$c: ${schema(c).dataType.simpleString}").mkString(", "))
    }
    props.foreach {
      case (k, v) if k.startsWith(BloomNdvPrefix) =>
        val c = k.stripPrefix(BloomNdvPrefix)
        require(schema.fieldNames.contains(c),
          s"$k: no column '$c' in the table schema")
        requirePositiveLong(k, v)
      case (k, v) if k == BloomNdvKey => requirePositiveLong(k, v)
      case _ =>
    }
  }

  private def requirePositiveLong(key: String, v: String): Unit = {
    val n = try v.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"$key must be a positive integer, got '$v'")
    }
    require(n > 0, s"$key must be positive, got $n")
  }

  private[graft] def validateTableProps(schema: StructType,
      props: Map[String, String]): Unit = {
    validateClusterBy(schema, props)
    validateBloom(schema, props)
    props.get("checkpointEvery").foreach { v =>
      val e = try v.toInt catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"checkpointEvery must be an integer, got '$v'")
      }
      require(e >= 0, s"checkpointEvery must be >= 0, got $e")
    }
    props.get("autoCompact").foreach { v =>
      require(v.equalsIgnoreCase("true") || v.equalsIgnoreCase("false"),
        s"autoCompact must be true or false, got '$v'")
    }
    // CHECK constraints must at least RESOLVE against the schema before
    // anything is created; the existing-data scan happens at set time
    props.collect {
      case (k, sql) if k.startsWith(ConstraintPrefix) =>
        (k.stripPrefix(ConstraintPrefix), sql)
    }.foreach { case (name, sql) =>
      require(name.nonEmpty, "constraint name must be non-empty")
      try emptyDf(SparkSession.active, schema)
        .filter(org.apache.spark.sql.functions.expr(sql))
        .queryExecution.analyzed
      catch {
        case e: Exception => throw new IllegalArgumentException(
          s"CHECK constraint $name does not resolve against the table " +
            s"schema: $sql (${e.getMessage})")
      }
    }
  }

  /** ADD-time data validation (Delta's contract): a new/changed CHECK
    * constraint scans the CURRENT snapshot once and is rejected if any
    * live row violates — so writes can then enforce by induction with
    * no read-back. */
  private def validateConstraintData(spark: SparkSession, snap: Snapshot,
      sets: Map[String, String]): Unit =
    sets.collect {
      case (k, sql) if k.startsWith(ConstraintPrefix) &&
          !snap.props.get(k).contains(sql) =>
        (k.stripPrefix(ConstraintPrefix), sql)
    }.foreach { case (name, sql) =>
      if (snap.files.nonEmpty) {
        val bad = readFiles(spark, snap, snap.activePaths)
          .filter(!coalesce(
            org.apache.spark.sql.functions.expr(sql).cast("boolean"),
            lit(true)))
          .limit(1).count()
        require(bad == 0L,
          s"cannot add CHECK constraint $name: existing rows violate $sql")
      }
    }

  /** The generation tag for `cols` under `snap`'s schema: field ids
    * where assigned, else the PHYSICAL name (both rename-stable — a
    * renamed cluster column keeps its physically-unchanged layout
    * "clustered" whether its identity is an id or a frozen file-side
    * name), bare names otherwise. */
  private[graft] def clusterTagOf(snap: Snapshot, cols: Seq[String]): String = {
    val byName = snap.schema.fields.map(f => f.name -> f).toMap
    cols.map(c => byName.get(c) match {
      case Some(f) => idOf(f).map(_.toString).getOrElse(physNameOf(f))
      case None => c
    }).mkString(",")
  }

  /** Still-active files a bare OPTIMIZE of a clustered table would
    * rewrite: files whose generation tag does not match the CURRENT
    * clusterBy (appends, CoW rewrites, zorder runs on different columns,
    * and everything written before the property changed) plus
    * DV-carrying files (vector purge). O(active files) off the folded
    * snapshot — no commit-log scan. Also DESCRIBE DETAIL's
    * clustering-staleness column. */
  private[graft] def unclusteredFiles(snap: Snapshot): Seq[AddFile] = {
    val cur = clusterByOf(snap).map(clusterTagOf(snap, _))
    snap.files.filter(f => f.dv.isDefined || !f.cluster.exists(cur.contains))
  }

  /** Serialize cluster-bucket boundaries for the log:
    * {"bits":B,"cols":{"c":[d,...]},"prefixes":{"s":"2024-0"}} —
    * `prefixes` marks string columns and the common prefix their proxy
    * values stripped, stored as the STRING (not a length) so later
    * batches can detect key-domain drift and clamp instead of
    * mis-bucketing (Layout.ClusterBounds scaladoc). Pre-r13 logs that
    * carried a `skips` length can't replay the comparison — those
    * columns fall back to the hash path until the next full OPTIMIZE
    * rewrites bounds (layout quality only; results stay exact). */
  private def boundsJson(bits: Int,
      m: graft.sources.Layout.ClusterBounds): String = {
    val n = mapper.createObjectNode()
    n.put("bits", bits)
    val cn = n.putObject("cols")
    m.cols.toSeq.sortBy(_._1).foreach { case (c, b) =>
      val an = cn.putArray(c)
      b.foreach(an.add)
    }
    if (m.prefixes.nonEmpty) {
      val sn = n.putObject("prefixes")
      m.prefixes.toSeq.sortBy(_._1).foreach { case (c, p) => sn.put(c, p) }
    }
    mapper.writeValueAsString(n)
  }

  private[lake] def parseBounds(json: String)
      : (Int, graft.sources.Layout.ClusterBounds) = {
    val n = mapper.readTree(json)
    val legacySkips = Option(n.get("skips")).map(_.properties().asScala
      .map(_.getKey).toSet).getOrElse(Set.empty[String])
    val cols = n.get("cols").properties().asScala.map { e =>
      e.getKey -> e.getValue.elements().asScala.map(_.asDouble).toArray
    }.filterNot { case (c, _) => legacySkips.contains(c) }.toMap
    val prefixes = Option(n.get("prefixes")).map(_.properties().asScala.map { e =>
      e.getKey -> e.getValue.asText
    }.toMap).getOrElse(Map.empty[String, String])
    (n.get("bits").asInt, graft.sources.Layout.ClusterBounds(cols, prefixes))
  }

  /** The write-side cluster sort key: the table's PERSISTED bucket
    * boundaries when a zorder commit stored them (z-aligned with the
    * clustered bulk, zero extra passes), else one quantile pass over the
    * batch itself. */
  private def clusterSortKey(snap: Snapshot, df: DataFrame,
      cols: Seq[String]): Column =
    snap.clusterBounds.map(parseBounds) match {
      case Some((bits, bounds)) =>
        graft.sources.Layout.clusteredZValueWith(cols, bounds, bits)
      case None => graft.sources.Layout.clusteredZValue(df, cols)
    }

  /** The snapshot's clustering columns, if the property is set. */
  private[graft] def clusterByOf(snap: Snapshot): Option[Seq[String]] =
    snap.props.get(ClusterByKey)
      .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
      .filter(_.nonEmpty)

  /** ALTER TABLE ... SET/UNSET TBLPROPERTIES as ONE pure-metadata commit:
    * general key/value properties are FOLDED log state (latest delta wins
    * per key, carried through checkpoints), so they version, time-travel
    * and RESTORE like everything else. `checkpointEvery` routes to its
    * dedicated folded field; `clusterBy` validates its column list
    * against the fenced schema (and needs >= 2 columns — one column is
    * just a sort). */
  def setProperties(spark: SparkSession, dir: String,
      sets: Map[String, String], unsets: Seq[String] = Nil): Long = {
    require(sets.nonEmpty || unsets.nonEmpty, "nothing to change")
    require(sets.keySet.intersect(unsets.toSet).isEmpty,
      "a key cannot be both set and unset")
    retry(dir, "set-properties") { snap =>
      validateTableProps(snap.schema, sets)
      validateConstraintData(spark, snap, sets)
      val ckpt = sets.get("checkpointEvery").map(_.toInt)
        .orElse(if (unsets.contains("checkpointEvery")) Some(0) else None)
      ckpt.foreach(e => require(e >= 0, s"checkpointEvery must be >= 0, got $e"))
      val deltas: Seq[(String, Option[String])] =
        (sets - "checkpointEvery").toSeq.map { case (k, v) => k -> Some(v) } ++
          unsets.filterNot(_ == "checkpointEvery").map(_ -> None)
      val changed = ckpt.exists(_ != snap.ckptEvery) || deltas.exists {
        case (k, v) => snap.props.get(k) != v
      }
      if (!changed) None
      else Some((Commit(snap.version + 1, System.currentTimeMillis(),
        "set-properties", None, None, None, Nil, Nil,
        ckptEvery = ckpt, props = deltas,
        // changing the clustering columns invalidates persisted bucket
        // boundaries; the next OPTIMIZE recomputes and re-persists
        clusterBounds = if (deltas.exists(_._1 == ClusterByKey) &&
          snap.clusterBounds.isDefined) Some("") else None),
        snap.version + 1))
    }.getOrElse(latestVersion(dir))
  }

  /** The latest version whose commit timestamp is <= `tsMillis` —
    * `TIMESTAMP AS OF` resolution (Delta's semantics: the snapshot a
    * reader at that wall-clock instant would have seen). */
  def versionAtTimestamp(dir: String, tsMillis: Long): Long = {
    val cs = commits(dir)
    require(cs.nonEmpty, s"no lake table at $dir")
    val eligible = cs.filter(_.ts <= tsMillis)
    require(eligible.nonEmpty,
      s"no snapshot of $dir at or before timestamp $tsMillis " +
        s"(earliest commit is at ${cs.map(_.ts).min})")
    eligible.map(_.version).max
  }

  /** RESTORE: roll the table back to `version` AS A NEW COMMIT — the bad
    * writes stay in history (auditable, still time-travelable) but the
    * live table reads as it did then. Only valid while the target
    * version's files survive on disk (a keepHistory=false vacuum gives
    * that up — checked here, not discovered later by a failing scan). */
  def restore(spark: SparkSession, dir: String, version: Long): Long = {
    val target = snapshot(spark, dir, Some(version))
    val missing = target.files
      .flatMap(f => f.path +: f.dv.map(_.path).toSeq) // DV sidecars too
      .filterNot(rel => fileAt(dir, rel).exists())
    require(missing.isEmpty,
      s"cannot restore $dir to v$version: ${missing.size} file(s) vacuumed, e.g. ${missing.head}")
    retry(dir, "restore") { snap =>
      if (snap.version == version) None // already there
      else {
        val curByPath = snap.files.map(f => f.path -> f).toMap
        val tgt = target.files.map(f => f.path -> f).toMap
        // re-add on FULL AddFile mismatch: a path whose DV changed since
        // `version` must roll its DV reference back too (the re-add
        // replaces the entry — stateAt folds removes-then-adds by path)
        val adds = target.files.filterNot(f => curByPath.get(f.path).contains(f))
        val removes = (curByPath.keySet -- tgt.keySet).toSeq.sorted
        val schemaJson =
          if (snap.schema == target.schema) None else Some(target.schema.json)
        Some((Commit(snap.version + 1, System.currentTimeMillis(), "restore",
          None, None, schemaJson, adds, removes), snap.version + 1))
      }
    }.getOrElse(version)
  }

  /** Reclaim (a) orphan data files no log version references — debris of
    * crashed writers — and (b) when `keepHistory` is false, tombstoned
    * files only old snapshots reference (time travel to those versions is
    * given up; the latest snapshot is untouched). Returns files deleted.
    *
    * `minAgeMillis` is the concurrent-writer guard (the retention
    * threshold of the Delta paper): a LIVE writer's tasks write straight
    * into data/ ([[DataFileWriter]]), so from a file's close until the
    * writer wins its commit that file looks like an orphan — vacuum must
    * only reclaim debris old enough that no in-flight commit can still
    * reference it (the guard must exceed the longest write job plus its
    * commit). The same pass reclaims what a failed or speculative task
    * attempt left behind on a real cluster. Tombstoned files are
    * age-gated too (an old snapshot's reader may still be scanning them).
    */
  def vacuum(spark: SparkSession, dir: String, keepHistory: Boolean = true,
      minAgeMillis: Long = 60L * 60 * 1000): Int =
    vacuumAt(spark, dir, keepHistory, minAgeMillis, System.currentTimeMillis())

  /** [[vacuum]] with an injectable clock (specs age tombstones without
    * sleeping). Tombstone age is measured from the REMOVING COMMIT's
    * timestamp — derived from the log, so no remove-action format change —
    * never from file mtime: a file written long ago but tombstoned seconds
    * ago is NOT reclaimable (a reader of the just-superseded snapshot, or
    * a pending RESTORE, may still scan it), exactly Delta's
    * `deletionTimestamp` retention rule. Orphans (never referenced by any
    * commit) have no removing commit and age by mtime, the only signal a
    * crashed writer's debris carries. */
  private[lake] def vacuumAt(spark: SparkSession, dir: String,
      keepHistory: Boolean, minAgeMillis: Long, now: Long): Int = {
    val (doomed, doomedDv) =
      vacuumDoomed(spark, dir, keepHistory, minAgeMillis, now)
    doomed.foreach(rel => new File(dir, rel).delete())
    doomedDv.foreach(rel => new File(dir, rel).delete())
    // tables written before data files were written in place can hold
    // `_staged/<uuid>` debris: sweep it under the same age guard
    Option(new File(dir, "_staged").listFiles()).getOrElse(Array.empty)
      .filter(_.lastModified() <= now - minAgeMillis).foreach(deleteRecursively)
    doomed.size + doomedDv.size
  }

  /** What a vacuum WOULD reclaim — `VACUUM ... DRY RUN`'s answer and the
    * delete list [[vacuumAt]] executes: (data files, DV sidecars), both
    * table-relative. Pure computation, nothing touched. */
  private[graft] def vacuumDoomed(spark: SparkSession, dir: String,
      keepHistory: Boolean, minAgeMillis: Long,
      now: Long): (Seq[String], Seq[String]) = {
    val cs = commits(dir)
    val everReferenced = cs.flatMap(_.adds.map(_.path)).toSet
    val activeFiles = snapshot(spark, dir).files
    val active = activeFiles.map(_.path).toSet
    val cutoff = now - minAgeMillis
    // last commit that tombstoned each path (re-add + re-remove via
    // RESTORE keeps the newest removal, the conservative choice)
    val removedTs: Map[String, Long] =
      cs.foldLeft(Map.empty[String, Long]) { (m, c) =>
        c.removes.foldLeft(m)((mm, p) => mm.updated(p, c.ts))
      }
    def orphanOldEnough(rel: String): Boolean =
      new File(dir, rel).lastModified() <= cutoff
    def tombstoneOldEnough(rel: String): Boolean =
      removedTs.get(rel).exists(_ <= cutoff)
    // orphan detection lists only data/ (the lake's own staging target;
    // crash debris can't land anywhere else), but tombstone reclamation
    // goes by the LOG's referenced paths directly — a CONVERTed table's
    // adopted files live outside data/ and must still reclaim once
    // rewritten out of the snapshot
    val onDisk = Option(dataDir(dir).listFiles((_, n) => n.endsWith(".parquet")))
      .getOrElse(Array.empty[File]).map(f => s"data/${f.getName}").toSet
    // ABSOLUTE references (SHALLOW CLONE pointing into the source
    // table's directory) are NEVER reclaimed here: the clone does not
    // own those bytes — the source table's own vacuum governs them
    // (with the standard caveat that source-side history vacuum can
    // break clones pinned to those files, Delta's documented contract)
    val doomed = (onDisk -- everReferenced).filter(orphanOldEnough) ++
      (if (keepHistory) Set.empty[String]
       else (everReferenced -- active)
         .filterNot(_.startsWith("/"))
         .filter(rel => new File(dir, rel).isFile)
         .filter(tombstoneOldEnough))

    // ── DV sidecars ride the same lifecycle, keyed by AddFile reference:
    // a sidecar is removed when its carrying AddFile is removed OR
    // re-added with a different DV (delete-mor growth, restore rollback).
    // Orphans (crash debris of a lost delete-mor fence) age by mtime.
    val everReferencedDv = cs.flatMap(_.adds.flatMap(_.dv.map(_.path))).toSet
    val activeDv = activeFiles.flatMap(_.dv.map(_.path)).toSet
    val dvRemovedTs = {
      val removed = scala.collection.mutable.Map.empty[String, Long]
      val current = scala.collection.mutable.Map.empty[String, String] // data path -> dv path
      cs.foreach { c =>
        c.removes.foreach(p =>
          current.remove(p).foreach(old => removed(old) = c.ts))
        c.adds.foreach { a =>
          val old = current.get(a.path)
          a.dv match {
            case Some(d) =>
              old.filter(_ != d.path).foreach(o => removed(o) = c.ts)
              current(a.path) = d.path
            case None =>
              old.foreach(o => removed(o) = c.ts)
              current.remove(a.path); ()
          }
        }
      }
      removed.toMap
    }
    val onDiskDv = Option(new File(dir, "dv").listFiles((_, n) => n.endsWith(".bin")))
      .getOrElse(Array.empty[File]).map(f => s"dv/${f.getName}").toSet
    // same absolute-reference exclusion as data files: a clone's DV
    // sidecar references into the source are the source's to reclaim
    val doomedDv = (onDiskDv -- everReferencedDv).filter(orphanOldEnough) ++
      (if (keepHistory) Set.empty[String]
       else ((everReferencedDv -- activeDv) & onDiskDv)
         .filterNot(_.startsWith("/"))
         .filter(rel => dvRemovedTs.get(rel).exists(_ <= cutoff)))
    (doomed.toSeq.sorted, doomedDv.toSeq.sorted)
  }

  // ── reads ────────────────────────────────────────────────────────────

  /** Read the table at the latest (or `asOf`) version. Missing columns in
    * old files are null-filled to the evolved schema. */
  def read(spark: SparkSession, dir: String, asOf: Option[Long] = None): DataFrame = {
    val snap = snapshot(spark, dir, asOf)
    if (snap.files.isEmpty) emptyDf(spark, snap.schema)
    else readFiles(spark, snap, snap.activePaths)
  }

  /** SQL addressability: register the table (at the latest or a pinned
    * version) as a temp view, so `spark.sql("SELECT … FROM name")` works.
    * The view captures the snapshot's FILE SET at registration — stable
    * reads under concurrent writers (re-register to advance), which is
    * exactly snapshot isolation. */
  def registerView(spark: SparkSession, dir: String, name: String,
      asOf: Option[Long] = None): Unit =
    read(spark, dir, asOf).createOrReplaceTempView(name)

  /** Range scan with file-level stats pruning: returns the filtered
    * DataFrame plus (filesScanned, filesTotal). The residual filter keeps
    * the result exact; pruning only skips files whose footer bounds prove
    * no row can match. */
  def scanRange(spark: SparkSession, dir: String, column: String,
      lo: Any, hi: Any): (DataFrame, Int, Int) = {
    val snap = snapshot(spark, dir)
    val hit = snap.files.filter { f =>
      f.stats.get(statsKey(snap.schema, column)) match {
        case Some(st) =>
          if (st.min.isEmpty || st.max.isEmpty)
            // no value bounds: skippable only if provably all-null
            !(st.nullCount >= 0 && st.nullCount == f.rows)
          else (for {
            c1 <- cmpOpt(st.kind, st.max.get, lo.toString)
            c2 <- cmpOpt(st.kind, st.min.get, hi.toString)
          } yield c1 >= 0 && c2 <= 0).getOrElse(true)
        case None => true
      }
    }
    val df =
      if (hit.isEmpty) emptyDf(spark, snap.schema)
      else readFiles(spark, snap, hit.map(f => absPath(dir, f.path)))
    (df.filter(col(column) >= lit(lo) && col(column) <= lit(hi)),
      hit.size, snap.files.size)
  }

  def scanEq(spark: SparkSession, dir: String, column: String,
      value: Any): (DataFrame, Int, Int) = scanRange(spark, dir, column, value, value)

  /** General pruned scan: every `col <op> literal` conjunct of the
    * predicate prunes via footer stats (the same machinery CoW victim
    * selection uses); the full predicate then runs as the residual
    * filter, so the result is exact whatever the stats covered. */
  def scanFiltered(spark: SparkSession, dir: String,
      predicate: Column): (DataFrame, Int, Int) = {
    val snap = snapshot(spark, dir)
    val hit = overlapping(snap, predicate)
    val df =
      if (hit.isEmpty) emptyDf(spark, snap.schema)
      else readFiles(spark, snap, hit.map(f => absPath(dir, f.path)))
    (df.filter(predicate), hit.size, snap.files.size)
  }

  /** Row-level change feed between two versions, computed from the FILE
    * diff alone: files common to both snapshots cancel without being
    * read, and rows a CoW rewrite merely copied cancel via exceptAll —
    * so the cost is bounded by the changed-file volume, not the table.
    * Returns the evolved (toV) schema plus `change_kind` ∈
    * {insert, delete}; an updated row appears as its old value deleted
    * and its new value inserted. Both endpoint snapshots fold from their
    * nearest checkpoint, so window cost does not grow with history depth:
    * measured in r13 on a 1,000-commit table (local[8], ckptEvery 10),
    * 10-commit windows took 0.58 s at the tail, 0.29 s mid-history and
    * 0.24 s at the head; the full 0→1000 window 3.1 s, the price of its
    * ~1,000 changed files. */
  def changes(spark: SparkSession, dir: String, fromV: Long,
      toV: Long): DataFrame = {
    val from = snapshot(spark, dir, Some(fromV))
    val to = snapshot(spark, dir, Some(toV))
    // diff by FULL AddFile identity, not path: a delete-mor commit re-adds
    // the same path with a grown DV — reading the old AddFile (old DV) on
    // the removed side and the new one on the added side makes the net
    // exceptAll emit EXACTLY the newly-deleted positions as deletes (and,
    // after a RESTORE that shrank a DV, the resurrected rows as inserts) —
    // no special casing, same changed-file-bounded cost model
    val fromByPath = from.files.map(f => f.path -> f).toMap
    val toByPath = to.files.map(f => f.path -> f).toMap
    val addedFiles = to.files.filterNot(f => fromByPath.get(f.path).contains(f))
    val removedFiles = from.files.filterNot(f => toByPath.get(f.path).contains(f))
    // read BOTH sides with the target schema so evolved columns align;
    // each side's AddFiles carry their OWN snapshot's DV state
    def side(files: Seq[AddFile]): DataFrame =
      if (files.isEmpty) emptyDf(spark, to.schema)
      else readFiles(spark, to.copy(files = files),
        files.map(f => absPath(dir, f.path)))
    val added = side(addedFiles)
    val removed = side(removedFiles)
    added.exceptAll(removed).withColumn("change_kind", lit("insert"))
      .unionByName(
        removed.exceptAll(added).withColumn("change_kind", lit("delete")))
  }

  /** Apply a [[changes]] feed to a REPLICA table as one MERGE commit —
    * lake-to-lake replication (Delta's "merge the change feed" pattern).
    * The feed is collapsed per key first: an updated row arrives as
    * delete(old) + insert(new), which uncollapsed would trip the
    * ambiguity guard; after collapse an insert wins (upsert) and a
    * delete with no insert deletes. Requires a key-unique table (same
    * contract as [[merge]]) — duplicate insert keys in the feed are
    * rejected upfront, since two inserts of an absent key would BOTH
    * land and silently break replica uniqueness. Idempotent: re-applying
    * the same feed is a no-op state transition, so a crashed-and-replayed
    * application converges. */
  def applyChangeFeed(spark: SparkSession, dir: String, feed: DataFrame,
      key: String): Long = {
    val cols = feed.columns.filterNot(_ == "change_kind").toSeq
    require(cols.contains(key), s"feed lacks key column '$key'")
    require(feed.columns.contains("change_kind"),
      "feed lacks change_kind — pass the output of GraftLake.changes")
    val types = feed.schema.fields.map(f => f.name -> f.dataType).toMap
    val ins = feed.filter(col("change_kind") === "insert")
      .select(cols.map(col): _*).cache()
    try {
      val (nIns, nKeys) = {
        val r = ins.agg(count(lit(1)), count_distinct(col(key))).collect()(0)
        (r.getLong(0), r.getLong(1))
      }
      require(nIns == nKeys,
        s"change feed has $nIns inserts over $nKeys distinct '$key' keys; " +
          "applyChangeFeed requires a key-unique table")
      val pureDel = feed.filter(col("change_kind") === "delete")
        .select(col(key)).distinct()
        .join(ins.select(col(key)), Seq(key), "left_anti")
        .select(Seq(col(key)) ++ cols.filterNot(_ == key)
          .map(c => lit(null).cast(types(c)).as(c)): _*)
      val src = ins.withColumn("__gl_kind", lit("u"))
        .unionByName(pureDel.withColumn("__gl_kind", lit("d")))
      mergeInto(spark, dir, src,
        col(s"t.$key") === col(s"s.$key"),
        matched = Seq(
          MatchedUpdate(Some(col("s.__gl_kind") === "u"),
            cols.filterNot(_ == key).map(c => c -> col(s"s.$c"))),
          MatchedDelete(Some(col("s.__gl_kind") === "d"))),
        notMatched = Seq(NotMatchedInsert(Some(col("s.__gl_kind") === "u"),
          cols.map(c => c -> col(s"s.$c")))))
    } finally { ins.unpersist(); () }
  }

  /** OPTIMIZE ZORDER BY (x, y): rewrite the active files range-partitioned
    * and sorted by the Morton interleave of the two columns, so footer
    * min/max become tight on BOTH — a box predicate then prunes to
    * O(perimeter) files instead of scanning everything (the lakehouse
    * two-hot-filter-column clustering; interleave expr shared with
    * [[graft.sources.Layout.zValue2]]). Pure layout change, same rows. */
  def optimizeZOrder(spark: SparkSession, dir: String, colX: String,
      colY: String, numFiles: Int): Long =
    optimizeZOrder(spark, dir, Seq(colX, colY), numFiles)

  /** N-column form: quantile-bucketed ids interleaved by the native
    * [[graft.functions.ZValueN]] (see [[graft.sources.Layout.clusteredZValue]]
    * for why bucketing first is what keeps this meaningful on skewed or
    * large-domain columns at 100 TB). */
  def optimizeZOrder(spark: SparkSession, dir: String, cols: Seq[String],
      numFiles: Int): Long =
    retryRewriteEvolving(spark, dir, "zorder") { snap =>
      // nothing to do only when the layout cannot change: empty table, or
      // one file that would stay one file (a single file CAN re-cluster
      // into many — how a compacted table regains pruning granularity)
      if (snap.files.isEmpty || (snap.files.size == 1 && numFiles <= 1))
        (Nil, emptyDf(spark, snap.schema), None, None, None)
      else {
        val df0 = readFiles(spark, snap, snap.activePaths)
        val bits = graft.sources.Layout.clusterBits(cols.size)
        val bounds = graft.sources.Layout.clusterBounds(df0, cols, bits)
        // a whole-table re-layout on the DECLARED cluster columns renews
        // the table's persisted bucket boundaries: later incremental
        // clusters and appends bucket with the same ones (aligned
        // generations, no quantile pass per batch)
        val persist =
          if (clusterByOf(snap).contains(cols)) Some(boundsJson(bits, bounds))
          else None
        val df = df0
          .withColumn("__z",
            graft.sources.Layout.clusteredZValueWith(cols, bounds, bits))
          .repartitionByRange(numFiles, col("__z"))
          .sortWithinPartitions("__z")
          .drop("__z")
        (snap.files, df, None, persist, Some(clusterTagOf(snap, cols)))
      }
    }

  private[lake] def baseName(p: String): String =
    p.substring(p.lastIndexOf('/') + 1)

  /** Join a table-relative log path to its absolute location. SHALLOW
    * CLONE records the SOURCE table's files as ABSOLUTE paths (that is
    * the whole trick — zero data copy), so every read-side join must go
    * through here; files the table wrote itself are always relative. */
  private[graft] def absPath(dir: String, rel: String): String =
    if (rel.startsWith("/")) rel else s"$dir/$rel"

  private[lake] def fileAt(dir: String, rel: String): File =
    if (rel.startsWith("/")) new File(rel) else new File(dir, rel)

  /** The deleted-row predicate over the per-file `_metadata.__dv_path`
    * constant column ([[GraftParquetFileFormat]]) — a codegen'd,
    * CONSTANT-size expression whose tasks lazily read only the sidecars
    * of files they actually scan. The descriptor itself travels in the
    * FileIndex's per-file metadata, never the plan (Delta's shape —
    * retires the plan-map ceiling measured in r12 — 126 MB at 10⁶ DV
    * files).
    * Never null: a NULL sidecar path answers false (clean file). */
  private[lake] def dvDeletedCol(): Column =
    org.apache.spark.sql.GraftColumnBridge.column(DvDeleted(
      org.apache.spark.sql.GraftColumnBridge.expression(
        col(s"_metadata.${GraftParquetFileFormat.DvPathField}")),
      org.apache.spark.sql.GraftColumnBridge.expression(col("_metadata.row_index"))))

  /** `snap` restricted to the AddFiles whose absolute path is in `paths`
    * (the identity every internal reader passes around). */
  private def restrictTo(snap: Snapshot, paths: Seq[String]): Seq[AddFile] = {
    val wanted = paths.map(baseName).toSet
    snap.files.filter(f => wanted.contains(baseName(f.path)))
  }

  private[lake] def readFiles(spark: SparkSession, snap: Snapshot,
      paths: Seq[String]): DataFrame = {
    ensureFieldIdRead(spark) // columns resolve by field id (rename-stable)
    val outCols = snap.schema.fieldNames.map(col).toIndexedSeq
    val files = restrictTo(snap, paths)
    if (!files.exists(_.dv.isDefined) && physicalMapOf(snap.schema).isEmpty)
      // common case: zero DV / zero column-mapping overhead
      spark.read.option("mergeSchema", "true")
        .schema(snap.schema) // evolved schema: absent columns null-filled per file
        .parquet(paths: _*)
        .select(outCols: _*)
    else if (!files.exists(_.dv.isDefined))
      // renamed id-less columns present: the scan must translate
      // logical → physical names, which only the planner-integrated
      // relation (GraftParquetFileFormat) does
      spark.baseRelationToDataFrame(LakeFileIndex.relationFor(spark,
        LakeFileIndex.restricted(spark, snap, files)))
        .select(outCols: _*)
    else
      // split the scan through the FileIndex: clean files read plain;
      // DV-carrying files read with per-file __dv_path descriptors and
      // the deleted positions filtered out. Two FileSourceScans under
      // one union — pushed filters and column pruning reach both sides
      LakeFileIndex.dvSplitFrame(spark,
        LakeFileIndex.restricted(spark, snap, files))
  }

  private def emptyDf(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  // ── shared rewrite/retry machinery ───────────────────────────────────

  /** Test-only seam: invoked (once) at the start of a [[retry]] loop,
    * after the caller took its pre-snapshot and staged — lets a spec land
    * a concurrent commit between the pre-snapshot and the fence. */
  private[lake] var testHookBeforeFence: Option[String => Unit] = None

  /** Fence-retry loop: `build` sees the latest snapshot and returns the
    * commit to attempt (None = nothing to do). The first attempt reuses
    * `pre`, the caller's snapshot, while it is still the latest version
    * (versions are immutable, so an unchanged latest version means an
    * unchanged state); any newer version, and every later attempt, folds
    * afresh. */
  private def retry[A](dir: String, op: String, pre: Option[Snapshot] = None)(
      build: Snapshot => Option[(Commit, A)]): Option[A] = {
    val spark = SparkSession.active
    testHookBeforeFence.foreach { h => testHookBeforeFence = None; h(op) }
    var reuse = pre.filter(_.version == latestVersion(dir))
    var attempts = 0
    while (attempts < 20) {
      val snap = reuse.getOrElse(snapshot(spark, dir))
      reuse = None
      build(snap) match {
        case None => return None
        case Some((c, a)) =>
          if (tryCommit(dir, c)) {
            maybeCheckpoint(dir, c.version, c.ckptEvery.getOrElse(snap.ckptEvery))
            return Some(a)
          }
      }
      attempts += 1
    }
    throw new LakeContentionException(s"$op at $dir lost the fence 20 times")
  }

  /** CoW rewrite with recompute-per-attempt: `plan` picks the files to
    * replace and the replacement rows FROM THE LATEST SNAPSHOT; stage +
    * commit; on a lost fence the staged files are discarded and the whole
    * plan recomputes — serializable by construction. */
  private def retryRewrite(spark: SparkSession, dir: String, op: String)(
      plan: Snapshot => (Seq[AddFile], DataFrame)): Long =
    retryRewriteEvolving(spark, dir, op) { snap =>
      val (victims, replacement) = plan(snap); (victims, replacement, None, None, None)
    }

  /** [[retryRewrite]] that can additionally EVOLVE the table schema in
    * the same commit (evolving MERGE): the staged files are stamped with
    * the evolved field ids and the commit carries the new schema + the
    * advanced maxColId — schema change and rewrite land atomically, so a
    * failed merge never leaves half-applied columns behind. */
  /** Test-only seam: invoked (once) after a rewrite has staged its
    * files, before its first commit attempt — lets a spec interleave a
    * concurrent commit deterministically into the stage/commit window. */
  private[lake] var testHookBeforeRewriteCommit: Option[String => Unit] = None

  /** Can a lost-fence PURE-LAYOUT rewrite (optimize/zorder — row-set
    * invariant by construction) rebase its already-staged commit onto
    * `between` instead of re-planning? Safe iff every intervening commit
    * is DISJOINT: none removed or re-added (DV'd) a victim, none changed
    * the schema, properties, or cluster bounds. Appends — the common
    * concurrent writer — satisfy this trivially, which is the point: at
    * 100 TB an OPTIMIZE runs for hours, and without rebase every append
    * would discard ALL its staged work (and a steady append cadence
    * starves it outright). Row-CHANGING rewrites (delete/update/merge)
    * never rebase: serializability demands they see concurrently
    * appended rows, so they re-plan from the new snapshot (Delta's
    * conflict matrix draws the same line). */
  private def canRebase(between: Seq[Commit], victimPaths: Set[String]): Boolean =
    between.forall(b =>
      b.schemaJson.isEmpty && b.props.isEmpty && b.clusterBounds.isEmpty &&
        b.removes.forall(!victimPaths.contains(_)) &&
        b.adds.forall(a => !victimPaths.contains(a.path)))

  private def retryRewriteEvolving(spark: SparkSession, dir: String, op: String)(
      plan: Snapshot => (Seq[AddFile], DataFrame, Option[StructType],
        Option[String], Option[String])): Long = {
    val pureLayout = op == "optimize" || op == "zorder"
    var attempts = 0
    while (attempts < 20) {
      val snap = snapshot(spark, dir)
      val (victims, replacement, evolvedOpt, boundsOpt, clusterTag) = plan(snap)
      // merge ops can commit with zero victims (insert-only merges); every
      // other rewrite with nothing to replace is a no-op
      if (victims.isEmpty && op != "merge" && op != "merge-into") return snap.version
      val adds = stage(replacement, dir, 0, evolvedOpt.getOrElse(snap.schema), Some(snap))
        .adds.map(a => if (clusterTag.isDefined) a.copy(cluster = clusterTag) else a)
      testHookBeforeRewriteCommit.foreach { h =>
        testHookBeforeRewriteCommit = None; h(op)
      }
      var c = Commit(snap.version + 1, System.currentTimeMillis(), op, None, None,
        evolvedOpt.map(_.json), adds, victims.map(_.path),
        maxColId = evolvedOpt.map(s => maxIdOf(s, snap.maxColId)),
        clusterBounds = boundsOpt)
      var rebasing = true
      var rebases = 0
      while (rebasing) {
        if (tryCommit(dir, c)) {
          maybeCheckpoint(dir, c.version, snap.ckptEvery)
          return c.version
        }
        // lost the fence. Pure-layout ops try to REBASE the staged work
        // onto the commits that beat them; anything else re-plans. Each
        // iteration only repeats if ANOTHER writer committed (lock-free
        // system-wide progress); the bound is a backstop, past which the
        // op falls back to a full re-plan.
        rebases += 1
        rebasing = pureLayout && rebases <= 100 && {
          val latest = latestVersion(dir)
          val between = (c.version to latest)
            .map(v => parseCommit(versionFile(dir, v)))
          canRebase(between, victims.map(_.path).toSet) && {
            c = c.copy(version = latest + 1, ts = System.currentTimeMillis())
            true
          }
        }
      }
      adds.foreach(a => new File(dir, a.path).delete()) // lost: discard staging
      attempts += 1
    }
    throw new LakeContentionException(s"$op at $dir lost the fence 20 times")
  }

  private def rewrite(spark: SparkSession, dir: String, op: String,
      predicate: Column)(f: (DataFrame, Snapshot) => DataFrame): Long =
    retryRewrite(spark, dir, op) { snap =>
      val hit = overlapping(snap, predicate)
      if (hit.isEmpty) (Nil, emptyDf(spark, snap.schema))
      else {
        val df = readFiles(spark, snap, hit.map(h => absPath(snap.dir, h.path)))
        (hit, f(df, snap))
      }
    }

  /** Files whose stats cannot DISPROVE the predicate. Simple
    * `col <op> literal` conjuncts, `IN` lists, and null checks prune;
    * anything else keeps the file (conservative, never wrong).
    *
    * Partitioning posture: there is deliberately NO hive-style partition
    * scheme here — clustering (repartitionByRange / [[optimizeZOrder]])
    * plus this footer-stats pruning subsumes it (Iceberg's hidden-
    * partitioning argument): a date-clustered 100 TB fact prunes a day
    * predicate to the same file set a dt= directory layout would, with
    * no small-files explosion on high-cardinality keys and no
    * partition-column rewrite when the grain changes. */
  private def overlapping(snap: Snapshot, predicate: Column): Seq[AddFile] = {
    // resolve the predicate against the table schema (the raw Column is an
    // unresolved node in Spark 4's unified Column API; only the ANALYZED
    // condition exposes AttributeReference/Literal comparisons to match on)
    val resolved = {
      val spark = SparkSession.active
      emptyDf(spark, snap.schema).filter(predicate)
        .queryExecution.analyzed.collectFirst {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
        }
    }
    overlappingResolved(snap, resolved.toSeq)
  }

  /** The same stats pruning over ALREADY-RESOLVED conjuncts — the form
    * Spark's planner hands a [[LakeFileIndex]] as `dataFilters`. */
  private[lake] def overlappingResolved(snap: Snapshot,
      conjunctsIn: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): Seq[AddFile] = {
    import org.apache.spark.sql.catalyst.expressions._
    // range check against one file's footer stats; absent stats → may match
    // (stats are keyed by FIELD ID, so a renamed column keeps pruning)
    def rangeMayMatch(f: AddFile, name: String, op: String, v: String): Boolean =
      f.stats.get(statsKey(snap.schema, name)) match {
        case Some(st) if st.min.isDefined && st.max.isDefined =>
          val k = st.kind
          (op match {
            case "=" => for { a <- cmpOpt(k, st.min.get, v); b <- cmpOpt(k, st.max.get, v) }
              yield a <= 0 && b >= 0
            case "<" => cmpOpt(k, st.min.get, v).map(_ < 0)
            case "<=" => cmpOpt(k, st.min.get, v).map(_ <= 0)
            case ">" => cmpOpt(k, st.max.get, v).map(_ > 0)
            case ">=" => cmpOpt(k, st.max.get, v).map(_ >= 0)
            case _ => Some(true)
          }).getOrElse(true)
        case _ => true
      }
    def attrName(e: Expression): Option[String] = e match {
      case a: Attribute => Some(a.name)
      case UnresolvedAttributeLike(n) => Some(n)
      case _ => None
    }
    // a comparison side counts as a constant if it FOLDS to a non-null
    // value, not just if it is a bare Literal: analyzed API predicates
    // carry implicit casts (`col("id") < 200` analyzes to
    // `id < cast(200 as bigint)`), which a Literal-only match would
    // silently demote to keep-all — evaluate instead
    def constVal(e: Expression): Option[Any] =
      if (e.foldable) Option(e.eval()) else None
    // one prunable conjunct → a may-match test per file; None = opaque
    // conjunct, prunes nothing (conservative)
    def mayMatch(e: Expression): Option[AddFile => Boolean] = e match {
      case b: BinaryComparison =>
        (b.left, b.right) match {
          case (l, r) if attrName(l).isDefined && constVal(r).isDefined =>
            val (n, v) = (attrName(l).get, constVal(r).get)
            Some((f: AddFile) => rangeMayMatch(f, n, opName(b), String.valueOf(v)))
          case (l, r) if constVal(l).isDefined && attrName(r).isDefined =>
            val (n, v) = (attrName(r).get, constVal(l).get)
            Some((f: AddFile) => rangeMayMatch(f, n, flip(opName(b)), String.valueOf(v)))
          case _ => None
        }
      case In(l, values) if values.nonEmpty && values.forall(v => constVal(v).isDefined) =>
        attrName(l).map { n => (f: AddFile) =>
          values.exists(v =>
            rangeMayMatch(f, n, "=", String.valueOf(constVal(v).get)))
        }
      case IsNull(l) => attrName(l).map { n => (f: AddFile) =>
        f.stats.get(statsKey(snap.schema, n))
          .forall(st => st.nullCount != 0L) // unknown (-1) keeps
      }
      case IsNotNull(l) => attrName(l).map { n => (f: AddFile) =>
        f.stats.get(statsKey(snap.schema, n))
          .forall(st => st.nullCount < 0L || st.nullCount < f.rows)
      }
      case _ => None
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val preds = conjunctsIn.flatMap(conjuncts).flatMap(mayMatch)
    snap.files.filter(f => preds.forall(_(f)))
  }

  private object UnresolvedAttributeLike {
    def unapply(e: org.apache.spark.sql.catalyst.expressions.Expression): Option[String] =
      e match {
        case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          Some(u.nameParts.last)
        case _ => None
      }
  }

  private def opName(b: org.apache.spark.sql.catalyst.expressions.BinaryComparison): String =
    b match {
      case _: org.apache.spark.sql.catalyst.expressions.EqualTo => "="
      case _: org.apache.spark.sql.catalyst.expressions.LessThan => "<"
      case _: org.apache.spark.sql.catalyst.expressions.LessThanOrEqual => "<="
      case _: org.apache.spark.sql.catalyst.expressions.GreaterThan => ">"
      case _: org.apache.spark.sql.catalyst.expressions.GreaterThanOrEqual => ">="
      case _ => "?"
    }

  private def flip(op: String): String = op match {
    case "<" => ">"; case "<=" => ">="; case ">" => "<"; case ">=" => "<="
    case other => other
  }

  /** Evolve `base` with `incoming`'s new columns, each assigned a fresh
    * field id above `maxEverId` (never a reused one — a dropped column's
    * id stays retired so its data can't resurrect). `pinned` re-applies
    * ids a prior computation already stamped into staged files. */
  private def mergeSchemas(base: StructType, incoming: StructType,
      maxEverId: Int, retired: Map[String, Long],
      pinned: StructType = new StructType()): StructType = {
    val baseNames = base.fieldNames.toSet
    incoming.fields.filter(f => baseNames.contains(f.name)).foreach { f =>
      val bf = base(f.name)
      require(bf.dataType == f.dataType,
        s"schema conflict on '${f.name}': ${bf.dataType} vs ${f.dataType}")
    }
    var next = maxEverId
    StructType(base.fields ++
      incoming.fields.filterNot(f => baseNames.contains(f.name))
        .map { f =>
          require(!retired.contains(f.name),
            s"column name '${f.name}' was retired by an earlier rename/drop " +
              "and old data files still carry it; adding it back would alias " +
              "dead data under parquet's name-keyed pushdown — use a new name")
          pinned.fields.find(p => p.name == f.name && idOf(p).isDefined) match {
            case Some(p) => StructField(f.name, f.dataType, nullable = true, p.metadata)
            case None =>
              next += 1
              withId(StructField(f.name, f.dataType, nullable = true), next)
          }
        })
  }
}
