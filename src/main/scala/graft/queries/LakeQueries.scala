package graft.queries

import graft.functions.Kit
import graft.sources.Tables
import graft.sources.lake.GraftLake
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/**
 * Gates for [[graft.sources.lake.GraftLake]], the transaction-log ACID
 * table layer. Each query builds a lake table under a temp dir from the
 * `orders` parquet, drives it through DML (append / copy-on-write delete /
 * merge upsert / time travel / pruned scan), and reads the result back;
 * the oracle replays the same relational composition directly in DuckDB —
 * DELETE as a negated filter, MERGE as anti-join ∪ updates — so the log
 * replay, CoW rewrite, and snapshot isolation are all value-checked, not
 * just spec-checked.
 *
 * Dtype/alias conventions as everywhere: exact-integer cents, BIGINT
 * casts on both sides, identical aliases, total ORDER BY on a unique key.
 */
object LakeQueries {
  type Q = (SparkSession, String) => DataFrame

  /** orders projected to the lake fixture schema (exact-integer money). */
  private def ordersProjected(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(
      col("o_orderkey").cast("long").as("o_orderkey"),
      col("o_orderstatus"),
      col("o_orderpriority"),
      Kit.cents(col("o_totalprice")).as("price_c"))

  // ── l1: the full DML lifecycle — create, append, delete, merge ─────────
  // v0 create (keys %4==0), v1 append (%4==1), v2 CoW delete
  // (status F ∧ %8==0), v3 merge (update every %20==1 key, insert shifted
  // %20==2 keys). The final snapshot must equal the oracle's replay of the
  // same algebra; any fault in log ordering, CoW victim selection, or the
  // merge anti-join shows up as a row/hash mismatch here.
  private val l1LakeDml: Q = (s, dir) => {
    val tbl = java.nio.file.Files.createTempDirectory("graft_lake_dml").toString + "/t"
    val p = ordersProjected(s, dir)
    // checkpointEvery=2: the reads below fold through a log checkpoint,
    // so the ORACLE gates the checkpoint path too, not just the specs
    GraftLake.create(
      p.filter(col("o_orderkey") % 4 === 0).repartitionByRange(4, col("o_orderkey")), tbl,
      checkpointEvery = 2)
    GraftLake.append(
      p.filter(col("o_orderkey") % 4 === 1).repartitionByRange(4, col("o_orderkey")), tbl)
    GraftLake.delete(s, tbl,
      col("o_orderstatus") === "F" && col("o_orderkey") % 8 === 0)
    val updates =
      p.filter(col("o_orderkey") % 20 === 1)
        .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
          lit("X").as("o_orderpriority"), (col("price_c") * 2).as("price_c"))
        .unionByName(
          p.filter(col("o_orderkey") % 20 === 2)
            .select((col("o_orderkey") + 1000000000L).as("o_orderkey"),
              lit("I").as("o_orderstatus"), lit("Y").as("o_orderpriority"),
              (col("price_c") + 7).as("price_c")))
    GraftLake.merge(s, tbl, updates, "o_orderkey")
    GraftLake.read(s, tbl)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_orderpriority"), col("price_c"))
      .orderBy(col("o_orderkey"))
  }
  private val l1LakeDmlSql =
    """WITH p AS (
      |  SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
      |         o_orderpriority,
      |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c
      |  FROM orders
      |), base AS (
      |  SELECT * FROM p WHERE o_orderkey % 4 IN (0, 1)
      |), afterdel AS (
      |  SELECT * FROM base
      |  WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 8 = 0)
      |), upd AS (
      |  SELECT o_orderkey, 'U' AS o_orderstatus, 'X' AS o_orderpriority,
      |         price_c * 2 AS price_c
      |  FROM p WHERE o_orderkey % 20 = 1
      |  UNION ALL
      |  SELECT o_orderkey + 1000000000, 'I', 'Y', price_c + 7
      |  FROM p WHERE o_orderkey % 20 = 2
      |), merged AS (
      |  SELECT a.* FROM afterdel a
      |  WHERE a.o_orderkey NOT IN (SELECT o_orderkey FROM upd)
      |  UNION ALL
      |  SELECT * FROM upd
      |)
      |SELECT o_orderkey, o_orderstatus, o_orderpriority, price_c
      |FROM merged ORDER BY o_orderkey""".stripMargin

  // ── l2: time travel — the snapshot BEFORE the delete ───────────────────
  // Same build as l1 through v2; reading asOf=1 must resurrect the
  // pre-delete table even though later commits tombstoned files.
  private val l2LakeTimeTravel: Q = (s, dir) => {
    val tbl = java.nio.file.Files.createTempDirectory("graft_lake_tt").toString + "/t"
    val p = ordersProjected(s, dir)
    // checkpointEvery=2: the reads below fold through a log checkpoint,
    // so the ORACLE gates the checkpoint path too, not just the specs
    GraftLake.create(
      p.filter(col("o_orderkey") % 4 === 0).repartitionByRange(4, col("o_orderkey")), tbl,
      checkpointEvery = 2)
    GraftLake.append(
      p.filter(col("o_orderkey") % 4 === 1).repartitionByRange(4, col("o_orderkey")), tbl)
    GraftLake.delete(s, tbl,
      col("o_orderstatus") === "F" && col("o_orderkey") % 8 === 0)
    GraftLake.read(s, tbl, asOf = Some(1L))
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_orderpriority"), col("price_c"))
      .orderBy(col("o_orderkey"))
  }
  private val l2LakeTimeTravelSql =
    """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
      |       o_orderpriority,
      |       CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c
      |FROM orders WHERE o_orderkey % 4 IN (0, 1)
      |ORDER BY o_orderkey""".stripMargin

  // ── l3: footer-stats file pruning — skip proof carried in the gate ─────
  // 8 range-partitioned files; a tight key range must plan to a strict
  // subset of them (the `pruned` flag pins it), while the residual filter
  // keeps the rows exact.
  private val l3LakePruneScan: Q = (s, dir) => {
    val tbl = java.nio.file.Files.createTempDirectory("graft_lake_scan").toString + "/t"
    val p = ordersProjected(s, dir)
    GraftLake.create(p.repartitionByRange(8, col("o_orderkey")), tbl)
    val (df, scanned, total) =
      GraftLake.scanFiltered(s, tbl, col("o_orderkey").between(1000L, 2999L))
    df.select(col("o_orderkey"), col("price_c"),
        lit(scanned < total).as("pruned"))
      .orderBy(col("o_orderkey"))
  }
  private val l3LakePruneScanSql =
    """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
      |       CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c,
      |       true AS pruned
      |FROM orders WHERE o_orderkey BETWEEN 1000 AND 2999
      |ORDER BY o_orderkey""".stripMargin

  // ── l4: the change feed — file-diff CDC across delete + merge ──────────
  // Same build as l1; changes(v1 → v3) must emit EXACTLY the rows the
  // delete removed (old values), the merge's updated keys as
  // delete(old)+insert(new), and the merge's inserts — with every
  // CoW-copied survivor cancelled. The oracle derives all four row
  // classes relationally. (%8==0 keys are even, %20==1 keys odd, so the
  // delete and update victim sets are provably disjoint.)
  private val l4LakeChanges: Q = (s, dir) => {
    val tbl = java.nio.file.Files.createTempDirectory("graft_lake_cdc").toString + "/t"
    val p = ordersProjected(s, dir)
    // checkpointEvery=2: the reads below fold through a log checkpoint,
    // so the ORACLE gates the checkpoint path too, not just the specs
    GraftLake.create(
      p.filter(col("o_orderkey") % 4 === 0).repartitionByRange(4, col("o_orderkey")), tbl,
      checkpointEvery = 2)
    GraftLake.append(
      p.filter(col("o_orderkey") % 4 === 1).repartitionByRange(4, col("o_orderkey")), tbl)
    GraftLake.delete(s, tbl,
      col("o_orderstatus") === "F" && col("o_orderkey") % 8 === 0)
    val updates =
      p.filter(col("o_orderkey") % 20 === 1)
        .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
          lit("X").as("o_orderpriority"), (col("price_c") * 2).as("price_c"))
        .unionByName(
          p.filter(col("o_orderkey") % 20 === 2)
            .select((col("o_orderkey") + 1000000000L).as("o_orderkey"),
              lit("I").as("o_orderstatus"), lit("Y").as("o_orderpriority"),
              (col("price_c") + 7).as("price_c")))
    GraftLake.merge(s, tbl, updates, "o_orderkey")
    GraftLake.changes(s, tbl, 1L, 3L)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_orderpriority"), col("price_c"), col("change_kind"))
      .orderBy(col("o_orderkey"), col("change_kind"))
  }
  private val l4LakeChangesSql =
    """WITH p AS (
      |  SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
      |         o_orderpriority,
      |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c
      |  FROM orders
      |), base AS (
      |  SELECT * FROM p WHERE o_orderkey % 4 IN (0, 1)
      |), deleted AS (
      |  SELECT *, 'delete' AS change_kind FROM base
      |  WHERE (o_orderstatus = 'F' AND o_orderkey % 8 = 0)
      |     OR o_orderkey % 20 = 1
      |), inserted AS (
      |  SELECT o_orderkey, 'U' AS o_orderstatus, 'X' AS o_orderpriority,
      |         price_c * 2 AS price_c, 'insert' AS change_kind
      |  FROM p WHERE o_orderkey % 20 = 1
      |  UNION ALL
      |  SELECT o_orderkey + 1000000000, 'I', 'Y', price_c + 7, 'insert'
      |  FROM p WHERE o_orderkey % 20 = 2
      |)
      |SELECT o_orderkey, o_orderstatus, o_orderpriority, price_c, change_kind
      |FROM (SELECT * FROM deleted UNION ALL SELECT * FROM inserted)
      |ORDER BY o_orderkey, change_kind""".stripMargin

  // ── l5: the planner-integrated read path — LakeFileIndex under oracle ──
  // A plain .filter over GraftLake.read: FileSourceStrategy hands the pushed
  // data filters to the lake's FileIndex, which lists only
  // stat-overlapping files (LakeFileIndexSpec pins the opened-file count;
  // this gate pins the VALUES the planner-pruned scan returns).
  private val l5LakePlannerScan: Q = (s, dir) => {
    val tbl = java.nio.file.Files.createTempDirectory("graft_lake_idx").toString + "/t"
    val p = ordersProjected(s, dir)
    GraftLake.create(p.repartitionByRange(8, col("o_orderkey")), tbl,
      checkpointEvery = 2)
    GraftLake.delete(s, tbl, col("o_orderkey") % 10 === 3)
    GraftLake.read(s, tbl)
      .filter(col("o_orderkey") >= 3000L && col("o_orderkey") <= 5999L)
      .select(col("o_orderkey"), col("o_orderstatus"), col("price_c"))
      .orderBy(col("o_orderkey"))
  }
  private val l5LakePlannerScanSql =
    """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
      |       CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c
      |FROM orders
      |WHERE o_orderkey BETWEEN 3000 AND 5999 AND o_orderkey % 10 <> 3
      |ORDER BY o_orderkey""".stripMargin

  // ── l6: catalog/DDL addressing — the lake driven by SQL ALONE ──────────
  // CTAS creates the table, INSERT INTO appends, UPDATE and DELETE run as
  // copy-on-write commits through LakeDmlRule, and the final SELECT reads
  // via spark.table's planner-pruned scan. The history assertion inside
  // the query pins that every statement was a LOG commit (a raw-parquet
  // insert bypassing the log would break both it and the row values).
  private val l6LakeSqlDdl: Q = (s, dir) => {
    val tbl = java.nio.file.Files.createTempDirectory("graft_lake_sql").toString + "/t"
    ordersProjected(s, dir).createOrReplaceTempView("l6_orders_src")
    s.sql("DROP TABLE IF EXISTS graft_l6")
    s.sql(
      s"""CREATE TABLE graft_l6 USING `graft-lake` OPTIONS (path '$tbl')
         |AS SELECT * FROM l6_orders_src WHERE o_orderkey % 4 = 0""".stripMargin)
    s.sql("INSERT INTO graft_l6 SELECT * FROM l6_orders_src WHERE o_orderkey % 4 = 1")
    s.sql("UPDATE graft_l6 SET o_orderpriority = 'X', price_c = price_c * 2 " +
      "WHERE o_orderkey % 20 = 1")
    s.sql("DELETE FROM graft_l6 WHERE o_orderstatus = 'F' AND o_orderkey % 8 = 0")
    require(GraftLake.history(tbl).map(_._2) ==
      Seq("create", "append", "update", "delete"),
      "SQL DML must land as one log commit per statement")
    s.sql("SELECT o_orderkey, o_orderstatus, o_orderpriority, price_c " +
      "FROM graft_l6 ORDER BY o_orderkey")
  }
  private val l6LakeSqlDdlSql =
    """WITH p AS (
      |  SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
      |         o_orderpriority,
      |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c
      |  FROM orders
      |), base AS (
      |  SELECT * FROM p WHERE o_orderkey % 4 IN (0, 1)
      |), upd AS (
      |  SELECT o_orderkey, o_orderstatus,
      |         CASE WHEN o_orderkey % 20 = 1 THEN 'X' ELSE o_orderpriority END
      |           AS o_orderpriority,
      |         CASE WHEN o_orderkey % 20 = 1 THEN price_c * 2 ELSE price_c END
      |           AS price_c
      |  FROM base
      |), afterdel AS (
      |  SELECT * FROM upd
      |  WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 8 = 0)
      |)
      |SELECT o_orderkey, o_orderstatus, o_orderpriority, price_c
      |FROM afterdel ORDER BY o_orderkey""".stripMargin

  // ── l7: schema evolution — rename + drop via field ids ────────────────
  // Rename and drop are pure metadata commits (parquet field ids are the
  // column identity): after renaming the key column and dropping another,
  // every pre-DDL data file still serves the renamed column, and a tight
  // range on the NEW name still stats-prunes to a strict file subset (the
  // `pruned` flag pins it — stats are id-keyed, so the old files' bounds
  // keep working under the new name).
  private val l7LakeRename: Q = (s, dir) => {
    val tbl = java.nio.file.Files.createTempDirectory("graft_lake_evo").toString + "/t"
    val p = ordersProjected(s, dir)
    GraftLake.create(p.repartitionByRange(8, col("o_orderkey")), tbl)
    GraftLake.renameColumn(s, tbl, "o_orderkey", "order_id")
    GraftLake.dropColumn(s, tbl, "o_orderpriority")
    val (df, scanned, total) =
      GraftLake.scanFiltered(s, tbl, col("order_id").between(1000L, 2999L))
    df.select(col("order_id"), col("o_orderstatus"), col("price_c"),
        lit(scanned < total).as("pruned"))
      .orderBy(col("order_id"))
  }
  private val l7LakeRenameSql =
    """SELECT CAST(o_orderkey AS BIGINT) AS order_id, o_orderstatus,
      |       CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c,
      |       true AS pruned
      |FROM orders WHERE o_orderkey BETWEEN 1000 AND 2999
      |ORDER BY order_id""".stripMargin

  // ── l8: the lake as a STREAMING SOURCE — version-offset changelog ──────
  // readStream.format("graft-lake"): first drain delivers the snapshot at
  // stream start (create + first append), a commit lands between drains,
  // and the checkpointed resume delivers EXACTLY the new append — the
  // oracle's replay of all three slices value-checks initial-snapshot
  // semantics, offset resume, and no-loss/no-dup delivery in one gate.
  private val l8LakeStreamFeed: Q = (s, dir) => {
    val base = java.nio.file.Files.createTempDirectory("graft_lake_stream")
    val tbl = s"$base/t"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    val p = ordersProjected(s, dir)
    GraftLake.create(
      p.filter(col("o_orderkey") % 4 === 0).repartitionByRange(4, col("o_orderkey")), tbl)
    GraftLake.append(
      p.filter(col("o_orderkey") % 4 === 1).repartitionByRange(4, col("o_orderkey")), tbl)
    def drain(): Unit = {
      val q = s.readStream.format("graft-lake").option("path", tbl).load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain() // snapshot: %4 in (0,1)
    GraftLake.append(
      p.filter(col("o_orderkey") % 4 === 2).repartitionByRange(4, col("o_orderkey")), tbl)
    drain() // resume: exactly the %4==2 append
    s.read.parquet(out)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_orderpriority"), col("price_c"))
      .orderBy(col("o_orderkey"))
  }
  private val l8LakeStreamFeedSql =
    """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
      |       o_orderpriority,
      |       CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c
      |FROM orders WHERE o_orderkey % 4 IN (0, 1, 2)
      |ORDER BY o_orderkey""".stripMargin

  // ── l9: the DSv2 catalog face — ALTER TABLE + evolved INSERT, SQL only ─
  // RENAME/DROP/ADD COLUMN land as field-id metadata commits through
  // GraftLakeCatalog (v1 session-catalog tables are rejected for these
  // during resolution — the v2 table is the only way in), then an INSERT
  // writes rows carrying the evolved schema. Every pre-DDL file still
  // serves the renamed key, the added column null-fills old rows, and the
  // history assertion pins one log commit per statement. The pruning
  // require proves a tight range on the RENAMED key still plans a strict
  // file-subset scan (stats are id-keyed).
  private val l9LakeSqlAlter: Q = (s, dir) => {
    val tbl = java.nio.file.Files.createTempDirectory("graft_lake_alter").toString + "/t"
    ordersProjected(s, dir).repartitionByRange(8, col("o_orderkey"))
      .createOrReplaceTempView("l9_orders_src")
    s.sql("DROP TABLE IF EXISTS graft_l9")
    s.sql(
      s"""CREATE TABLE graft_l9 USING `graft-lake` OPTIONS (path '$tbl')
         |AS SELECT * FROM l9_orders_src""".stripMargin)
    s.sql("ALTER TABLE graft_l9 RENAME COLUMN o_orderkey TO order_id")
    s.sql("ALTER TABLE graft_l9 DROP COLUMN o_orderpriority")
    s.sql("ALTER TABLE graft_l9 ADD COLUMN note STRING")
    s.sql("INSERT INTO graft_l9 SELECT o_orderkey + 1000000000, o_orderstatus, " +
      "price_c, 'new' FROM l9_orders_src WHERE o_orderkey % 100 = 7")
    require(GraftLake.history(tbl).map(_._2) ==
      Seq("create", "rename-column", "drop-column", "add-column", "append"),
      "SQL DDL must land as one metadata commit per statement")
    // planner proof: a tight range on the renamed key scans < all files
    val probe = s.sql(
      "SELECT order_id FROM graft_l9 WHERE order_id BETWEEN 1000 AND 2999")
    probe.collect()
    val scanned = probe.queryExecution.executedPlan.collect {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec =>
        sc.metrics("numFiles").value
    }.sum
    require(scanned >= 1 && scanned < 8,
      s"range on renamed key must stats-prune to a strict file subset, scanned $scanned")
    s.sql("SELECT order_id, o_orderstatus, price_c, note FROM graft_l9 " +
      "ORDER BY order_id")
  }
  private val l9LakeSqlAlterSql =
    """WITH p AS (
      |  SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
      |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c
      |  FROM orders
      |)
      |SELECT o_orderkey AS order_id, o_orderstatus, price_c,
      |       CAST(NULL AS VARCHAR) AS note
      |FROM p
      |UNION ALL
      |SELECT o_orderkey + 1000000000, o_orderstatus, price_c, 'new'
      |FROM p WHERE o_orderkey % 100 = 7
      |ORDER BY order_id""".stripMargin

  // ── l10: SQL MERGE INTO — full clause set as ONE CoW commit ───────────
  // Conditional matched update, matched delete, conditional not-matched
  // insert, driven through GraftLakeCatalog + LakeDmlRule onto
  // GraftLake.mergeInto: victims via equi-conjunct stats prune + exact
  // input_file_name semi-join, rewrite as a single full-outer join
  // through the clause chain. The oracle replays the merge algebra
  // relationally; the history assertion pins exactly one commit.
  private val l10LakeSqlMerge: Q = (s, dir) => {
    val tbl = java.nio.file.Files.createTempDirectory("graft_lake_merge").toString + "/t"
    ordersProjected(s, dir).createOrReplaceTempView("l10_orders_src")
    s.sql("DROP TABLE IF EXISTS graft_l10")
    s.sql(
      s"""CREATE TABLE graft_l10 USING `graft-lake` OPTIONS (path '$tbl')
         |AS SELECT * FROM l10_orders_src WHERE o_orderkey % 4 = 0""".stripMargin)
    s.sql(
      """CREATE OR REPLACE TEMP VIEW l10_updates AS
        |SELECT o_orderkey, price_c * 3 AS sv, o_orderkey % 8 = 0 AS flag
        |FROM l10_orders_src WHERE o_orderkey % 10 IN (0, 3)""".stripMargin)
    s.sql(
      """MERGE INTO graft_l10 t USING l10_updates s
        |ON t.o_orderkey = s.o_orderkey
        |WHEN MATCHED AND s.flag THEN UPDATE SET o_orderpriority = 'M',
        |  price_c = s.sv
        |WHEN MATCHED THEN DELETE
        |WHEN NOT MATCHED AND s.sv % 2 = 1 THEN INSERT
        |  (o_orderkey, o_orderstatus, o_orderpriority, price_c)
        |  VALUES (s.o_orderkey, 'N', 'I', s.sv)""".stripMargin)
    require(GraftLake.history(tbl).map(_._2) == Seq("create", "merge-into"),
      "SQL MERGE must land as exactly one log commit")
    s.sql("SELECT o_orderkey, o_orderstatus, o_orderpriority, price_c " +
      "FROM graft_l10 ORDER BY o_orderkey")
  }
  private val l10LakeSqlMergeSql =
    """WITH p AS (
      |  SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
      |         o_orderpriority,
      |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c
      |  FROM orders
      |), tgt AS (
      |  SELECT * FROM p WHERE o_orderkey % 4 = 0
      |), src AS (
      |  SELECT o_orderkey, price_c * 3 AS sv, o_orderkey % 8 = 0 AS flag
      |  FROM p WHERE o_orderkey % 10 IN (0, 3)
      |), kept AS (
      |  SELECT * FROM tgt
      |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
      |), updated AS (
      |  SELECT t.o_orderkey, t.o_orderstatus, 'M' AS o_orderpriority,
      |         s.sv AS price_c
      |  FROM tgt t JOIN src s USING (o_orderkey) WHERE s.flag
      |), inserted AS (
      |  SELECT s.o_orderkey, 'N' AS o_orderstatus, 'I' AS o_orderpriority,
      |         s.sv AS price_c
      |  FROM src s
      |  WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM tgt)
      |    AND s.sv % 2 = 1
      |)
      |SELECT o_orderkey, o_orderstatus, o_orderpriority, price_c FROM kept
      |UNION ALL SELECT * FROM updated
      |UNION ALL SELECT * FROM inserted
      |ORDER BY o_orderkey""".stripMargin

  // ── l11: maintenance grammar — OPTIMIZE/RESTORE/VACUUM/HISTORY by SQL ─
  // The injected parser's statement family end-to-end: OPTIMIZE bin-packs
  // (pure layout, same rows), DELETE mutates, RESTORE rolls back to the
  // optimized snapshot as a new auditable commit, VACUUM RETAIN 0 HOURS
  // reclaims the packed-away originals, and DESCRIBE HISTORY pins the
  // whole trail — then the final read must still equal the pre-delete
  // table exactly (the oracle replays it), proving restore semantics and
  // that vacuum only touched dead files.
  private val l11LakeSqlMaintenance: Q = (s, dir) => {
    val tbl = java.nio.file.Files.createTempDirectory("graft_lake_maint").toString + "/t"
    ordersProjected(s, dir).repartition(8)
      .createOrReplaceTempView("l11_orders_src")
    s.sql("DROP TABLE IF EXISTS graft_l11")
    s.sql(
      s"""CREATE TABLE graft_l11 USING `graft-lake` OPTIONS (path '$tbl')
         |AS SELECT * FROM l11_orders_src""".stripMargin)
    s.sql("OPTIMIZE graft_l11")
    require(GraftLake.snapshot(s, tbl).files.size < 8,
      "OPTIMIZE must bin-pack the 8 small files")
    s.sql("DELETE FROM graft_l11 WHERE o_orderkey % 5 = 0")
    s.sql("RESTORE TABLE graft_l11 TO VERSION AS OF 1")
    val reclaimed = s.sql("VACUUM graft_l11 RETAIN 0 HOURS").head().getInt(0)
    require(reclaimed >= 8,
      s"VACUUM must reclaim the packed-away originals, got $reclaimed")
    val ops = s.sql("DESCRIBE HISTORY graft_l11")
      .select("operation").collect().map(_.getString(0)).toSeq
    require(ops == Seq("restore", "delete", "optimize", "create"),
      s"history must list the full trail newest-first, got $ops")
    s.sql("SELECT o_orderkey, o_orderstatus, o_orderpriority, price_c " +
      "FROM graft_l11 ORDER BY o_orderkey")
  }
  private val l11LakeSqlMaintenanceSql =
    """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
      |       o_orderpriority,
      |       CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ── l12: table lifecycle — TBLPROPERTIES, atomic REPLACE, evolving MERGE
  // The round-10 catalog surface end-to-end by SQL: a folded
  // checkpointEvery property (the ckpt-file count pins that the cadence
  // took effect AND survived the fold), CREATE OR REPLACE as ONE
  // schema-resetting commit, and MERGE WITH SCHEMA EVOLUTION adding a
  // source-only column that star actions populate (old rows null-fill
  // by field-id resolution). The oracle replays the final algebra.
  private val l12LakeSqlLifecycle: Q = (s, dir) => {
    val tbl = java.nio.file.Files.createTempDirectory("graft_lake_lc").toString + "/t"
    ordersProjected(s, dir).createOrReplaceTempView("l12_orders_src")
    s.sql("DROP TABLE IF EXISTS graft_l12")
    s.sql(
      s"""CREATE TABLE graft_l12 USING `graft-lake` OPTIONS (path '$tbl')
         |AS SELECT o_orderkey, price_c FROM l12_orders_src
         |WHERE o_orderkey % 3 = 0""".stripMargin)
    s.sql("ALTER TABLE graft_l12 SET TBLPROPERTIES ('checkpointEvery'='2')")
    s.sql("INSERT INTO graft_l12 SELECT o_orderkey, price_c " +
      "FROM l12_orders_src WHERE o_orderkey % 3 = 1")
    s.sql(
      s"""CREATE OR REPLACE TABLE graft_l12 USING `graft-lake`
         |OPTIONS (path '$tbl')
         |AS SELECT o_orderkey, o_orderstatus, price_c FROM l12_orders_src
         |WHERE o_orderkey % 4 = 0""".stripMargin)
    s.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO graft_l12 t
        |USING (SELECT o_orderkey, o_orderstatus, price_c * 2 AS price_c,
        |              o_orderpriority
        |       FROM l12_orders_src WHERE o_orderkey % 10 = 0) s
        |ON t.o_orderkey = s.o_orderkey
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    require(GraftLake.history(tbl).map(_._2) ==
      Seq("create", "set-properties", "append", "replace", "add-column",
        "merge-into"),
      "lifecycle must land as one log commit per statement")
    val ckpts = Option(new java.io.File(s"$tbl/_log")
      .listFiles((_, n) => n.startsWith("ckpt-"))).map(_.length).getOrElse(0)
    require(ckpts == 2,
      s"folded checkpointEvery=2 must checkpoint v2 and v4, got $ckpts")
    s.sql("SELECT o_orderkey, o_orderstatus, price_c, o_orderpriority " +
      "FROM graft_l12 ORDER BY o_orderkey")
  }
  // ── l17: liquid-clustering-lite — clusterBy as a folded table property ─
  // CREATE ... TBLPROPERTIES('clusterBy'=...) folds the property into the
  // log; INSERTs best-effort sort their batches; a bare OPTIMIZE (no
  // ZORDER clause) re-clusters the whole table on the declared columns;
  // a clustered-column box predicate then file-prunes. The oracle is the
  // final table content — layout changed, rows identical.
  private val l17LakeCluster: Q = (s, dir) => {
    val tbl = java.nio.file.Files.createTempDirectory("graft_lake_cl").toString + "/t"
    ordersProjected(s, dir).createOrReplaceTempView("l17_orders_src")
    s.sql("DROP TABLE IF EXISTS graft_l17")
    s.sql(
      s"""CREATE TABLE graft_l17 USING `graft-lake` OPTIONS (path '$tbl')
         |TBLPROPERTIES ('clusterBy' = 'o_orderkey,price_c')
         |AS SELECT o_orderkey, o_orderstatus, price_c FROM l17_orders_src
         |WHERE o_orderkey % 2 = 0""".stripMargin)
    require(GraftLake.snapshot(s, tbl).props("clusterBy") == "o_orderkey,price_c",
      "clusterBy must fold from CREATE TBLPROPERTIES")
    s.sql("INSERT INTO graft_l17 SELECT o_orderkey, o_orderstatus, price_c " +
      "FROM l17_orders_src WHERE o_orderkey % 2 = 1")
    // bare OPTIMIZE routes to the clusterBy columns (history proves it);
    // the explicit ZORDER pass then re-lays the whole table into files
    // small enough to observe pruning at this sf (a bare re-OPTIMIZE is
    // a no-op by design — the table is already fully clustered)
    s.sql("OPTIMIZE graft_l17")
    require(GraftLake.history(tbl).map(_._2).count(_ == "zorder") == 1,
      "bare OPTIMIZE of a clustered table must re-cluster, not bin-pack")
    s.sql("OPTIMIZE graft_l17 ZORDER BY (o_orderkey, price_c) INTO 8 FILES")
    val keys = GraftLake.read(s, tbl).agg(
      min(col("o_orderkey")), max(col("o_orderkey"))).head()
    val mid = (keys.getLong(0) + keys.getLong(1)) / 2
    val (_, kept, total) = GraftLake.scanFiltered(s, tbl,
      col("o_orderkey").between(keys.getLong(0), mid / 4))
    require(total >= 4 && kept < total,
      s"clustered box predicate must file-prune: kept $kept of $total")
    s.catalog.refreshTable("graft_l17")
    s.sql("SELECT o_orderkey, o_orderstatus, price_c FROM graft_l17 " +
      "ORDER BY o_orderkey")
  }
  private val l17LakeClusterSql =
    """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
      |       CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c
      |FROM orders ORDER BY o_orderkey""".stripMargin

  private val l12LakeSqlLifecycleSql =
    """WITH p AS (
      |  SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
      |         o_orderpriority,
      |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c
      |  FROM orders
      |)
      |SELECT o_orderkey, o_orderstatus, price_c,
      |       CAST(NULL AS VARCHAR) AS o_orderpriority
      |FROM p WHERE o_orderkey % 4 = 0 AND NOT o_orderkey % 10 = 0
      |UNION ALL
      |SELECT o_orderkey, o_orderstatus, price_c * 2, o_orderpriority
      |FROM p WHERE o_orderkey % 10 = 0
      |ORDER BY o_orderkey""".stripMargin

  // ── l13: lake-to-lake replication — the change feed applied as MERGE ──
  // Replica bootstrapped from the v0 snapshot, then ONE applyChangeFeed
  // of changes(0 → latest): per-key collapse (an updated row arrives as
  // delete+insert) → upserts + pure deletes in one merge commit. The
  // replica must equal the source's final state exactly — same oracle
  // as l1, reached through the CDC path instead of replaying the ops.
  private val l13LakeCdcReplica: Q = (s, dir) => {
    val base = java.nio.file.Files.createTempDirectory("graft_lake_repl")
    val src = s"$base/src"; val rep = s"$base/replica"
    val p = ordersProjected(s, dir)
    GraftLake.create(
      p.filter(col("o_orderkey") % 4 === 0).repartitionByRange(4, col("o_orderkey")), src,
      checkpointEvery = 2)
    GraftLake.append(
      p.filter(col("o_orderkey") % 4 === 1).repartitionByRange(4, col("o_orderkey")), src)
    GraftLake.delete(s, src,
      col("o_orderstatus") === "F" && col("o_orderkey") % 8 === 0)
    val updates =
      p.filter(col("o_orderkey") % 20 === 1)
        .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
          lit("X").as("o_orderpriority"), (col("price_c") * 2).as("price_c"))
        .unionByName(
          p.filter(col("o_orderkey") % 20 === 2)
            .select((col("o_orderkey") + 1000000000L).as("o_orderkey"),
              lit("I").as("o_orderstatus"), lit("Y").as("o_orderpriority"),
              (col("price_c") + 7).as("price_c")))
    GraftLake.merge(s, src, updates, "o_orderkey")

    GraftLake.create(GraftLake.read(s, src, asOf = Some(0L)), rep)
    GraftLake.applyChangeFeed(s, rep,
      GraftLake.changes(s, src, 0L, 3L), "o_orderkey")
    require(GraftLake.history(rep).map(_._2) == Seq("create", "merge-into"),
      "replication must be bootstrap + ONE merge commit")
    GraftLake.read(s, rep)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_orderpriority"), col("price_c"))
      .orderBy(col("o_orderkey"))
  }

  // ── l14: deletion vectors — merge-on-read deletes end-to-end ──────────
  // Two deleteMoR commits (the second GROWS the vectors) must delete rows
  // without touching a single parquet file: the gate asserts the on-disk
  // data file set is byte-identical to v0's, then value-checks all three
  // DV read paths in one result — the planner-integrated split scan
  // ('now'), time travel to the mid-state ('v1'), and the change feed's
  // net delta ('cdc': every deleted row exactly once, updates of grown
  // vectors netted to just the delta positions by AddFile-identity diff).
  private val l14LakeDv: Q = (s, dir) => {
    val tbl = java.nio.file.Files.createTempDirectory("graft_lake_dv").toString + "/t"
    val p = ordersProjected(s, dir)
    GraftLake.create(p.repartitionByRange(8, col("o_orderkey")), tbl,
      checkpointEvery = 2)
    def dataFiles(): Set[String] =
      Option(new java.io.File(tbl, "data").listFiles())
        .getOrElse(Array.empty).map(_.getName).toSet
    val before = dataFiles()
    GraftLake.deleteMoR(s, tbl,
      col("o_orderstatus") === "F" && col("o_orderkey") % 8 === 0)
    GraftLake.deleteMoR(s, tbl, col("o_orderkey") % 10 === 3)
    require(GraftLake.history(tbl).map(_._2) ==
      Seq("create", "delete-mor", "delete-mor"),
      "each MoR delete must be one log commit")
    require(dataFiles() == before,
      "merge-on-read must not add or rewrite ANY parquet file")
    require(GraftLake.snapshot(s, tbl).files.exists(_.dv.isDefined),
      "the active AddFiles must carry deletion-vector references")
    val cols = Seq(col("o_orderkey"), col("o_orderstatus"),
      col("o_orderpriority"), col("price_c"))
    val now = GraftLake.read(s, tbl)
      .select(cols: _*).withColumn("slice", lit("now"))
    val v1 = GraftLake.read(s, tbl, asOf = Some(1L))
      .select(cols: _*).withColumn("slice", lit("v1"))
    val cdc = GraftLake.changes(s, tbl, 0L, 2L)
      .where(col("change_kind") === "delete")
      .select(cols: _*).withColumn("slice", lit("cdc"))
    now.unionByName(v1).unionByName(cdc)
      .orderBy(col("slice"), col("o_orderkey"))
  }
  private val l14LakeDvSql =
    """WITH p AS (
      |  SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
      |         o_orderpriority,
      |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c
      |  FROM orders
      |)
      |SELECT o_orderkey, o_orderstatus, o_orderpriority, price_c,
      |       'now' AS slice
      |FROM p
      |WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 8 = 0)
      |  AND o_orderkey % 10 <> 3
      |UNION ALL
      |SELECT o_orderkey, o_orderstatus, o_orderpriority, price_c, 'v1'
      |FROM p WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 8 = 0)
      |UNION ALL
      |SELECT o_orderkey, o_orderstatus, o_orderpriority, price_c, 'cdc'
      |FROM p
      |WHERE (o_orderstatus = 'F' AND o_orderkey % 8 = 0)
      |   OR o_orderkey % 10 = 3
      |ORDER BY slice, o_orderkey""".stripMargin

  // ── l15: merge-on-read UPDATE + metadata-only count ────────────────────
  // updateMoR must leave every original parquet file untouched (DV the old
  // rows, append just the updated ones, ONE commit); the gate value-checks
  // the updated table and the change feed's delete(old)+insert(new)
  // netting, and pins that count(*) folds to a log-metadata literal (no
  // FileSourceScan in the executed plan) while agreeing with the oracle.
  private val l15LakeDvUpdate: Q = (s, dir) => {
    val tbl = java.nio.file.Files.createTempDirectory("graft_lake_dvu").toString + "/t"
    val p = ordersProjected(s, dir)
    GraftLake.create(p.repartitionByRange(8, col("o_orderkey")), tbl)
    def dataFiles(): Set[String] =
      Option(new java.io.File(tbl, "data").listFiles())
        .getOrElse(Array.empty).map(_.getName).toSet
    val before = dataFiles()
    GraftLake.updateMoR(s, tbl, col("o_orderkey") % 10 === 3,
      Seq("price_c" -> (col("price_c") + 5), "o_orderpriority" -> lit("U")))
    require(GraftLake.history(tbl).map(_._2) == Seq("create", "update-mor"),
      "MoR update must be one commit")
    require(before.subsetOf(dataFiles()),
      "MoR update must leave every original parquet file untouched")
    require(GraftLake.snapshot(s, tbl).files.exists(_.dv.isDefined),
      "the superseded rows must be deletion-vectored, not rewritten")
    // metadata-only count: exact under DVs, zero scans
    val cnt = s.read.format("graft-lake").load(tbl)
      .groupBy().count()
    val scans = new AdaptiveSparkPlanHelper {}.collect(cnt.queryExecution.executedPlan) {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc
    }
    require(scans.isEmpty, "count(*) must fold to log metadata, no scan")
    val total = cnt.head().getLong(0)
    val cols = Seq(col("o_orderkey"), col("o_orderstatus"),
      col("o_orderpriority"), col("price_c"))
    val now = GraftLake.read(s, tbl)
      .select(cols: _*).withColumn("slice", lit("now"))
    val cdc = GraftLake.changes(s, tbl, 0L, 1L)
      .select(cols :+ col("change_kind").as("slice"): _*)
    now.unionByName(cdc)
      .withColumn("n_total", lit(total))
      .orderBy(col("slice"), col("o_orderkey"))
  }
  private val l15LakeDvUpdateSql =
    """WITH p AS (
      |  SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
      |         o_orderpriority,
      |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c
      |  FROM orders
      |), n AS (SELECT count(*) AS n_total FROM p)
      |SELECT o_orderkey, o_orderstatus,
      |       CASE WHEN o_orderkey % 10 = 3 THEN 'U' ELSE o_orderpriority END
      |         AS o_orderpriority,
      |       CASE WHEN o_orderkey % 10 = 3 THEN price_c + 5 ELSE price_c END
      |         AS price_c,
      |       'now' AS slice, n.n_total
      |FROM p, n
      |UNION ALL
      |SELECT o_orderkey, o_orderstatus, o_orderpriority, price_c,
      |       'delete', n.n_total
      |FROM p, n WHERE o_orderkey % 10 = 3
      |UNION ALL
      |SELECT o_orderkey, o_orderstatus, 'U', price_c + 5, 'insert', n.n_total
      |FROM p, n WHERE o_orderkey % 10 = 3
      |ORDER BY slice, o_orderkey""".stripMargin

  // ── l16: merge-on-read MERGE — l10's clause algebra, zero rewrites ─────
  // The same SQL MERGE as l10 (conditional matched update, matched
  // delete, conditional not-matched insert) with mergeMode=mor: fired
  // rows are deletion-vectored in place and only the changed rows land in
  // new files — the gate additionally REQUIRES every original parquet
  // file to still be on disk untouched, then matches l10's oracle.
  private val l16LakeMergeMor: Q = (s, dir) => {
    val tbl = java.nio.file.Files.createTempDirectory("graft_lake_mmor").toString + "/t"
    ordersProjected(s, dir).createOrReplaceTempView("l16_orders_src")
    s.sql("DROP TABLE IF EXISTS graft_l16")
    s.sql(
      s"""CREATE TABLE graft_l16 USING `graft-lake` OPTIONS (path '$tbl')
         |AS SELECT * FROM l16_orders_src WHERE o_orderkey % 4 = 0""".stripMargin)
    def dataFiles(): Set[String] =
      Option(new java.io.File(tbl, "data").listFiles())
        .getOrElse(Array.empty).map(_.getName).toSet
    val before = dataFiles()
    s.sql(
      """CREATE OR REPLACE TEMP VIEW l16_updates AS
        |SELECT o_orderkey, price_c * 3 AS sv, o_orderkey % 8 = 0 AS flag
        |FROM l16_orders_src WHERE o_orderkey % 10 IN (0, 3)""".stripMargin)
    s.conf.set("spark.graft.lake.mergeMode", "mor")
    try s.sql(
      """MERGE INTO graft_l16 t USING l16_updates s
        |ON t.o_orderkey = s.o_orderkey
        |WHEN MATCHED AND s.flag THEN UPDATE SET o_orderpriority = 'M',
        |  price_c = s.sv
        |WHEN MATCHED THEN DELETE
        |WHEN NOT MATCHED AND s.sv % 2 = 1 THEN INSERT
        |  (o_orderkey, o_orderstatus, o_orderpriority, price_c)
        |  VALUES (s.o_orderkey, 'N', 'I', s.sv)""".stripMargin)
    finally s.conf.unset("spark.graft.lake.mergeMode")
    require(GraftLake.history(tbl).map(_._2) == Seq("create", "merge-mor"),
      "MoR MERGE must land as exactly one merge-mor commit")
    require(before.subsetOf(dataFiles()),
      "merge-on-read MERGE must leave every original parquet file on disk")
    require(GraftLake.snapshot(s, tbl).files.exists(_.dv.isDefined),
      "fired rows must be deletion-vectored, not rewritten")
    s.sql("SELECT o_orderkey, o_orderstatus, o_orderpriority, price_c " +
      "FROM graft_l16 ORDER BY o_orderkey")
  }

  // ── l18: CONVERT TO LAKE — zero-rewrite adoption of a raw parquet dir ──
  // The migration path at 100 TB: footer-only v0 commit referencing the
  // files where they are (cost ∝ file count, never bytes), then the full
  // DML surface applies — the gate registers the converted table, inserts
  // and CoW-deletes through SQL, and proves the adopted footer stats
  // file-prune. Oracle replays the adoption + DML relationally.
  private val l18LakeConvert: Q = (s, dir) => {
    val raw = java.nio.file.Files.createTempDirectory("graft_lake_conv")
      .toString + "/raw"
    val p = ordersProjected(s, dir)
    p.createOrReplaceTempView("l18_src")
    p.filter(col("o_orderkey") % 3 === 0)
      .repartitionByRange(6, col("o_orderkey")).write.parquet(raw)
    require(s.sql(s"CONVERT TO LAKE '$raw'").head().getLong(0) == 0L)
    // adopted footer stats must file-prune a range predicate immediately
    val keys = GraftLake.read(s, raw).agg(
      min(col("o_orderkey")), max(col("o_orderkey"))).head()
    val (_, kept, total) = GraftLake.scanFiltered(s, raw,
      col("o_orderkey") <= (keys.getLong(0) + keys.getLong(1)) / 8)
    require(total == 6 && kept <= 2,
      s"adopted stats must prune: kept $kept of $total")
    s.sql("DROP TABLE IF EXISTS graft_l18")
    s.sql(s"CREATE TABLE graft_l18 USING `graft-lake` OPTIONS (path '$raw')")
    s.sql("INSERT INTO graft_l18 SELECT o_orderkey, o_orderstatus, " +
      "o_orderpriority, price_c FROM l18_src WHERE o_orderkey % 3 = 1")
    s.sql("DELETE FROM graft_l18 WHERE o_orderkey % 6 = 0")
    s.catalog.refreshTable("graft_l18")
    s.sql("SELECT o_orderkey, o_orderstatus, o_orderpriority, price_c " +
      "FROM graft_l18 ORDER BY o_orderkey")
  }
  private val l18LakeConvertSql =
    """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
      |       o_orderpriority,
      |       CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c
      |FROM orders
      |WHERE o_orderkey % 3 IN (0, 1) AND NOT o_orderkey % 6 = 0
      |ORDER BY o_orderkey""".stripMargin

  // ── l19: batch change-data-feed — table_changes as reader options ─────
  // The NET row-level delta of commits [startingVersion, endingVersion]:
  // create (%4==0), append (%4==1), CoW delete (%8==0), CoW update
  // (%20==1 doubles price), OPTIMIZE (pure layout, nets zero). Inserts
  // land at their FINAL value (the appended-then-updated rows' transient
  // value was both added and removed inside the range); deletes are the
  // v0 rows that left. Oracle replays the net delta relationally.
  private val l19LakeBatchCdf: Q = (s, dir) => {
    val tbl = java.nio.file.Files.createTempDirectory("graft_lake_bcdf")
      .toString + "/t"
    val p = ordersProjected(s, dir)
    GraftLake.create(p.filter(col("o_orderkey") % 4 === 0)
      .repartitionByRange(4, col("o_orderkey")), tbl)               // v0
    GraftLake.append(p.filter(col("o_orderkey") % 4 === 1), tbl)    // v1
    GraftLake.delete(s, tbl, col("o_orderkey") % 8 === 0)           // v2
    GraftLake.update(s, tbl, col("o_orderkey") % 20 === 1,
      Seq("price_c" -> (col("price_c") * 2)))                       // v3
    GraftLake.optimize(s, tbl)                                      // v4
    s.read.format("graft-lake")
      .option("readChangeFeed", "true")
      .option("startingVersion", 1)
      .option("endingVersion", GraftLake.latestVersion(tbl)).load(tbl)
      .orderBy(col("o_orderkey"), col("change_kind"))
  }
  private val l19LakeBatchCdfSql =
    """WITH p AS (
      |  SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
      |         o_orderpriority,
      |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c
      |  FROM orders
      |)
      |SELECT o_orderkey, o_orderstatus, o_orderpriority,
      |       CASE WHEN o_orderkey % 20 = 1 THEN price_c * 2 ELSE price_c END
      |         AS price_c,
      |       'insert' AS change_kind
      |FROM p WHERE o_orderkey % 4 = 1
      |UNION ALL
      |SELECT o_orderkey, o_orderstatus, o_orderpriority, price_c,
      |       'delete' AS change_kind
      |FROM p WHERE o_orderkey % 4 = 0 AND o_orderkey % 8 = 0
      |ORDER BY o_orderkey, change_kind""".stripMargin

  // ── l20: SHALLOW CLONE — zero-copy table clone, then divergence ───────
  // One metadata commit references the source's files by absolute path
  // (in-gate requires: no data files under the clone, source untouched
  // after the clone diverges). The gate emits the CLONE's final state
  // after SQL divergence; the oracle replays it relationally.
  private val l20LakeClone: Q = (s, dir) => {
    val base = java.nio.file.Files.createTempDirectory("graft_lake_clone")
    val src = s"$base/src"; val dst = s"$base/dst"
    val p = ordersProjected(s, dir)
    p.createOrReplaceTempView("l20_src")
    s.sql("DROP TABLE IF EXISTS graft_l20_src")
    s.sql("DROP TABLE IF EXISTS graft_l20")
    s.sql(s"CREATE TABLE graft_l20_src USING `graft-lake` OPTIONS (path '$src') " +
      "AS SELECT o_orderkey, o_orderstatus, price_c FROM l20_src " +
      "WHERE o_orderkey % 2 = 0")
    s.sql(s"CREATE TABLE graft_l20 SHALLOW CLONE graft_l20_src LOCATION '$dst'")
    require(!new java.io.File(dst, "data").exists() ||
      new java.io.File(dst, "data").listFiles().isEmpty,
      "shallow clone must copy zero data files")
    // diverge the clone by SQL; the source must stay untouched
    s.sql("INSERT INTO graft_l20 SELECT o_orderkey, o_orderstatus, price_c " +
      "FROM l20_src WHERE o_orderkey % 2 = 1 AND o_orderkey % 5 = 0")
    s.sql("DELETE FROM graft_l20 WHERE o_orderkey % 10 = 4")
    require(s.table("graft_l20_src").count() ==
      GraftLake.read(s, src, asOf = Some(0L)).count(),
      "divergence must not touch the source")
    s.catalog.refreshTable("graft_l20")
    s.sql("SELECT o_orderkey, o_orderstatus, price_c FROM graft_l20 " +
      "ORDER BY o_orderkey")
  }
  private val l20LakeCloneSql =
    """WITH p AS (
      |  SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
      |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c
      |  FROM orders
      |)
      |SELECT o_orderkey, o_orderstatus, price_c FROM p
      |WHERE (o_orderkey % 2 = 0 OR (o_orderkey % 2 = 1 AND o_orderkey % 5 = 0))
      |  AND NOT o_orderkey % 10 = 4
      |ORDER BY o_orderkey""".stripMargin

  // ── l21: CHECK constraints — ingest-time data-quality enforcement ─────
  // constraint.<name> props (the Delta shape on the folded-props
  // machinery): ADD scans once, writes enforce via a codegen'd
  // assert_true riding the staging job. In-gate requires: a violating
  // INSERT fails with nothing committed; the final state replays
  // relationally (only the valid inserts landed).
  private val l21LakeConstraint: Q = (s, dir) => {
    val tbl = java.nio.file.Files.createTempDirectory("graft_lake_ck")
      .toString + "/t"
    val p = ordersProjected(s, dir)
    p.createOrReplaceTempView("l21_src")
    s.sql("DROP TABLE IF EXISTS graft_l21")
    s.sql(s"CREATE TABLE graft_l21 USING `graft-lake` OPTIONS (path '$tbl') " +
      "AS SELECT o_orderkey, o_orderstatus, price_c FROM l21_src " +
      "WHERE o_orderkey % 2 = 0")
    s.sql("ALTER TABLE graft_l21 SET TBLPROPERTIES " +
      "('constraint.price_pos' = 'price_c > 0')")
    // valid insert flows
    s.sql("INSERT INTO graft_l21 SELECT o_orderkey, o_orderstatus, price_c " +
      "FROM l21_src WHERE o_orderkey % 2 = 1 AND o_orderkey % 3 = 0")
    // violating insert fails with NOTHING committed
    val vBefore = GraftLake.latestVersion(tbl)
    val failed = try {
      s.sql("INSERT INTO graft_l21 VALUES (999999999, 'X', -1)"); false
    } catch { case _: Exception => true }
    require(failed, "violating INSERT must fail the CHECK constraint")
    require(GraftLake.latestVersion(tbl) == vBefore,
      "failed INSERT must not commit")
    s.catalog.refreshTable("graft_l21")
    s.sql("SELECT o_orderkey, o_orderstatus, price_c FROM graft_l21 " +
      "ORDER BY o_orderkey")
  }
  private val l21LakeConstraintSql =
    """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
      |       CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c
      |FROM orders
      |WHERE o_orderkey % 2 = 0 OR (o_orderkey % 2 = 1 AND o_orderkey % 3 = 0)
      |ORDER BY o_orderkey""".stripMargin

  // ── l22: ADVERSARIAL lifecycle composition — the seams between the
  // lake surfaces, chained: CONVERT (id-less adopted files) → clusterBy
  // + OPTIMIZE (re-layout of adopted data) → CHECK constraint (ADD-scan
  // over converted+clustered state, then write-side enforcement) →
  // SHALLOW CLONE VERSION AS OF (pin of a converted ancestor) → source
  // divergence → MoR DELETE on the CLONE (DVs over absolute-path
  // adopted references) → RENAME of the source's id-less column WORKS
  // via column mapping (r13: the file-side name freezes as the
  // physical name; this was refused fail-fast before, and corrupts
  // silently on engines without mapping) → table_changes on BOTH →
  // VACUUM DRY RUN on the source touching nothing the clone
  // references. Each surface is spec'd alone; the bugs live in the
  // seams, so ONE oracle replays the composed final state of both
  // tables relationally — the source through its post-rename schema.
  private val l22LakeLifecycle: Q = (s, dir) => {
    val base = java.nio.file.Files.createTempDirectory("graft_lake_e2e")
    val src = s"$base/src"; val dst = s"$base/dst"
    val p = ordersProjected(s, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("price_c"))
    p.createOrReplaceTempView("l22_src")

    // 1. CONVERT: footer-only adoption of raw parquet (id-less files)
    p.filter(col("o_orderkey") % 3 === 0)
      .repartitionByRange(6, col("o_orderkey")).write.parquet(src)
    require(s.sql(s"CONVERT TO LAKE '$src'").head().getLong(0) == 0L)
    s.sql("DROP TABLE IF EXISTS graft_l22_src")
    s.sql("DROP TABLE IF EXISTS graft_l22")
    s.sql(s"CREATE TABLE graft_l22_src USING `graft-lake` OPTIONS (path '$src')")

    // 2. cluster the ADOPTED data: declared columns + full re-layout
    s.sql("ALTER TABLE graft_l22_src SET TBLPROPERTIES " +
      "('clusterBy' = 'o_orderkey,price_c')")
    s.sql("OPTIMIZE graft_l22_src")

    // 3. CHECK constraint: ADD validates converted+clustered state in
    // one scan; a violating insert then fails with nothing committed
    s.sql("ALTER TABLE graft_l22_src SET TBLPROPERTIES " +
      "('constraint.price_pos' = 'price_c > 0')")
    s.sql("INSERT INTO graft_l22_src SELECT * FROM l22_src " +
      "WHERE o_orderkey % 3 = 1 AND o_orderkey % 4 = 1")
    val vPin = GraftLake.latestVersion(src)
    val failed = try {
      s.sql("INSERT INTO graft_l22_src VALUES (999999999, 'X', -5)"); false
    } catch { case _: Exception => true }
    require(failed && GraftLake.latestVersion(src) == vPin,
      "violating INSERT must fail atomically on the converted table")

    // 4. time-travel clone of the pinned state; then the source diverges
    s.sql(s"CREATE TABLE graft_l22 SHALLOW CLONE graft_l22_src " +
      s"VERSION AS OF $vPin LOCATION '$dst'")
    s.sql("INSERT INTO graft_l22_src SELECT * FROM l22_src " +
      "WHERE o_orderkey % 3 = 2 AND o_orderkey % 4 = 2")

    // 5. MoR DELETE on the CLONE: DVs over absolute-path adopted files,
    // zero parquet written into the clone
    s.conf.set("spark.graft.lake.deleteMode", "mor")
    try s.sql("DELETE FROM graft_l22 WHERE o_orderkey % 7 = 0")
    finally s.conf.unset("spark.graft.lake.deleteMode")
    require(Option(new java.io.File(dst, "data").listFiles())
      .getOrElse(Array.empty).forall(!_.getName.endsWith(".parquet")),
      "MoR delete on a shallow clone must write no parquet")
    val cloneSnap = GraftLake.snapshot(s, dst)
    require(cloneSnap.files.exists(f => f.dv.isDefined &&
      f.path.startsWith("/")),
      "the clone's DVs must reference the ADOPTED absolute-path files")

    // 6. RENAME on the source's id-less column: refused while the CHECK
    // constraint references it (the stored SQL can't be rewritten —
    // Delta's rule), then WORKS via column mapping once the constraint
    // is dropped (r13; before mapping this was refused outright):
    // the rename freezes the file-side name as the column's physical
    // name — a pure metadata commit, old and new files keep serving it
    val ckGuard = try {
      s.sql("ALTER TABLE graft_l22_src RENAME COLUMN price_c TO pc"); false
    } catch { case e: Exception =>
      e.getMessage != null && e.getMessage.contains("price_pos") }
    require(ckGuard,
      "renaming a constraint-referenced column must be refused")
    s.sql("ALTER TABLE graft_l22_src UNSET TBLPROPERTIES ('constraint.price_pos')")
    val srcFilesPreRename = GraftLake.snapshot(s, src).files.map(_.path).toSet
    s.sql("ALTER TABLE graft_l22_src RENAME COLUMN price_c TO pc")
    s.catalog.refreshTable("graft_l22_src")
    require(GraftLake.snapshot(s, src).files.map(_.path).toSet ==
      srcFilesPreRename, "the id-less rename must be metadata-only")
    require(s.sql("SELECT count(*) FROM graft_l22_src WHERE pc > 0").head()
      .getLong(0) == s.table("graft_l22_src").count(),
      "the renamed column must keep serving every adopted row")

    // 7. change feeds on BOTH: the source's post-clone delta is exactly
    // the divergence insert; the clone's is exactly the MoR delete
    val srcDelta = s.sql(s"SELECT change_kind, count(*) AS n FROM " +
      s"table_changes('graft_l22_src', ${vPin + 1}) GROUP BY 1").collect()
    val insB = p.filter(col("o_orderkey") % 3 === 2 &&
      col("o_orderkey") % 4 === 2).count()
    require(srcDelta.toSeq.map(r => (r.getString(0), r.getLong(1))) ==
      Seq(("insert", insB)), s"source CDF must be the divergence insert")
    val cloneDelta = s.sql("SELECT change_kind, count(*) AS n FROM " +
      "table_changes('graft_l22', 1) GROUP BY 1").collect()
    val delN = p.filter((col("o_orderkey") % 3 === 0 ||
      (col("o_orderkey") % 3 === 1 && col("o_orderkey") % 4 === 1)) &&
      col("o_orderkey") % 7 === 0).count()
    require(cloneDelta.toSeq.map(r => (r.getString(0), r.getLong(1))) ==
      Seq(("delete", delN)), "clone CDF must be the MoR delete")

    // 8. VACUUM DRY RUN on the source: reports, touches NOTHING, and
    // names no file the clone references
    def filesUnder(d: String): Set[String] =
      Option(new java.io.File(d, "data").listFiles())
        .getOrElse(Array.empty).map(_.getName).toSet
    val before = filesUnder(src)
    val doomed = s.sql("VACUUM graft_l22_src RETAIN 0 HOURS DRY RUN")
      .collect().map(_.getString(0)).toSet
    require(filesUnder(src) == before, "DRY RUN must delete nothing")
    val cloneRefs = cloneSnap.files.map(_.path).toSet
    require(doomed.intersect(cloneRefs).isEmpty,
      "the dry run must not name files the clone's pinned version holds")

    s.catalog.refreshTable("graft_l22_src")
    s.catalog.refreshTable("graft_l22")
    // the source was renamed (pc), the clone was pinned pre-rename
    // (price_c) — the union aliases both to one oracle-replayable shape
    s.sql("""SELECT 'src' AS side, o_orderkey, o_orderstatus,
            |       pc AS price_c
            |FROM graft_l22_src
            |UNION ALL
            |SELECT 'clone' AS side, o_orderkey, o_orderstatus, price_c
            |FROM graft_l22
            |ORDER BY side, o_orderkey""".stripMargin)
  }
  private val l22LakeLifecycleSql =
    """WITH p AS (
      |  SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
      |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c
      |  FROM orders
      |)
      |SELECT 'src' AS side, o_orderkey, o_orderstatus, price_c FROM p
      |WHERE o_orderkey % 3 = 0
      |   OR (o_orderkey % 3 = 1 AND o_orderkey % 4 = 1)
      |   OR (o_orderkey % 3 = 2 AND o_orderkey % 4 = 2)
      |UNION ALL
      |SELECT 'clone' AS side, o_orderkey, o_orderstatus, price_c FROM p
      |WHERE (o_orderkey % 3 = 0
      |   OR (o_orderkey % 3 = 1 AND o_orderkey % 4 = 1))
      |  AND NOT o_orderkey % 7 = 0
      |ORDER BY side, o_orderkey""".stripMargin

  // ── l23: bloom-filter point lookup — the takedown/audit shape ─────────
  // `bloomFilter.columns` makes every staged file carry a parquet-native
  // bloom on the key: point lookups on a uniformly distributed
  // high-cardinality column (which overlaps every file's [min,max], so
  // footer stats prune NOTHING) drop disproven row groups inside each
  // task, zero planning cost. In-gate requires: pre-property files are
  // bare, post-property files carry the bloom, OPTIMIZE backfills the
  // rest through the same stage() choke point, and a key absent from the
  // table is disproven by every file's bloom. The oracle replays the
  // point-lookup result relationally.
  private val l23LakeBloom: Q = (s, dir) => {
    val tbl = java.nio.file.Files.createTempDirectory("graft_lake_bloom")
      .toString + "/t"
    val p = ordersProjected(s, dir)
    // v0 lands BEFORE the property exists -> bare files
    GraftLake.create(p.filter(col("o_orderkey") % 2 === 0), tbl, numFiles = 2)
    GraftLake.setProperties(s, tbl, Map(
      "bloomFilter.columns" -> "o_orderkey",
      "bloomFilter.ndv.o_orderkey" -> "100000"))
    require(GraftLake.snapshot(s, tbl).files.forall(f => GraftLake.readBloom(
      s, GraftLake.absPath(tbl, f.path), "o_orderkey").isEmpty),
      "files written before the property must be bare")
    // the other half lands WITH blooms; OPTIMIZE then backfills v0
    GraftLake.append(p.filter(col("o_orderkey") % 2 === 1), tbl, numFiles = 2)
    GraftLake.optimize(s, tbl, smallBytes = Long.MaxValue)
    val snap = GraftLake.snapshot(s, tbl)
    val blooms = snap.files.map(f => GraftLake.readBloom(
      s, GraftLake.absPath(tbl, f.path), "o_orderkey"))
    require(blooms.nonEmpty && blooms.forall(_.isDefined),
      "every active file must carry the key bloom after OPTIMIZE backfill")
    // a key the TABLE does not hold is disproven by every file's bloom
    // (deterministic data -> deterministic filters)
    val absent = p.agg(max(col("o_orderkey"))).head().getLong(0) * 2 + 1
    require(blooms.forall(b => !b.get.findHash(b.get.hash(absent))),
      "an absent key must be disproven by the blooms")
    // the point lookup itself rides the planner-integrated scan (Eq/In
    // pushdown reaches parquet's task-side bloom check)
    GraftLake.read(s, tbl)
      .filter(col("o_orderkey").isin(1L, 77L, 501L, 1001L, 1313L, 1499L))
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_orderpriority"), col("price_c"))
      .orderBy(col("o_orderkey"))
  }
  private val l23LakeBloomSql =
    """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
      |       o_orderpriority,
      |       CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c
      |FROM orders
      |WHERE o_orderkey IN (1, 77, 501, 1001, 1313, 1499)
      |ORDER BY o_orderkey""".stripMargin

  val all: Map[String, Q] = Map(
    "l23_lake_bloom" -> l23LakeBloom,
    "l22_lake_lifecycle" -> l22LakeLifecycle,
    "l18_lake_convert" -> l18LakeConvert,
    "l19_lake_batch_cdf" -> l19LakeBatchCdf,
    "l20_lake_clone" -> l20LakeClone,
    "l21_lake_constraint" -> l21LakeConstraint,
    "l14_lake_dv" -> l14LakeDv,
    "l15_lake_dv_update" -> l15LakeDvUpdate,
    "l16_lake_merge_mor" -> l16LakeMergeMor,
    "l17_lake_cluster" -> l17LakeCluster,
    "l13_lake_cdc_replica" -> l13LakeCdcReplica,
    "l9_lake_sql_alter" -> l9LakeSqlAlter,
    "l10_lake_sql_merge" -> l10LakeSqlMerge,
    "l11_lake_sql_maintenance" -> l11LakeSqlMaintenance,
    "l12_lake_sql_lifecycle" -> l12LakeSqlLifecycle,
    "l1_lake_dml" -> l1LakeDml,
    "l6_lake_sql_ddl" -> l6LakeSqlDdl,
    "l7_lake_rename_scan" -> l7LakeRename,
    "l8_lake_stream_feed" -> l8LakeStreamFeed,
    "l2_lake_time_travel" -> l2LakeTimeTravel,
    "l3_lake_prune_scan" -> l3LakePruneScan,
    "l4_lake_changes" -> l4LakeChanges,
    "l5_lake_planner_scan" -> l5LakePlannerScan)

  val oracles: Map[String, String] = Map(
    "l23_lake_bloom" -> l23LakeBloomSql,
    "l22_lake_lifecycle" -> l22LakeLifecycleSql,
    "l18_lake_convert" -> l18LakeConvertSql,
    "l19_lake_batch_cdf" -> l19LakeBatchCdfSql,
    "l20_lake_clone" -> l20LakeCloneSql,
    "l21_lake_constraint" -> l21LakeConstraintSql,
    "l14_lake_dv" -> l14LakeDvSql,
    "l15_lake_dv_update" -> l15LakeDvUpdateSql,
    "l16_lake_merge_mor" -> l10LakeSqlMergeSql, // same algebra, MoR path
    "l17_lake_cluster" -> l17LakeClusterSql,
    "l13_lake_cdc_replica" -> l1LakeDmlSql, // same final state, CDC path
    "l9_lake_sql_alter" -> l9LakeSqlAlterSql,
    "l10_lake_sql_merge" -> l10LakeSqlMergeSql,
    "l11_lake_sql_maintenance" -> l11LakeSqlMaintenanceSql,
    "l12_lake_sql_lifecycle" -> l12LakeSqlLifecycleSql,
    "l1_lake_dml" -> l1LakeDmlSql,
    "l6_lake_sql_ddl" -> l6LakeSqlDdlSql,
    "l7_lake_rename_scan" -> l7LakeRenameSql,
    "l8_lake_stream_feed" -> l8LakeStreamFeedSql,
    "l2_lake_time_travel" -> l2LakeTimeTravelSql,
    "l3_lake_prune_scan" -> l3LakePruneScanSql,
    "l4_lake_changes" -> l4LakeChangesSql,
    "l5_lake_planner_scan" -> l5LakePlannerScanSql)
}
