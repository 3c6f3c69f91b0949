package graft.sources.lake

import java.io.File

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/**
 * Deletion vectors (merge-on-read deletes): [[GraftLake.deleteMoR]]
 * records deleted `_metadata.row_index` positions in roaring-bitmap
 * sidecars referenced from the AddFile — no parquet rewrite — and EVERY
 * read path must subtract them: direct reads, the planner-integrated
 * scan (with footer-stats file pruning intact), time travel, RESTORE,
 * the change feed, CoW ops layered on top, OPTIMIZE purge, vacuum
 * lifecycle, and the streaming source's fail-fast contract.
 */
class LakeDvSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_lake_dv").toString + "/t"

  private def mkTable(dir: String, n: Long = 1000, files: Int = 8): Unit =
    GraftLake.create(
      spark.range(0, n).select(col("id"), (col("id") * 2).as("v"))
        .repartitionByRange(files, col("id")),
      dir, numFiles = 0)

  private def dataFilesOf(dir: String): Set[String] =
    Option(new File(dir, "data").listFiles((_, n) => n.endsWith(".parquet")))
      .getOrElse(Array.empty).map(_.getName).toSet

  test("deleteMoR deletes rows WITHOUT rewriting data files; reads, " +
    "pruned scans, and counts all subtract the vectors") {
    val dir = tmp()
    mkTable(dir)
    val before = dataFilesOf(dir)
    val v = GraftLake.deleteMoR(spark, dir, col("id") % 10 === 3)
    assert(v == 1L)
    assert(GraftLake.history(dir).map(_._2) == Seq("create", "delete-mor"))
    // merge-on-read: the data file set on disk is UNCHANGED
    assert(dataFilesOf(dir) == before, "deleteMoR must not rewrite parquet")
    // every touched AddFile carries a DV; paths unchanged
    val snap = GraftLake.snapshot(spark, dir)
    assert(snap.files.map(_.path).toSet == before.map("data/" + _))
    assert(snap.files.forall(_.dv.isDefined), "every file holds an id%10==3 row")
    assert(snap.files.flatMap(_.dv).map(_.cardinality).sum == 100)
    // reads subtract the vectors
    val got = GraftLake.read(spark, dir).as[(Long, Long)].collect().toSet
    val expected = (0L until 1000L).filterNot(_ % 10 == 3)
      .map(i => (i, i * 2)).toSet
    assert(got == expected)
    // stats-pruned scan path too
    val (df, scanned, total) = GraftLake.scanFiltered(spark, dir,
      col("id") >= 100L && col("id") <= 299L)
    assert(scanned < total, "footer pruning must survive DVs")
    assert(df.select("id").as[Long].collect().sorted.toSeq ==
      (100L to 299L).filterNot(_ % 10 == 3))
  }

  test("planner path: spark.table applies DVs via the split scan AND " +
    "footer-stats pruning still skips files") {
    val dir = tmp()
    spark.sql("DROP TABLE IF EXISTS lake_dv_sql")
    spark.range(0, 1000).select(col("id"), (col("id") * 2).as("v"))
      .repartitionByRange(8, col("id"))
      .createOrReplaceTempView("lake_dv_sql_src")
    spark.sql(
      s"""CREATE TABLE lake_dv_sql USING `graft-lake` OPTIONS (path '$dir')
         |AS SELECT * FROM lake_dv_sql_src""".stripMargin)
    // route DELETE FROM through merge-on-read via the session conf
    spark.conf.set("spark.graft.lake.deleteMode", "mor")
    try spark.sql("DELETE FROM lake_dv_sql WHERE id % 10 = 3 AND id < 500")
    finally spark.conf.unset("spark.graft.lake.deleteMode")
    assert(GraftLake.history(dir).map(_._2) == Seq("create", "delete-mor"))

    // values: deleted ids gone, everything else intact
    assert(spark.sql("SELECT count(*) FROM lake_dv_sql").head().getLong(0) ==
      1000L - 50L)
    assert(spark.sql(
      "SELECT count(*) FROM lake_dv_sql WHERE id % 10 = 3").head().getLong(0) == 50L)
    assert(spark.sql(
      "SELECT sum(v) FROM lake_dv_sql WHERE id < 20").head().getLong(0) ==
      (0L until 20L).filterNot(i => i % 10 == 3).map(_ * 2).sum)

    // plan proof: a tight range still stats-prunes to a file subset —
    // the split plan's scans together open fewer files than the table has
    val probe = spark.sql(
      "SELECT id FROM lake_dv_sql WHERE id BETWEEN 600 AND 699")
    probe.collect()
    val scanned = probe.queryExecution.executedPlan.collect {
      case sc: FileSourceScanExec => sc.metrics("numFiles").value
    }.sum
    val totalFiles = GraftLake.snapshot(spark, dir).files.size
    assert(scanned >= 1 && scanned < totalFiles,
      s"DV split scan must still prune: opened $scanned of $totalFiles")
    spark.sql("DROP TABLE lake_dv_sql")
  }

  test("time travel resurrects pre-DV rows; RESTORE rolls the DV back as " +
    "a new commit") {
    val dir = tmp()
    mkTable(dir, n = 200, files = 2)
    GraftLake.deleteMoR(spark, dir, col("id") < 50L)          // v1
    GraftLake.deleteMoR(spark, dir, col("id") >= 150L)        // v2 (grows/more files)
    assert(GraftLake.read(spark, dir).count() == 100)
    assert(GraftLake.read(spark, dir, asOf = Some(1L)).count() == 150)
    assert(GraftLake.read(spark, dir, asOf = Some(0L)).count() == 200)
    // restore to v1: the second delete's DV state must roll back
    GraftLake.restore(spark, dir, 1L)
    assert(GraftLake.read(spark, dir).count() == 150)
    assert(GraftLake.read(spark, dir).select(min(col("id"))).head().getLong(0) == 50L)
    assert(GraftLake.read(spark, dir).select(max(col("id"))).head().getLong(0) == 199L)
  }

  test("changes() emits EXACTLY the newly-deleted positions as deletes — " +
    "cost bounded by changed files, rows by the delta") {
    val dir = tmp()
    mkTable(dir, n = 100, files = 2)
    GraftLake.deleteMoR(spark, dir, col("id") === 7L)    // v1
    GraftLake.deleteMoR(spark, dir, col("id") === 11L)   // v2: DV grows
    val d1 = GraftLake.changes(spark, dir, 0L, 1L)
      .select("id", "change_kind").as[(Long, String)].collect().toSet
    assert(d1 == Set((7L, "delete")))
    val d2 = GraftLake.changes(spark, dir, 1L, 2L)
      .select("id", "change_kind").as[(Long, String)].collect().toSet
    assert(d2 == Set((11L, "delete")), "grown DV must emit only the DELTA")
    val dAll = GraftLake.changes(spark, dir, 0L, 2L)
      .select("id", "change_kind").as[(Long, String)].collect().toSet
    assert(dAll == Set((7L, "delete"), (11L, "delete")))
  }

  test("repeated deleteMoR grows the vector through NEW sidecars; CoW ops " +
    "on DV'd files do not resurrect; OPTIMIZE purges the vectors") {
    val dir = tmp()
    mkTable(dir, n = 100, files = 1)
    GraftLake.deleteMoR(spark, dir, col("id") === 1L)
    val dv1 = GraftLake.snapshot(spark, dir).files.head.dv.get
    GraftLake.deleteMoR(spark, dir, col("id") === 2L)
    val dv2 = GraftLake.snapshot(spark, dir).files.head.dv.get
    assert(dv1.path != dv2.path, "sidecars are immutable; growth = new file")
    assert(dv2.cardinality == 2L)
    // already-deleted rows don't re-mark: same predicate again → no commit
    val v = GraftLake.deleteMoR(spark, dir, col("id") === 2L)
    assert(v == 2L && GraftLake.history(dir).size == 3,
      "re-deleting already-deleted rows must be a no-op, not a new commit")
    // CoW update on top: victims re-read DV-filtered, deleted rows stay dead
    GraftLake.update(spark, dir, col("id") === 5L, Seq("v" -> lit(500L)))
    val after = GraftLake.read(spark, dir).as[(Long, Long)].collect().toSet
    val expected = (0L until 100L).filterNot(i => i == 1L || i == 2L)
      .map(i => if (i == 5L) (i, 500L) else (i, i * 2)).toSet
    assert(after == expected)
    // the CoW rewrite purged the DV (victim file replaced by a clean one)
    assert(GraftLake.snapshot(spark, dir).files.forall(_.dv.isEmpty))

    // fresh DV, then OPTIMIZE: compaction rewrites DV'd files regardless
    // of size and the steady state is vector-free
    GraftLake.deleteMoR(spark, dir, col("id") === 9L)
    assert(GraftLake.snapshot(spark, dir).files.exists(_.dv.isDefined))
    GraftLake.optimize(spark, dir)
    val snap = GraftLake.snapshot(spark, dir)
    assert(snap.files.forall(_.dv.isEmpty), "OPTIMIZE must purge DVs")
    assert(GraftLake.read(spark, dir).count() == 97) // 100 − ids {1, 2, 9}
  }

  test("a fully-deleted file is dropped outright; vacuum reclaims retired " +
    "sidecars under the remove-commit age gate") {
    val dir = tmp()
    mkTable(dir, n = 100, files = 4) // 25 ids per range file
    // kill one whole file's range via MoR: the AddFile must disappear
    GraftLake.deleteMoR(spark, dir, col("id") < 25L)
    val snap = GraftLake.snapshot(spark, dir)
    assert(snap.files.size == 3, "a 100%-deleted file is dropped, not DV'd")
    assert(snap.files.forall(_.dv.isEmpty))
    assert(GraftLake.read(spark, dir).count() == 75)

    // grow a DV twice on another file; the superseded sidecar + the
    // tombstoned data file reclaim under keepHistory=false, age 0
    GraftLake.deleteMoR(spark, dir, col("id") === 30L)
    GraftLake.deleteMoR(spark, dir, col("id") === 31L)
    def dvFiles(): Set[String] =
      Option(new File(dir, "dv").listFiles()).getOrElse(Array.empty)
        .map(_.getName).toSet
    assert(dvFiles().size == 2, "two sidecar generations on disk")
    val reclaimed = GraftLake.vacuumAt(spark, dir, keepHistory = false,
      minAgeMillis = 0L, now = System.currentTimeMillis() + 1L)
    assert(reclaimed >= 2, s"dropped data file + old sidecar, got $reclaimed")
    assert(dvFiles().size == 1, "only the live sidecar survives")
    // live state intact
    assert(GraftLake.read(spark, dir).count() == 73)
    // active sidecars are NEVER reclaimed even at age 0
    val again = GraftLake.vacuumAt(spark, dir, keepHistory = false,
      minAgeMillis = 0L, now = System.currentTimeMillis() + 1L)
    assert(again == 0 && dvFiles().size == 1)
  }

  test("streaming source fails fast on a delete-mor commit (or skips it " +
    "with skipChangeCommits); initial snapshot applies DVs") {
    val dir = tmp()
    val base = java.nio.file.Files.createTempDirectory("graft_lake_dv_s")
    mkTable(dir, n = 100, files = 2)
    GraftLake.deleteMoR(spark, dir, col("id") % 10 === 0)
    def drain(out: String, ckpt: String, opts: Map[String, String] = Map.empty): Unit = {
      var r = spark.readStream.format("graft-lake").option("path", dir)
      opts.foreach { case (k, v) => r = r.option(k, v) }
      val q = r.load().writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // initial snapshot AFTER the MoR delete subtracts the vectors
    drain(s"$base/out1", s"$base/ck1")
    assert(spark.read.parquet(s"$base/out1").count() == 90)
    // a delete-mor commit mid-stream is a row-removing change: fail fast
    GraftLake.deleteMoR(spark, dir, col("id") === 1L)
    val err = intercept[Exception](drain(s"$base/out1", s"$base/ck1"))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(err).exists(_.contains("delete-mor")))
    // skipChangeCommits rides over it
    drain(s"$base/out2", s"$base/ck1_skip" , Map("skipChangeCommits" -> "true"))
  }

  test("updateMoR: DV the old rows + append just the updated rows in ONE " +
    "commit — original files untouched, all read paths agree") {
    val dir = tmp()
    mkTable(dir, n = 1000, files = 8)
    val before = dataFilesOf(dir)
    GraftLake.updateMoR(spark, dir, col("id") % 100 === 7L,
      Seq("v" -> (col("v") + 1000000L)))
    val hist = GraftLake.history(dir)
    assert(hist.map(_._2) == Seq("create", "update-mor"))
    // original files still on disk untouched; only the updated-rows files
    // are new (plus DV sidecars)
    assert(before.subsetOf(dataFilesOf(dir)))
    val snap = GraftLake.snapshot(spark, dir)
    assert(snap.files.count(_.dv.isDefined) == 8, "every range file DV'd")
    // values: pre-update evaluation, exact
    val got = GraftLake.read(spark, dir).as[(Long, Long)].collect().toSet
    val expected = (0L until 1000L).map(i =>
      if (i % 100 == 7) (i, i * 2 + 1000000L) else (i, i * 2)).toSet
    assert(got == expected)
    assert(GraftLake.read(spark, dir).count() == 1000)
    // the change feed nets to delete(old)+insert(new) per updated row
    val cdc = GraftLake.changes(spark, dir, 0L, 1L)
      .select("id", "v", "change_kind").as[(Long, Long, String)].collect().toSet
    val upd = (0L until 1000L).filter(_ % 100 == 7)
    assert(cdc == upd.map(i => (i, i * 2, "delete")).toSet ++
      upd.map(i => (i, i * 2 + 1000000L, "insert")).toSet)
    // SQL routing via the session conf
    spark.sql("DROP TABLE IF EXISTS lake_dv_upd")
    spark.sql(s"CREATE TABLE lake_dv_upd USING `graft-lake` OPTIONS (path '$dir')")
    spark.conf.set("spark.graft.lake.updateMode", "mor")
    try spark.sql("UPDATE lake_dv_upd SET v = 0 WHERE id = 3")
    finally spark.conf.unset("spark.graft.lake.updateMode")
    assert(GraftLake.history(dir).map(_._2) ==
      Seq("create", "update-mor", "update-mor"))
    assert(spark.sql("SELECT v FROM lake_dv_upd WHERE id = 3").head().getLong(0) == 0L)
    spark.sql("DROP TABLE lake_dv_upd")
  }

  test("count(*) over a lake table folds to a LOG-metadata literal — " +
    "zero tasks, exact under deletion vectors and time travel") {
    val dir = tmp()
    spark.sql("DROP TABLE IF EXISTS lake_dv_cnt")
    spark.sql(
      s"""CREATE TABLE lake_dv_cnt USING `graft-lake` OPTIONS (path '$dir')
         |AS SELECT id, id * 2 AS v FROM range(500)""".stripMargin)
    GraftLake.deleteMoR(spark, dir, col("id") % 5 === 0)

    val q = spark.sql("SELECT count(*) FROM lake_dv_cnt")
    assert(q.head().getLong(0) == 400L, "metadata count must subtract DVs")
    // plan proof: no scan at all — the aggregate folded to a local row
    val scans = new AdaptiveSparkPlanHelper {}.collect(q.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    assert(scans.isEmpty, s"count(*) must not scan: ${q.queryExecution.executedPlan}")

    // the DataFrame form too: load() rewrites the DV relation into its
    // split scan before count() is applied, and that count still folds
    val api = spark.read.format("graft-lake").load(dir).groupBy().count()
    assert(api.head().getLong(0) == 400L)
    assert(new AdaptiveSparkPlanHelper {}.collect(api.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }.isEmpty, s"a loaded DV table's count must not scan: ${api.queryExecution.executedPlan}")
    // filtered counts fall through to a real (DV-filtered) scan
    assert(spark.sql("SELECT count(*) FROM lake_dv_cnt WHERE id < 10")
      .head().getLong(0) == 8L)
    // conf off → normal plan, same answer
    spark.conf.set("spark.graft.lake.metadataCount.enabled", "false")
    try assert(spark.sql("SELECT count(*) FROM lake_dv_cnt").head().getLong(0) == 400L)
    finally spark.conf.unset("spark.graft.lake.metadataCount.enabled")
    // API path + time travel
    assert(GraftLake.read(spark, dir, asOf = Some(0L)).count() == 500L)
    spark.sql("DROP TABLE lake_dv_cnt")
  }

  test("mergeIntoMoR: only FIRED rows are vectored + rewritten; unfired " +
    "matched rows keep their physical place; inserts append") {
    val dir = tmp()
    mkTable(dir, n = 1000, files = 8)
    val before = dataFilesOf(dir)
    // source hits ids 0..99 (conditional: only even sv updates, sv%5==0
    // deletes), plus two fresh keys
    val src = spark.range(0, 100).select(col("id"), (col("id") * 10).as("sv"))
      .unionByName(Seq((5000L, 1L), (5001L, 2L)).toDF("id", "sv"))
    GraftLake.mergeIntoMoR(spark, dir, src,
      col("t.id") === col("s.id"),
      matched = Seq(
        GraftLake.MatchedDelete(Some(col("s.sv") % 50 === 0)),
        GraftLake.MatchedUpdate(Some(col("s.sv") % 20 === 10),
          Seq("v" -> col("s.sv")))),
      notMatched = Seq(GraftLake.NotMatchedInsert(None,
        Seq("id" -> col("s.id"), "v" -> col("s.sv")))))
    assert(GraftLake.history(dir).map(_._2) == Seq("create", "merge-mor"))
    assert(before.subsetOf(dataFilesOf(dir)),
      "merge-on-read must leave the original parquet files on disk")
    // model: id<100 → delete when id%5==0; update v=10*id when id%2==1;
    // else untouched. +2 inserts.
    val expected = (0L until 1000L).flatMap { i =>
      if (i < 100 && i % 5 == 0) None
      else if (i < 100 && i % 2 == 1) Some((i, i * 10))
      else Some((i, i * 2))
    }.toSet ++ Set((5000L, 1L), (5001L, 2L))
    val got = GraftLake.read(spark, dir).as[(Long, Long)].collect().toSet
    assert(got == expected)
    // only files holding ids 0..99 grew vectors (range-partitioned: 1 of 8)
    val dvd = GraftLake.snapshot(spark, dir).files.filter(_.dv.isDefined)
    assert(dvd.nonEmpty && dvd.size < 8,
      s"only touched files may carry vectors, got ${dvd.size} of 8")
    // CDC nets to delete(old) [+ insert(new) for updates] per touched row
    val cdc = GraftLake.changes(spark, dir, 0L, 1L)
      .select("id", "v", "change_kind").as[(Long, Long, String)].collect().toSet
    val dels = (0L until 100L).filter(i => i % 5 == 0 || i % 2 == 1)
      .map(i => (i, i * 2, "delete")).toSet
    val ins = (0L until 100L).filter(i => i % 5 != 0 && i % 2 == 1)
      .map(i => (i, i * 10, "insert")).toSet ++
      Set((5000L, 1L, "insert"), (5001L, 2L, "insert"))
    assert(cdc == dels ++ ins)
    // SQL routing + ambiguity guard still applies in MoR
    spark.sql("DROP TABLE IF EXISTS lake_dv_mm")
    spark.sql(s"CREATE TABLE lake_dv_mm USING `graft-lake` OPTIONS (path '$dir')")
    Seq((7L, 1L), (7L, 2L)).toDF("id", "sv")
      .createOrReplaceTempView("lake_dv_mm_src")
    spark.conf.set("spark.graft.lake.mergeMode", "mor")
    try {
      val err = intercept[Exception](spark.sql(
        """MERGE INTO lake_dv_mm t USING lake_dv_mm_src s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET v = s.sv""".stripMargin))
      def msgs(x: Throwable): Seq[String] =
        if (x == null) Nil else Option(x.getMessage).toSeq ++ msgs(x.getCause)
      assert(msgs(err).exists(_.contains("matched multiple source rows")))
      spark.sql(
        """MERGE INTO lake_dv_mm t
          |USING (SELECT 8 AS id, 888 AS sv) s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET v = s.sv""".stripMargin)
      assert(spark.sql("SELECT v FROM lake_dv_mm WHERE id = 8")
        .head().getLong(0) == 888L)
      assert(GraftLake.history(dir).last._2 == "merge-mor")
    } finally spark.conf.unset("spark.graft.lake.mergeMode")
    spark.sql("DROP TABLE lake_dv_mm")
  }

  test("MoR MERGE INTO leaves no persistent RDD behind") {
    val dir = tmp()
    mkTable(dir, n = 200, files = 2)
    spark.sql("DROP TABLE IF EXISTS lake_dv_leak")
    spark.sql(s"CREATE TABLE lake_dv_leak USING `graft-lake` OPTIONS (path '$dir')")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    spark.conf.set("spark.graft.lake.mergeMode", "mor")
    try spark.sql(
      """MERGE INTO lake_dv_leak t
        |USING (SELECT id, id * 10 AS sv FROM range(0, 20)) s ON t.id = s.id
        |WHEN MATCHED AND s.id % 2 = 0 THEN UPDATE SET v = s.sv
        |WHEN MATCHED THEN DELETE""".stripMargin)
    finally spark.conf.unset("spark.graft.lake.mergeMode")
    assert(GraftLake.history(dir).last._2 == "merge-mor")
    assert(GraftLake.read(spark, dir).count() == 190L)
    val left = sc.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"MoR merge still holds: $left")
    spark.sql("DROP TABLE lake_dv_leak")
  }

  test("MoR MERGE INTO logs no LogicalRDD output-column warning") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val dir = tmp()
    mkTable(dir, n = 200, files = 2)
    val warns = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("lake-dv-logical-rdd", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN) warns.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger("org.apache.spark.sql.execution.LogicalRDD")
      .asInstanceOf[Logger]
    logger.addAppender(appender)
    try GraftLake.mergeIntoMoR(spark, dir,
      spark.range(0, 400, 5).select(col("id"), (col("id") * 3).as("sv")),
      col("t.id") === col("s.id"),
      matched = Seq(
        GraftLake.MatchedUpdate(Some(col("s.id") % 2 === 0), Seq("v" -> lit(7L))),
        GraftLake.MatchedDelete()),
      notMatched = Seq(GraftLake.NotMatchedInsert(Some(col("s.sv") % 2 === 1),
        Seq("id" -> col("s.id"), "v" -> lit(9L)))))
    finally { logger.removeAppender(appender); appender.stop() }
    assert(GraftLake.history(dir).last._2 == "merge-mor")
    assert(GraftLake.read(spark, dir).count() == 200L)
    assert(warns.isEmpty, s"LogicalRDD warned: ${warns.asScala.headOption.getOrElse("")}")
  }

  test("merge over a DV'd table: victims re-read without deleted rows; " +
    "upsert of a deleted key re-inserts it") {
    val dir = tmp()
    mkTable(dir, n = 100, files = 2)
    GraftLake.deleteMoR(spark, dir, col("id") === 10L)
    // key 10 is deleted → merge sees it as absent → insert branch
    GraftLake.merge(spark, dir,
      Seq((10L, 777L), (20L, 888L)).toDF("id", "v"), "id")
    val got = GraftLake.read(spark, dir).as[(Long, Long)].collect().toSet
    val expected = (0L until 100L).filterNot(_ == 10L)
      .map(i => if (i == 20L) (i, 888L) else (i, i * 2)).toSet + ((10L, 777L))
    assert(got == expected)
  }

  test("DV descriptors ride the FileIndex's PER-FILE metadata, not the " +
    "plan: the predicate is constant-size, tasks see only their split's " +
    "sidecar paths, and _metadata.__dv_path answers per file") {
    val dir = tmp()
    mkTable(dir)
    GraftLake.deleteMoR(spark, dir, col("id") % 10 === 3 && col("id") < 500)

    // the plan's DvDeleted reference object is CONSTANT size — no map of
    // the table's files (the r12 shape measured 126 MB at 1e6 DV files)
    val frame = GraftLake.read(spark, dir)
    val exprs = frame.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FilterExec =>
        f.condition.collect { case d: DvDeleted => d }
    }.flatten
    assert(exprs.nonEmpty, "DV table read must carry the position predicate")
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(exprs.head); oos.close()
    assert(bos.size() < 16384,
      s"DvDeleted must serialize constant-small, got ${bos.size()} bytes")

    // both split branches scan through the graft format (which declares
    // the __dv_path constant column); results are DV-exact
    val formats = frame.queryExecution.executedPlan.collect {
      case sc: FileSourceScanExec => sc.relation.fileFormat
    }
    assert(formats.nonEmpty &&
      formats.forall(_.isInstanceOf[GraftParquetFileFormat]))
    assert(frame.count() == 1000L - 50L)

    // per-file metadata: the DV branch's listing carries a sidecar path
    // per DV'd file; the clean branch's listing carries none. This is
    // exactly what a task's split inherits — its own files' descriptors.
    val Seq(cleanIdx, dvdIdx) = frame.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.asInstanceOf[org.apache.spark.sql.execution.datasources
          .HadoopFsRelation].location.asInstanceOf[LakeFileIndex]
    }
    val dvdMeta = dvdIdx.listFiles(Nil, Nil).head.files
      .map(_.metadata.get(GraftParquetFileFormat.DvPathField))
    assert(dvdMeta.nonEmpty && dvdMeta.forall(_.isDefined))
    val cleanMeta = cleanIdx.listFiles(Nil, Nil).head.files
      .map(_.metadata.get(GraftParquetFileFormat.DvPathField))
    assert(cleanMeta.forall(_.isEmpty))

    // and the metadata column is queryable directly: per-row sidecar
    // path on the DV branch, matching the log's references
    val dvPaths = spark.baseRelationToDataFrame(
        LakeFileIndex.relationFor(spark, dvdIdx))
      .select(col(s"_metadata.${GraftParquetFileFormat.DvPathField}"))
      .distinct().collect().map(_.getString(0)).toSet
    val expected = GraftLake.snapshot(spark, dir).files
      .flatMap(_.dv.map(d => GraftLake.absPath(dir, d.path))).toSet
    assert(dvPaths == expected)
  }
}
