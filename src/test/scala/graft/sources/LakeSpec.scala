package graft.sources

import java.io.File
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import graft.SparkSpec
import graft.sources.lake.GraftLake
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class LakeSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_lake").toString

  private def kv(ids: Range, tag: String): DataFrame =
    ids.map(i => (i.toLong, tag, i.toLong * 10)).toDF("id", "tag", "v")

  private def rowsOf(df: DataFrame): Set[(Long, String, Long)] =
    df.select("id", "tag", "v").as[(Long, String, Long)].collect().toSet

  test("create + append + read roundtrip; history records the ops") {
    val dir = tmp()
    GraftLake.create(kv(0 until 100, "a"), dir, numFiles = 4)
    GraftLake.append(kv(100 until 150, "b"), dir, numFiles = 2)
    val got = rowsOf(GraftLake.read(spark, dir))
    assert(got == rowsOf(kv(0 until 150, "x")).map { case (i, _, v) =>
      (i, if (i < 100) "a" else "b", v) })
    assert(GraftLake.history(dir).map(h => (h._1, h._2)) ==
      Seq((0L, "create"), (1L, "append")))
    assert(GraftLake.snapshot(spark, dir).files.size == 6)
  }

  test("copy-on-write delete rewrites only stat-overlapping files") {
    val dir = tmp()
    // 4 files with disjoint id ranges (repartitionByRange keeps them apart)
    GraftLake.create(kv(0 until 400, "a").repartitionByRange(4, col("id")), dir)
    val before = GraftLake.snapshot(spark, dir).files.map(_.path).toSet

    GraftLake.delete(spark, dir, col("id") < 50L)
    val after = GraftLake.snapshot(spark, dir)
    // files whose [min,max] can't contain id<50 are physically untouched
    assert((before & after.files.map(_.path).toSet).size >= 2,
      "delete rewrote stat-disjoint files")
    assert(rowsOf(GraftLake.read(spark, dir)) ==
      rowsOf(kv(50 until 400, "a")))
  }

  test("merge upserts matched keys and inserts new ones exactly once") {
    val dir = tmp()
    GraftLake.create(kv(0 until 100, "a")
      .repartitionByRange(4, col("id")), dir)
    val updates = Seq((10L, "upd", 111L), (99L, "upd", 999L),
      (1000L, "new", 1L)).toDF("id", "tag", "v")
    GraftLake.merge(spark, dir, updates, "id")
    val got = rowsOf(GraftLake.read(spark, dir))
    assert(got.count(_._1 == 10L) == 1 && got(((10L, "upd", 111L))))
    assert(got(((99L, "upd", 999L))) && got(((1000L, "new", 1L))))
    assert(got.size == 101)
    assert(got(((11L, "a", 110L)))) // untouched neighbor intact
    // ambiguous merge: duplicate keys in the update set are rejected
    intercept[IllegalArgumentException] {
      GraftLake.merge(spark, dir,
        Seq((7L, "x", 1L), (7L, "y", 2L)).toDF("id", "tag", "v"), "id")
    }
    assert(rowsOf(GraftLake.read(spark, dir)) == got, "rejected merge committed nothing")
  }

  test("time travel reads any prior version; optimize preserves content") {
    val dir = tmp()
    GraftLake.create(kv(0 until 50, "a"), dir, numFiles = 5) // v0
    GraftLake.append(kv(50 until 80, "b"), dir, numFiles = 3) // v1
    GraftLake.delete(spark, dir, col("id") >= 70L) // v2
    val v1 = rowsOf(GraftLake.read(spark, dir, asOf = Some(1L)))
    assert(v1.map(_._1) == (0L until 80L).toSet)
    val latest = rowsOf(GraftLake.read(spark, dir))

    val vOpt = GraftLake.optimize(spark, dir, smallBytes = 1L << 20,
      targetBytes = 1L << 20)
    assert(vOpt == 3L)
    assert(rowsOf(GraftLake.read(spark, dir)) == latest)
    assert(GraftLake.snapshot(spark, dir).files.size <
      GraftLake.snapshot(spark, dir, Some(2L)).files.size)
    // pre-optimize versions still readable (files retained until vacuum)
    assert(rowsOf(GraftLake.read(spark, dir, asOf = Some(1L))) == v1)
  }

  test("concurrent appends: every writer lands, versions stay contiguous") {
    val dir = tmp()
    GraftLake.create(kv(0 until 10, "base"), dir, numFiles = 1)
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fs = (0 until 8).map { w =>
        Future(GraftLake.append(
          kv(100 + w * 10 until 100 + w * 10 + 10, s"w$w"), dir, numFiles = 1))
      }
      val versions = Await.result(Future.sequence(fs), 120.seconds)
      assert(versions.toSet == (1L to 8L).toSet, "each commit won a distinct version")
    } finally pool.shutdown()
    assert(GraftLake.read(spark, dir).count() == 10 + 80)
    assert(GraftLake.latestVersion(dir) == 8L)
  }

  test("concurrent delete vs append: recompute under the fence loses no rows") {
    val dir = tmp()
    GraftLake.create(kv(0 until 100, "a").repartitionByRange(4, col("id")), dir)
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val del = Future(GraftLake.delete(spark, dir, col("id") < 20L))
      val app = Future(GraftLake.append(kv(500 until 520, "late"), dir, numFiles = 1))
      Await.result(Future.sequence(Seq(del, app)), 120.seconds)
    } finally pool.shutdown()
    val got = rowsOf(GraftLake.read(spark, dir))
    assert(got.map(_._1) == ((20L until 100L) ++ (500L until 520L)).toSet)
  }

  test("concurrent optimize vs delete: both rewrite, recompute serializes") {
    val dir = tmp()
    GraftLake.create(kv(0 until 400, "a").repartitionByRange(8, col("id")), dir)
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val opt = Future(GraftLake.optimize(spark, dir,
        smallBytes = 1L << 20, targetBytes = 1L << 20))
      val del = Future(GraftLake.delete(spark, dir, col("id") % 4 === 1))
      Await.result(Future.sequence(Seq(opt, del)), 120.seconds)
    } finally pool.shutdown()
    // whichever order the fence picked, the result must be the serial one
    assert(rowsOf(GraftLake.read(spark, dir)) ==
      rowsOf(kv(0 until 400, "a")).filterNot(_._1 % 4 == 1))
    assert(GraftLake.latestVersion(dir) == 2L, "both rewrites committed")
  }

  test("crashed-writer debris is invisible; vacuum reclaims it") {
    val dir = tmp()
    GraftLake.create(kv(0 until 30, "a"), dir, numFiles = 1)
    // plant an orphan data file (a writer that died before its commit)
    kv(900 until 910, "ghost").coalesce(1).write.mode("overwrite")
      .parquet(s"$dir-ghost")
    val ghost = new File(s"$dir-ghost").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val planted = new File(dir, "data/part-orphan.parquet")
    java.nio.file.Files.copy(ghost.toPath, planted.toPath)
    assert(planted.exists())
    assert(GraftLake.read(spark, dir).count() == 30) // readers never see it
    // the retention guard: a FRESH orphan may belong to an in-flight
    // commit, so the default age threshold must leave it alone
    assert(GraftLake.vacuum(spark, dir) == 0 && planted.exists())
    val removed = GraftLake.vacuum(spark, dir, minAgeMillis = 0L)
    assert(removed == 1 && !planted.exists())
    assert(GraftLake.read(spark, dir).count() == 30)
  }

  test("vacuum without history keeps the latest snapshot exactly readable") {
    val dir = tmp()
    GraftLake.create(kv(0 until 100, "a").repartitionByRange(4, col("id")), dir)
    GraftLake.delete(spark, dir, col("id") < 25L)
    val latest = rowsOf(GraftLake.read(spark, dir))
    val removed = GraftLake.vacuum(spark, dir, keepHistory = false,
      minAgeMillis = 0L)
    assert(removed >= 1) // the tombstoned file(s) actually left disk
    assert(rowsOf(GraftLake.read(spark, dir)) == latest)
  }

  test("exactly-once streaming append: a replayed epoch is a no-op") {
    val dir = tmp()
    GraftLake.create(kv(0 until 10, "a"), dir, numFiles = 1)
    assert(GraftLake.appendStreamBatch(kv(10 until 20, "e0"), dir, "appX", 0L, 1))
    assert(GraftLake.appendStreamBatch(kv(20 until 30, "e1"), dir, "appX", 1L, 1))
    // replay of epoch 1 (driver restart re-runs foreachBatch)
    assert(!GraftLake.appendStreamBatch(kv(20 until 30, "e1"), dir, "appX", 1L, 1))
    assert(GraftLake.read(spark, dir).count() == 30)
    // a different app's epoch 1 is NOT fenced out
    assert(GraftLake.appendStreamBatch(kv(30 until 40, "y"), dir, "appY", 1L, 1))
    assert(GraftLake.read(spark, dir).count() == 40)
  }

  test("stats pruning: range scan opens only overlapping files, result exact") {
    val dir = tmp()
    GraftLake.create(kv(0 until 1000, "a").repartitionByRange(8, col("id")), dir)
    val (df, scanned, total) = GraftLake.scanFiltered(spark, dir, col("id").between(100L, 149L))
    assert(total == 8 && scanned < total, s"scanned $scanned of $total")
    assert(rowsOf(df) == rowsOf(kv(100 until 150, "a")))
    // string-kind stats prune too
    val dir2 = tmp()
    GraftLake.create(
      kv(0 until 100, "a").withColumn("tag", concat(lit("k"), format_string("%03d", col("id"))))
        .repartitionByRange(4, col("tag")), dir2)
    val (df2, s2, t2) = GraftLake.scanFiltered(spark, dir2, col("tag").between("k010", "k019"))
    assert(t2 == 4 && s2 < t2)
    assert(df2.count() == 10)
    // IN-list pruning: values all in one file's range open only that file
    val (dfIn, sIn, tIn) = GraftLake.scanFiltered(spark, dir,
      col("id").isin(100L, 110L, 120L))
    assert(tIn == 8 && sIn < tIn, s"IN prune opened $sIn/$tIn")
    assert(rowsBox2(dfIn) == Set(100L, 110L, 120L))
    // null-check pruning: no nulls anywhere → IS NULL opens nothing
    val (dfNull, sNull, _) = GraftLake.scanFiltered(spark, dir, col("id").isNull)
    assert(sNull == 0 && dfNull.count() == 0, "all-non-null stats prune IS NULL")
    val (_, sNotNull, tNotNull) = GraftLake.scanFiltered(spark, dir, col("id").isNotNull)
    assert(sNotNull == tNotNull, "IS NOT NULL keeps everything here")
    // a Date bound evaluates to its day number, the INT32 "long" stats'
    // unit: a range opens a strict subset of the files, rows exact
    val dirD = tmp()
    GraftLake.create(
      kv(0 until 20, "a").withColumn("d",
        date_add(lit(java.sql.Date.valueOf("2020-01-01")), col("id").cast("int")))
        .repartitionByRange(4, col("id")), dirD)
    val (dfD, sD, tD) = GraftLake.scanFiltered(spark, dirD, col("d").between(
      java.sql.Date.valueOf("2020-01-05"), java.sql.Date.valueOf("2020-01-10")))
    assert(tD == 4 && sD < tD, s"Date range opened $sD/$tD")
    assert(rowsBox2(dfD) == (4L to 9L).toSet, "residual filter still exact")
    // fail-open: a value that can't parse against the stats kind (a
    // decimal(12,2) bound "1.50" vs unscaled INT64 "long" stats) must not
    // crash and must not wrongly prune — all files open, rows exact
    val dirM = tmp()
    GraftLake.create(
      kv(0 until 20, "a").withColumn("m", (col("id") / 4).cast("decimal(12,2)"))
        .repartitionByRange(4, col("id")), dirM)
    val (dfM, sM, tM) = GraftLake.scanFiltered(spark, dirM,
      col("m").between(BigDecimal("1.50"), BigDecimal("2.25")))
    assert(tM == 4 && sM == tM, s"unparseable-vs-kind comparison fails OPEN: $sM/$tM")
    assert(rowsBox2(dfM) == (6L to 9L).toSet, "residual filter still exact")
  }

  private def rowsBox2(df: DataFrame): Set[Long] =
    df.select("id").as[Long].collect().toSet

  test("registerView: SQL reads a pinned snapshot; re-register advances") {
    val dir = tmp()
    GraftLake.create(kv(0 until 50, "a"), dir, numFiles = 2)
    GraftLake.read(spark, dir).createOrReplaceTempView("lake_sql_t")
    assert(spark.sql("SELECT count(*) AS n FROM lake_sql_t").head().getLong(0) == 50)
    GraftLake.delete(spark, dir, col("id") < 10L)
    // the view captured v0's file set — snapshot isolation under writers
    assert(spark.sql("SELECT count(*) AS n FROM lake_sql_t").head().getLong(0) == 50)
    GraftLake.read(spark, dir).createOrReplaceTempView("lake_sql_t")
    assert(spark.sql("SELECT count(*) AS n FROM lake_sql_t").head().getLong(0) == 40)
    GraftLake.read(spark, dir, asOf = Some(0L)).createOrReplaceTempView("lake_sql_v0")
    assert(spark.sql(
      "SELECT count(*) AS n FROM lake_sql_v0 WHERE id < 10").head().getLong(0) == 10)
  }

  test("restore rolls back as a new auditable commit; vacuumed targets refuse") {
    val dir = tmp()
    GraftLake.create(kv(0 until 100, "a").repartitionByRange(4, col("id")), dir) // v0
    GraftLake.delete(spark, dir, col("id") < 30L) // v1: the "bad" write
    GraftLake.append(kv(500 until 510, "late"), dir, numFiles = 1) // v2
    val v2 = rowsOf(GraftLake.read(spark, dir))

    val rv = GraftLake.restore(spark, dir, 0L)
    assert(rv == 3L, "restore is a NEW commit, not history rewriting")
    assert(rowsOf(GraftLake.read(spark, dir)) == rowsOf(kv(0 until 100, "a")))
    // the rolled-back state is still in history
    assert(rowsOf(GraftLake.read(spark, dir, asOf = Some(2L))) == v2)
    assert(GraftLake.history(dir).map(_._2) ==
      Seq("create", "delete", "append", "restore"))
    // restoring to the current state is a no-op (no empty commit)
    assert(GraftLake.restore(spark, dir, 3L) == 3L &&
      GraftLake.latestVersion(dir) == 3L)

    // a vacuumed-away target refuses upfront instead of failing mid-scan
    GraftLake.delete(spark, dir, col("id") < 30L) // v4 tombstones files again
    GraftLake.vacuum(spark, dir, keepHistory = false, minAgeMillis = 0L)
    intercept[IllegalArgumentException] {
      GraftLake.restore(spark, dir, 3L)
    }
  }

  test("log checkpoints: tail-only fold equals full replay at every version") {
    val dir = tmp()
    GraftLake.create(kv(0 until 10, "a"), dir, numFiles = 1, checkpointEvery = 4)
    for (w <- 0 until 9)
      GraftLake.append(kv(10 + w * 10 until 20 + w * 10, s"w$w"), dir, numFiles = 1)
    val ld = new File(dir, "_log")
    assert(ld.list().count(_.startsWith("ckpt-v")) == 2, "ckpts at v4 and v8")
    assert(GraftLake.read(spark, dir).count() == 100)
    assert(GraftLake.read(spark, dir, Some(3L)).count() == 40) // pre-ckpt fold
    assert(GraftLake.read(spark, dir, Some(4L)).count() == 50) // exactly at ckpt
    assert(GraftLake.read(spark, dir, Some(7L)).count() == 80) // ckpt + tail
    // checkpoints are pure acceleration: deleting them changes nothing
    ld.listFiles().filter(_.getName.startsWith("ckpt-v")).foreach(_.delete())
    assert(GraftLake.read(spark, dir).count() == 100)
    assert(GraftLake.read(spark, dir, Some(7L)).count() == 80)
  }

  test("txn fence survives log checkpointing (epoch watermark persisted)") {
    val dir = tmp()
    GraftLake.create(kv(0 until 5, "a"), dir, numFiles = 1, checkpointEvery = 2)
    for (e <- 0 until 6)
      GraftLake.appendStreamBatch(
        kv(100 + e * 10 until 110 + e * 10, s"e$e"), dir, "app", e.toLong, 1)
    // replays of epochs BELOW the newest checkpoint must still be fenced
    // (the watermark rides the checkpoint, not just the raw tail)
    assert(!GraftLake.appendStreamBatch(kv(0 until 99, "x"), dir, "app", 1L, 1))
    assert(!GraftLake.appendStreamBatch(kv(0 until 99, "x"), dir, "app", 5L, 1))
    assert(GraftLake.read(spark, dir).count() == 65)
  }

  test("change feed: file-diff CDC nets out copied rows, updates = delete+insert") {
    val dir = tmp()
    GraftLake.create(kv(0 until 100, "a").repartitionByRange(4, col("id")), dir) // v0
    GraftLake.delete(spark, dir, col("id") < 10L) // v1 (CoW: copies 10..~24)
    GraftLake.merge(spark, dir,
      Seq((50L, "upd", 500L), (2000L, "new", 1L)).toDF("id", "tag", "v"), "id") // v2
    val c1 = GraftLake.changes(spark, dir, 0L, 1L)
    assert(c1.filter(col("change_kind") === "insert").count() == 0,
      "CoW-copied survivors must cancel out of the feed")
    assert(c1.filter(col("change_kind") === "delete")
      .select("id").as[Long].collect().toSet == (0L until 10L).toSet)
    val c2 = GraftLake.changes(spark, dir, 1L, 2L)
    val ins = c2.filter(col("change_kind") === "insert")
      .select("id", "tag", "v").as[(Long, String, Long)].collect().toSet
    val del = c2.filter(col("change_kind") === "delete")
      .select("id", "tag", "v").as[(Long, String, Long)].collect().toSet
    assert(ins == Set((50L, "upd", 500L), (2000L, "new", 1L)))
    assert(del == Set((50L, "a", 500L))) // the old value of the updated row
    // spanning feed composes: v0 -> v2
    val c02 = GraftLake.changes(spark, dir, 0L, 2L)
    assert(c02.filter(col("change_kind") === "delete").count() == 11) // 0..9 + old 50
    assert(c02.filter(col("change_kind") === "insert").count() == 2)
  }

  test("optimize zorder: box predicate prunes to a corner of the layout") {
    val dir = tmp()
    val grid = (0 until 1024).map(i => (i.toLong, (i % 32).toLong, (i / 32).toLong))
      .toDF("id", "x", "y")
    GraftLake.create(grid.repartition(16), dir) // random layout: boxes hit everything
    val box = col("x") >= 0L && col("x") <= 7L && col("y") >= 0L && col("y") <= 7L
    val (beforeDf, beforeScan, beforeTotal) = GraftLake.scanFiltered(spark, dir, box)
    val expected = rowsBox(beforeDf)
    assert(beforeScan == beforeTotal, "row-robin layout: every file overlaps the box")

    GraftLake.optimizeZOrder(spark, dir, "x", "y", numFiles = 16)
    val (afterDf, afterScan, afterTotal) = GraftLake.scanFiltered(spark, dir, box)
    assert(afterTotal == 16 && afterScan * 2 <= afterTotal,
      s"z-clustered layout must prune the box scan (opened $afterScan/$afterTotal)")
    assert(rowsBox(afterDf) == expected, "clustering is a pure layout change")
  }

  private def rowsBox(df: DataFrame): Set[Long] =
    df.select("id").as[Long].collect().toSet

  test("schema evolution: appended column null-fills old files") {
    val dir = tmp()
    GraftLake.create(kv(0 until 10, "a"), dir, numFiles = 1)
    GraftLake.append(
      kv(10 until 20, "b").withColumn("lang", lit("en")), dir, numFiles = 1)
    val got = GraftLake.read(spark, dir)
    assert(got.columns.toSeq == Seq("id", "tag", "v", "lang"))
    assert(got.filter(col("lang").isNull).count() == 10)
    assert(got.filter(col("lang") === "en").count() == 10)
    // conflicting type on a shared column is rejected
    intercept[IllegalArgumentException] {
      GraftLake.append(Seq((1, 2)).toDF("id", "v"), dir) // id: int vs long
    }
  }
}
