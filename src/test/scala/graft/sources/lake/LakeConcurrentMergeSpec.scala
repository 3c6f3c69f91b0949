package graft.sources.lake

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import graft.SparkSpec
import org.apache.spark.sql.functions._

/**
 * Serializability of [[GraftLake.mergeInto]] under concurrency: two
 * general merges (update / delete on DISJOINT key classes) race an
 * append. Each loser of the commit fence deletes what its attempt wrote
 * and recomputes its victims AND its rewrite from the winner's snapshot
 * (`GraftLake.fence`), so regardless of commit order the outcome must
 * equal the serial application of all three effects — no lost rows, no
 * duplicates, no resurrecting what a racing delete removed, and no
 * unreferenced file left behind.
 */
class LakeConcurrentMergeSpec extends SparkSpec {

  import spark.implicits._

  test("two mergeIntos and an append race; the outcome is the serial one") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_lake_cmerge").toString + "/t"
    val base = (0 until 400).map(i => (i.toLong, "base", i.toLong))
      .toDF("id", "tag", "v")
    GraftLake.create(base.repartitionByRange(8, col("id")), dir,
      checkpointEvery = 3)

    // effect sets are disjoint by key class mod 10: updater hits 1s,
    // deleter hits 2s, the append lands fresh ids ≡ 3 (mod 10) above 400
    val updSrc = (0 until 400).filter(_ % 10 == 1)
      .map(i => (i.toLong, "upd", i.toLong)).toDF("id", "tag", "v")
    val delSrc = (0 until 400).filter(_ % 10 == 2)
      .map(i => (i.toLong, "del", i.toLong)).toDF("id", "tag", "v")
    val appended = (0 until 50).map(k => (403L + k * 10, "new", 0L))
    val appDf = appended.toDF("id", "tag", "v")

    val pool = Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fs = Seq(
        Future(GraftLake.mergeInto(spark, dir, updSrc,
          col("t.id") === col("s.id"),
          matched = Seq(GraftLake.MatchedUpdate(None,
            Seq("v" -> (col("t.v") + 100000L), "tag" -> lit("upd")))),
          notMatched = Nil)),
        Future(GraftLake.mergeInto(spark, dir, delSrc,
          col("t.id") === col("s.id"),
          matched = Seq(GraftLake.MatchedDelete(None)),
          notMatched = Nil)),
        Future(GraftLake.append(appDf, dir, numFiles = 2)))
      val versions = Await.result(Future.sequence(fs), 300.seconds)
      assert(versions.toSet == Set(1L, 2L, 3L),
        s"each op must win a distinct contiguous version, got $versions")
    } finally pool.shutdown()

    val got = GraftLake.read(spark, dir)
      .select("id", "tag", "v").as[(Long, String, Long)].collect().toSet
    val expected =
      (0 until 400).filter(_ % 10 != 2).map { i =>
        if (i % 10 == 1) (i.toLong, "upd", i.toLong + 100000L)
        else (i.toLong, "base", i.toLong)
      }.toSet ++ appended.toSet
    assert(got == expected,
      "concurrent merges + append must serialize to the combined effect")
    // every version in between still time-travels consistently: row
    // counts are monotone under the three ops' possible serial orders
    (0L to 3L).foreach { v =>
      val n = GraftLake.read(spark, dir, asOf = Some(v)).count()
      assert(n >= 360 && n <= 450, s"v$v row count $n out of any serial range")
    }
  }

  test("racing MoR writers: deleteMoR x2 (overlapping predicates), " +
    "updateMoR, and an append serialize — vectors recompute under the fence") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_lake_cmor").toString + "/t"
    GraftLake.create(
      (0 until 400).map(i => (i.toLong, "base", i.toLong)).toDF("id", "tag", "v")
        .repartitionByRange(8, col("id")), dir, checkpointEvery = 3)

    // d1 and d2 OVERLAP (ids ≡ 0 mod 6 are hit by both): the loser must
    // recompute its live-row positions against the winner's grown vector
    // — double-marking is a no-op by construction, never a corruption.
    // The updater hits a class the deletes don't (≡ 1 mod 6); the append
    // is fence-contention fuel.
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fs = Seq(
        Future(GraftLake.deleteMoR(spark, dir, col("id") % 2 === 0)),
        Future(GraftLake.deleteMoR(spark, dir, col("id") % 3 === 0)),
        Future(GraftLake.updateMoR(spark, dir, col("id") % 6 === 1,
          Seq("tag" -> lit("upd"), "v" -> (col("v") + 100000L)))),
        Future(GraftLake.append(
          // ids ≡ 5 (mod 6): outside EVERY racing predicate, so the
          // final state is order-independent (any serial order agrees)
          (1001L to 1025L by 6L).map(k => (k, "new", 0L)).toDF("id", "tag", "v"),
          dir, numFiles = 1)))
      val versions = Await.result(Future.sequence(fs), 300.seconds)
      assert(versions.toSet == Set(1L, 2L, 3L, 4L),
        s"each op must win a distinct contiguous version, got $versions")
    } finally pool.shutdown()

    val got = GraftLake.read(spark, dir)
      .select("id", "tag", "v").as[(Long, String, Long)].collect().toSet
    val expected =
      (0 until 400).filter(i => i % 2 != 0 && i % 3 != 0).map { i =>
        if (i % 6 == 1) (i.toLong, "upd", i.toLong + 100000L)
        else (i.toLong, "base", i.toLong)
      }.toSet ++ (1001L to 1025L by 6L).map(k => (k, "new", 0L)).toSet
    assert(got == expected,
      "concurrent MoR deletes/update + append must serialize to the combined effect")
    // the metadata count agrees with a real scan after the race
    val metaCnt = spark.read.format("graft-lake").load(dir).groupBy().count().head().getLong(0)
    assert(metaCnt == expected.size.toLong,
      s"log-metadata count $metaCnt != ${expected.size} after racing MoR commits")
    // and the change feed over the whole race nets exactly the dead rows
    val deadOrUpdated = GraftLake.changes(spark, dir, 0L, 4L)
      .where(col("change_kind") === "delete")
      .select("id").as[Long].collect().toSet
    val expectedDead = (0 until 400)
      .filter(i => i % 2 == 0 || i % 3 == 0 || i % 6 == 1).map(_.toLong).toSet
    assert(deadOrUpdated == expectedDead)
  }

  test("a MoR op that loses its fence once re-plans and leaves no file behind") {
    val base = (0 until 100).map(i => (i.toLong, "base", i.toLong))
    // each op hits ids ≡ 0 (mod 10), including id 1000, which the hook
    // appends between the op's first attempt and its first commit
    val raced = (1000L, "new", 1000L)
    val rows = base :+ raced
    val hit: ((Long, String, Long)) => Boolean = _._1 % 10 == 0
    val mergeSrc = ((0L until 100L by 10L) ++ Seq(1000L, 2000L))
      .map(i => (i, "src", -i)).toDF("id", "tag", "v")
    // (op, call, serial outcome: the append, then the op)
    val ops: Seq[(String, String => Long, Set[(Long, String, Long)])] = Seq(
      ("deleteMoR", dir => GraftLake.deleteMoR(spark, dir, col("id") % 10 === 0),
        rows.filterNot(hit).toSet),
      ("updateMoR", dir => GraftLake.updateMoR(spark, dir, col("id") % 10 === 0,
          Seq("tag" -> lit("upd"))),
        rows.map(r => if (hit(r)) r.copy(_2 = "upd") else r).toSet),
      ("mergeIntoMoR", dir => GraftLake.mergeIntoMoR(spark, dir, mergeSrc,
          col("t.id") === col("s.id"),
          matched = Seq(GraftLake.MatchedUpdate(None, Seq("v" -> col("s.v")))),
          notMatched = Seq(GraftLake.NotMatchedInsert(None,
            Seq("id" -> col("s.id"), "tag" -> col("s.tag"), "v" -> col("s.v"))))),
        rows.map(r => if (hit(r)) r.copy(_3 = -r._1) else r).toSet + ((2000L, "src", -2000L))))
    ops.foreach { case (name, op, serial) =>
      val dir = java.nio.file.Files
        .createTempDirectory("graft_lake_mor_orphan").toString + "/t"
      GraftLake.create(base.toDF("id", "tag", "v"), dir, numFiles = 4)
      var hookRan = false
      GraftLake.testHookBeforeRewriteCommit = Some { _ =>
        hookRan = true
        GraftLake.append(Seq(raced).toDF("id", "tag", "v"), dir, numFiles = 1)
      }
      try op(dir) finally GraftLake.testHookBeforeRewriteCommit = None
      assert(hookRan, s"$name: the hook must fire before the first commit")
      assert(GraftLake.history(dir).map(_._2).take(2) == Seq("create", "append"))
      assert(GraftLake.read(spark, dir).select("id", "tag", "v")
        .as[(Long, String, Long)].collect().toSet == serial,
        s"$name: the re-planned op must see the raced-in row")

      val cs = GraftLake.commits(dir)
      def onDisk(sub: String, ext: String): Set[String] =
        Option(new java.io.File(dir, sub).listFiles()).getOrElse(Array.empty)
          .map(_.getName).filter(_.endsWith(ext)).map(n => s"$sub/$n").toSet
      val orphans = (onDisk("data", ".parquet") -- cs.flatMap(_.adds.map(_.path))) ++
        (onDisk("dv", ".bin") -- cs.flatMap(_.adds.flatMap(_.dv.map(_.path))))
      assert(orphans.isEmpty, s"$name: the lost attempt left $orphans behind")
    }
  }
}
