package graft.sources.lake

import java.nio.file.Files

import graft.SparkSpec

/** One log fold per uncontended write: the pre-snapshot a stream epoch
  * (or append) takes is the one its staging, its epoch fence and its
  * auto-compaction check read; a newer version at the fence still forces
  * a full re-fold, so concurrent commits are rebased onto and replays are
  * still fenced off. */
class LakeFoldCountSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("lake_folds").toString + "/t"

  private def rows(from: Int, n: Int) =
    (from until from + n).map(i => (i.toLong, s"v$i")).toDF("id", "s")

  private def foldsDuring[A](body: => A): (A, Long) = {
    val before = GraftLake.folds.get()
    val a = body
    (a, GraftLake.folds.get() - before)
  }

  private def dataFiles(dir: String): Set[String] =
    Option(new java.io.File(dir, "data").listFiles()).getOrElse(Array.empty)
      .map(_.getName).toSet

  test("an uncontended appendStreamBatch folds the log once, twice on a checkpoint epoch") {
    val dir = tmp()
    GraftLake.create(rows(0, 10), dir, numFiles = 1, checkpointEvery = 3)
    (0L until 7L).foreach { epoch =>
      val (ok, n) = foldsDuring {
        GraftLake.appendStreamBatch(rows(100 + 10 * epoch.toInt, 10), dir, "app", epoch, 2)
      }
      assert(ok)
      val v = GraftLake.latestVersion(dir)
      assert(v == epoch + 1)
      val expected = if (v % 3 == 0) 2 else 1 // + the checkpoint's own fold
      assert(n == expected, s"epoch $epoch (v$v) folded the log $n times")
    }
    assert(new java.io.File(dir, "_log/ckpt-v" + "%020d".format(6L) + ".json").exists())
    // a plain append shares the path
    val (_, n) = foldsDuring(GraftLake.append(rows(1000, 10), dir))
    assert(n == 1, s"uncontended append folded the log $n times")
    assert(GraftLake.read(spark, dir).count() == 90L)
  }

  test("a replayed epoch returns false and commits nothing") {
    val dir = tmp()
    GraftLake.create(rows(0, 10), dir, numFiles = 1)
    assert(GraftLake.appendStreamBatch(rows(10, 10), dir, "app", 0L, 1))
    assert(GraftLake.appendStreamBatch(rows(20, 10), dir, "app", 1L, 1))
    val v = GraftLake.latestVersion(dir)
    val files = dataFiles(dir)
    Seq(1L, 0L).foreach { epoch =>
      assert(!GraftLake.appendStreamBatch(rows(500, 10), dir, "app", epoch, 1),
        s"replayed epoch $epoch must be fenced off")
    }
    assert(GraftLake.latestVersion(dir) == v)
    assert(dataFiles(dir) == files, "a replay must leave no staged files")
    assert(GraftLake.read(spark, dir).count() == 30L)
    // another appId has its own watermark
    assert(GraftLake.appendStreamBatch(rows(40, 10), dir, "other", 0L, 1))
  }

  test("the same epoch committed by a racing attempt after the pre-snapshot is caught under the fence") {
    val dir = tmp()
    GraftLake.create(rows(0, 10), dir, numFiles = 1)
    assert(GraftLake.appendStreamBatch(rows(10, 10), dir, "app", 0L, 1))
    GraftLake.testHookBeforeFence = Some { _ =>
      assert(GraftLake.appendStreamBatch(rows(20, 10), dir, "app", 1L, 1))
    }
    val loser = try GraftLake.appendStreamBatch(rows(20, 10), dir, "app", 1L, 1)
      finally GraftLake.testHookBeforeFence = None
    assert(!loser, "the second attempt of epoch 1 must not commit")
    val snap = GraftLake.snapshot(spark, dir)
    assert(snap.version == 2L)
    assert(snap.txns == Map("app" -> 1L))
    assert(GraftLake.read(spark, dir).count() == 30L)
    assert(dataFiles(dir) == snap.files.map(_.path.stripPrefix("data/")).toSet,
      "the losing attempt's staged files must be deleted")
  }

  test("a commit landing between the pre-snapshot and the fence is rebased onto, not overwritten") {
    val dir = tmp()
    GraftLake.create(rows(0, 10), dir, numFiles = 1)
    val v0 = GraftLake.latestVersion(dir)
    GraftLake.testHookBeforeFence = Some { _ => GraftLake.append(rows(100, 5), dir) }
    val (ok, n) = try foldsDuring {
      GraftLake.appendStreamBatch(rows(10, 10), dir, "app", 0L, 1)
    } finally GraftLake.testHookBeforeFence = None
    assert(ok)
    // pre-snapshot, the racing append's own fold, and the re-fold at the fence
    assert(n == 3, s"contended epoch folded the log $n times")
    assert(GraftLake.history(dir).map(h => (h._1, h._2)) ==
      Seq(v0 -> "create", (v0 + 1) -> "append", (v0 + 2) -> "stream-append"))
    val ids = GraftLake.read(spark, dir).select("id").as[Long].collect().sorted.toSeq
    assert(ids == ((0L until 20L) ++ (100L until 105L)))
  }
}
