package graft.apps

import java.io.File
import java.nio.file.Files

import graft.SparkSpec
import graft.sources.lake.GraftLake
import org.apache.spark.sql.functions._

/** Pins the deletion-vector design argument as an executable figure: a
  * merge-on-read point delete writes a sidecar of tens of bytes while
  * copy-on-write rewrites the whole victim file — ≥100× amplification
  * even at this spec's deliberately small file size (25k rows/file; at a
  * healthy 128 MB file target the measured gap is ~10⁶×, see the
  * committed run in SURVEY.md). */
class LakeDvBenchSpec extends SparkSpec {

  private def mkTable(n: Long, files: Int): String = {
    val dir = Files.createTempDirectory("lakedv_bench").toString + "/t"
    GraftLake.create(
      spark.range(n).select(col("id"), (col("id") % 97).as("score"),
        concat(lit("payload-string-of-some-size-"), col("id")).as("payload"))
        .repartitionByRange(files, col("id")), dir)
    dir
  }

  /** Mean bytes written per point delete, (CoW, MoR), over `k` deletes on
    * two copies of the same table, read from the transaction log itself:
    * CoW bytes = the replacement AddFiles' bytes; MoR bytes = the new DV
    * sidecars' on-disk size. Same victim-finding plan on both paths
    * (footer-stats prune), so the delta is purely the write side. */
  private def run(n: Long, files: Int, k: Int): (Double, Double) = {
    val keys = (1 to k).map(i => (i * 2654435761L) % n)

    val cowDir = mkTable(n, files)
    val cowBytes = keys.map { key =>
      val before = GraftLake.snapshot(spark, cowDir).files.map(_.path).toSet
      GraftLake.delete(spark, cowDir, col("id") === key)
      GraftLake.snapshot(spark, cowDir).files
        .filterNot(f => before.contains(f.path)).map(_.bytes).sum
    }

    val morDir = mkTable(n, files)
    val morBytes = keys.map { key =>
      val before = GraftLake.snapshot(spark, morDir).files.flatMap(_.dv)
        .map(_.path).toSet
      GraftLake.deleteMoR(spark, morDir, col("id") === key)
      GraftLake.snapshot(spark, morDir).files.flatMap(_.dv).map(_.path)
        .filterNot(before.contains).map(p => new File(morDir, p).length()).sum
    }

    // both paths deleted exactly the same rows
    val live = n - keys.distinct.size
    assert(GraftLake.read(spark, cowDir).count() == live, "CoW row count")
    assert(GraftLake.read(spark, morDir).count() == live, "MoR row count")
    (cowBytes.sum.toDouble / k, morBytes.sum.toDouble / k)
  }

  test("CoW point delete writes >=100x more bytes than MoR at 25k-row files") {
    val (cow, mor) = run(n = 100000L, files = 4, k = 4)
    assert(mor > 0, "MoR must write a sidecar")
    assert(cow >= 100 * mor, s"amplification collapsed: cow=$cow mor=$mor")
  }
}
