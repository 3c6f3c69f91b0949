package graft.sources.lake

import java.io.File

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Pins the round-10 hardening fixes:
 *  - string footer-stats compare in UTF-8 byte (code-point) order, not
 *    UTF-16 `String.compareTo` — a file mixing U+E000-plane and
 *    supplementary-plane keys was wrongly pruned by scans and skipped by
 *    merge victim selection (silent wrong results / duplicate keys);
 *  - vacuum age-gates tombstones on the REMOVING COMMIT's timestamp, not
 *    file mtime — an old file tombstoned seconds ago must survive minAge;
 *  - merge rejects NULL keys with a dedicated message (previously the
 *    duplicate-key guard fired misleadingly because count_distinct
 *    ignores NULLs).
 */
class LakeHardeningSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_lake_hard").toString + "/t"

  // U+E000 (private use, 3-byte UTF-8) < U+FFFD < U+1F600 (supplementary,
  // 4-byte UTF-8) in code-point order; in UTF-16 code-unit order the
  // surrogate-led U+1F600 (lead 0xD83D) sorts BELOW both.
  private val loChar = "\ue000"
  private val midChar = "\ufffd"
  private val hiChar = new String(Character.toChars(0x1F600))

  private def planeMix(): DataFrame =
    Seq((1L, loChar), (2L, midChar), (3L, hiChar)).toDF("id", "k")

  test("string stats prune in UTF-8 order: supplementary-plane max keeps BMP probes") {
    val dir = tmp()
    GraftLake.create(planeMix(), dir, numFiles = 1)
    // file min=U+E000, max=U+1F600; probing U+FFFD lies inside in
    // code-point order but OUTSIDE in UTF-16 order (max would look < lo)
    val (df, scanned, total) =
      GraftLake.scanFiltered(spark, dir, col("k").between(midChar, midChar))
    assert(total == 1 && scanned == 1, s"wrongly pruned: opened $scanned/$total")
    assert(df.select("id").as[Long].collect().toSeq == Seq(2L))
    // same collation through the Column-predicate path
    val (df2, s2, _) = GraftLake.scanFiltered(spark, dir, col("k") === midChar)
    assert(s2 == 1 && df2.count() == 1)
    // and through the planner-integrated FileIndex path
    val planned = GraftLake.read(spark, dir)
      .filter(col("k") === midChar)
    assert(planned.count() == 1)
  }

  test("string stats prune still skips genuinely disjoint files") {
    val dir = tmp()
    GraftLake.create(planeMix(), dir, numFiles = 1) // one file, all 3 rows
    GraftLake.append(Seq((10L, "zz1"), (11L, "zz2")).toDF("id", "k"), dir,
      numFiles = 1)
    // ASCII "a" < U+E000 and < "zz1" in UTF-8 order: both files disjoint
    val (_, scanned, total) = GraftLake.scanFiltered(spark, dir, col("k").between("a", "a"))
    assert(total == 2 && scanned == 0, s"opened $scanned/$total for a miss")
  }

  test("merge victim selection honors UTF-8 key order (no duplicate keys)") {
    val dir = tmp()
    GraftLake.create(planeMix(), dir, numFiles = 1)
    // update the BMP key: pre-fix the only file looked stat-disjoint
    // (UTF-16: max U+1F600 < U+FFFD), the old row survived unrewritten,
    // and the "upsert" silently produced a duplicate key
    GraftLake.merge(spark, dir,
      Seq((99L, midChar)).toDF("id", "k"), "k")
    val got = GraftLake.read(spark, dir)
    assert(got.filter(col("k") === midChar).count() == 1, "duplicate key after merge")
    assert(got.filter(col("k") === midChar).select("id").as[Long].head() == 99L)
    assert(got.count() == 3)
  }

  test("vacuum ages tombstones by remove-commit time, not file mtime") {
    val dir = tmp()
    GraftLake.create(
      (0L until 100L).map(i => (i, i * 2)).toDF("id", "v")
        .repartitionByRange(4, col("id")), dir)
    // make every data file LOOK ancient (mtime-based aging would reclaim)
    Option(new File(dir, "data").listFiles()).getOrElse(Array.empty)
      .foreach(f => assert(f.setLastModified(1000L)))
    GraftLake.delete(spark, dir, col("id") < 25L) // tombstones file(s) NOW
    val activeBefore = GraftLake.snapshot(spark, dir).files.map(_.path).toSet
    val v1 = GraftLake.read(spark, dir, asOf = Some(0L)).count()
    assert(v1 == 100L)

    // within minAge of the REMOVE COMMIT: nothing reclaimable despite the
    // ancient mtimes — the old snapshot must stay scannable
    val now = System.currentTimeMillis()
    val kept = GraftLake.vacuumAt(spark, dir, keepHistory = false,
      minAgeMillis = 60L * 60 * 1000, now = now)
    assert(kept == 0, s"reclaimed $kept file(s) tombstoned seconds ago")
    assert(GraftLake.read(spark, dir, asOf = Some(0L)).count() == 100L)

    // once the removing commit is genuinely old, the tombstone reclaims
    val later = now + 2L * 60 * 60 * 1000
    val removed = GraftLake.vacuumAt(spark, dir, keepHistory = false,
      minAgeMillis = 60L * 60 * 1000, now = later)
    assert(removed >= 1, "aged tombstone was not reclaimed")
    assert(GraftLake.snapshot(spark, dir).files.map(_.path).toSet == activeBefore,
      "latest snapshot untouched")
    assert(GraftLake.read(spark, dir).count() == 75L)
  }

  test("merge rejects NULL keys with a dedicated message") {
    val dir = tmp()
    GraftLake.create(Seq((1L, "a"), (2L, "b")).toDF("id", "tag"), dir,
      numFiles = 1)
    val withNull = Seq((Some(1L), "upd"), (None: Option[Long], "ghost"))
      .toDF("id", "tag")
    val e = intercept[IllegalArgumentException] {
      GraftLake.merge(spark, dir, withNull, "id")
    }
    assert(e.getMessage.contains("NULL"), s"wrong message: ${e.getMessage}")
    assert(GraftLake.read(spark, dir).count() == 2, "rejected merge committed nothing")
  }
}
