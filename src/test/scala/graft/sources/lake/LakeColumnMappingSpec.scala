package graft.sources.lake

import graft.SparkSpec
import org.apache.spark.sql.functions._

/**
 * Column mapping by physical name (the Delta column-mapping shape,
 * engaged only where it's needed): renaming an id-less column — a
 * CONVERTed table's adopted fields, whose file-side identity is their
 * NAME — used to be refused fail-fast. Now the first rename freezes the
 * file-side name as `graft.physical` field metadata and the logical
 * name becomes a pure label: data files (adopted and lake-written) only
 * ever carry physical names, reads translate logical→physical inside
 * [[GraftParquetFileFormat]] (schemas + pushed filters; row batches are
 * positional so nothing maps back), and footer stats stay keyed by the
 * stable physical name. Id'd fields keep the existing id-keyed rename
 * path; a table that never renames an id-less field pays nothing.
 */
class LakeColumnMappingSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  /** A raw (id-less) parquet dir CONVERTed in place. */
  private def converted(n: Long = 1000, parts: Int = 4): String = {
    val dir = tmp("graft_cm")
    spark.range(0, n).select(
      col("id").as("k"), (col("id") % 7).as("grp"),
      concat(lit("v-"), col("id")).as("payload"))
      .repartitionByRange(parts, col("k"))
      .write.parquet(dir)
    GraftLake.convert(spark, dir)
    dir
  }

  test("rename on a CONVERTed table is a metadata-only commit; reads, " +
    "filter pushdown, and time travel stay correct across old AND new files") {
    val dir = converted()
    val filesBefore = GraftLake.snapshot(spark, dir).files.map(_.path).toSet
    GraftLake.renameColumn(spark, dir, "k", "doc_id")
    val snap = GraftLake.snapshot(spark, dir)
    // metadata-only: same files, no rewrite
    assert(snap.files.map(_.path).toSet == filesBefore)
    assert(snap.schema.fieldNames.toSeq == Seq("doc_id", "grp", "payload"))
    // reads resolve the ADOPTED files through the frozen physical name
    val r = GraftLake.read(spark, dir)
    assert(r.columns.toSeq == Seq("doc_id", "grp", "payload"))
    assert(r.count() == 1000L)
    assert(r.where(col("doc_id") === 123L).select(col("payload"))
      .head().getString(0) == "v-123")
    // a write AFTER the rename arrives with the LOGICAL name and lands
    // under the PHYSICAL one — file namespace stays uniform
    GraftLake.append(
      spark.range(1000, 1100).select(col("id").as("doc_id"),
        (col("id") % 7).as("grp"), concat(lit("v-"), col("id")).as("payload")),
      dir, numFiles = 1)
    val newFile = GraftLake.snapshot(spark, dir).files
      .filterNot(f => filesBefore.contains(f.path)).head
    val footer = spark.read.parquet(GraftLake.absPath(dir, newFile.path))
    assert(footer.columns.contains("k") && !footer.columns.contains("doc_id"),
      "post-rename writes must store the physical column name")
    // the union of adopted + new files reads as one logical table
    val all = GraftLake.read(spark, dir)
    assert(all.count() == 1100L)
    assert(all.where(col("doc_id") === 1050L).count() == 1L)
    // planner-integrated path too (pushdown travels logical → physical)
    val pruned = GraftLake.read(spark, dir)
      .where(col("doc_id") >= 100L && col("doc_id") < 200L)
    assert(pruned.count() == 100L)
    // time travel to the pre-rename version shows the OLD name
    assert(GraftLake.read(spark, dir, asOf = Some(0L))
      .columns.toSeq == Seq("k", "grp", "payload"))
  }

  test("footer-stats file pruning survives the rename (stats keyed by " +
    "the stable physical name)") {
    val dir = converted(n = 4000, parts = 8)
    GraftLake.renameColumn(spark, dir, "k", "doc_id")
    val (df, scanned, total) =
      GraftLake.scanFiltered(spark, dir, col("doc_id") < 500L)
    assert(df.count() == 500L)
    assert(scanned < total,
      s"a range predicate on the renamed column must file-prune ($scanned/$total)")
  }

  test("rename chains keep the FIRST physical name; renaming back to the " +
    "physical name is allowed and un-maps") {
    val dir = converted(n = 100, parts = 1)
    GraftLake.renameColumn(spark, dir, "k", "b")
    GraftLake.renameColumn(spark, dir, "b", "c")
    val f = GraftLake.snapshot(spark, dir).schema("c")
    assert(GraftLake.physNameOf(f) == "k", "first freeze wins")
    assert(GraftLake.read(spark, dir).where(col("c") === 42L).count() == 1L)
    // back to the original name: reclaims this field's own physical name
    GraftLake.renameColumn(spark, dir, "c", "k")
    assert(GraftLake.read(spark, dir).where(col("k") === 42L).count() == 1L)
    assert(GraftLake.physicalMapOf(GraftLake.snapshot(spark, dir).schema).isEmpty,
      "logical == physical again -> the mapping no longer engages")
  }

  test("evolution guards: the physical name is protected while mapped and " +
    "after a drop; the freed logical label is reusable") {
    val dir = converted(n = 50, parts = 1)
    GraftLake.renameColumn(spark, dir, "grp", "bucket")
    // 'grp' is live in every data file as bucket's physical name
    intercept[IllegalArgumentException] {
      GraftLake.addColumn(spark, dir, "grp",
        org.apache.spark.sql.types.LongType)
    }
    // dropping the mapped column retires its PHYSICAL name...
    GraftLake.dropColumn(spark, dir, "bucket")
    intercept[IllegalArgumentException] {
      GraftLake.addColumn(spark, dir, "grp",
        org.apache.spark.sql.types.LongType)
    }
    // ...while the logical label (never written to any file) is free
    GraftLake.addColumn(spark, dir, "bucket",
      org.apache.spark.sql.types.StringType)
    val r = GraftLake.read(spark, dir)
    assert(r.columns.toSeq == Seq("k", "payload", "bucket"))
    assert(r.where(col("bucket").isNull).count() == 50L,
      "the re-added label is a FRESH column: adopted data must not leak in")
  }

  test("rename/drop of a column referenced by a CHECK constraint is " +
    "refused (the stored SQL cannot be rewritten) until the constraint " +
    "is dropped") {
    val dir = converted(n = 50, parts = 1)
    GraftLake.setProperties(spark, dir,
      Map("constraint.k_pos" -> "k >= 0"))
    val e1 = intercept[IllegalArgumentException] {
      GraftLake.renameColumn(spark, dir, "k", "doc_id")
    }
    assert(e1.getMessage.contains("k_pos"))
    val e2 = intercept[IllegalArgumentException] {
      GraftLake.dropColumn(spark, dir, "k")
    }
    assert(e2.getMessage.contains("k_pos"))
    // unrelated columns stay renameable while the constraint lives
    GraftLake.renameColumn(spark, dir, "grp", "bucket")
    // dropping the constraint frees the column
    GraftLake.setProperties(spark, dir, Map.empty,
      unsets = Seq("constraint.k_pos"))
    GraftLake.renameColumn(spark, dir, "k", "doc_id")
    assert(GraftLake.read(spark, dir).where(col("doc_id") === 7L).count() == 1L)
  }

  test("composition: MoR delete, shallow clone, change feed, and bloom " +
    "filters all work over a renamed converted table") {
    val dir = converted(n = 1000, parts = 4)
    GraftLake.renameColumn(spark, dir, "k", "doc_id")
    // bloom property on the LOGICAL name -> filter lands under the
    // PHYSICAL name in the written file
    GraftLake.setProperties(spark, dir, Map("bloomFilter.columns" -> "doc_id"))
    GraftLake.append(
      spark.range(1000, 1200).select(col("id").as("doc_id"),
        (col("id") % 7).as("grp"), concat(lit("v-"), col("id")).as("payload")),
      dir, numFiles = 1)
    val bloomFile = GraftLake.snapshot(spark, dir).files.last
    assert(GraftLake.readBloom(spark,
      GraftLake.absPath(dir, bloomFile.path), "k").isDefined,
      "the bloom must be keyed by the physical column name")
    // MoR delete through the mapped logical predicate
    val v0 = GraftLake.latestVersion(dir)
    GraftLake.deleteMoR(spark, dir, col("doc_id") % 100 === 3)
    val live = GraftLake.read(spark, dir)
    assert(live.count() == 1188L)
    assert(live.where(col("doc_id") === 103L).count() == 0L)
    // the change feed across the MoR commit names logical columns
    val feed = GraftLake.changes(spark, dir, v0, GraftLake.latestVersion(dir))
    assert(feed.columns.contains("doc_id"))
    assert(feed.where(col("change_kind") === "delete").count() == 12L)
    // a shallow clone inherits the mapping with the schema
    val dst = tmp("graft_cm_clone")
    GraftLake.shallowClone(spark, dir, dst)
    assert(GraftLake.read(spark, dst).where(col("doc_id") === 500L).count() == 1L)
    assert(GraftLake.physicalMapOf(GraftLake.snapshot(spark, dst).schema)
      .get("doc_id").contains("k"))
  }
}
