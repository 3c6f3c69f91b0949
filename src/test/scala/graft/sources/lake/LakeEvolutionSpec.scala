package graft.sources.lake

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/**
 * Column rename/drop via parquet FIELD IDS (Iceberg's column-identity
 * model, carried by Spark's own `parquet.field.id` machinery): renames
 * and drops are pure metadata commits — no data file is rewritten, old
 * files keep serving renamed columns by id, dropped ids are never
 * reused, and id-keyed footer stats keep pruning filters on renamed
 * columns.
 */
class LakeEvolutionSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_lake_evo").toString + "/t"

  private def scanOf(df: DataFrame): FileSourceScanExec =
    df.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case s: FileSourceScanExec => s }
      .getOrElse(fail("no FileSourceScan in plan"))

  test("rename: metadata-only commit; old files serve the new name; stats still prune") {
    val dir = tmp()
    GraftLake.create(
      (0 until 800).map(i => (i.toLong, s"t$i", i.toLong * 2)).toDF("id", "tag", "v")
        .repartitionByRange(8, col("id")), dir)
    val filesBefore = GraftLake.snapshot(spark, dir).files.map(_.path).toSet

    GraftLake.renameColumn(spark, dir, "id", "doc_id")
    assert(GraftLake.snapshot(spark, dir).files.map(_.path).toSet == filesBefore,
      "rename must not rewrite any data file")

    val got = GraftLake.read(spark, dir)
    assert(got.columns.toSeq == Seq("doc_id", "tag", "v"))
    assert(got.select(sum("doc_id")).head().getLong(0) == (0L until 800L).sum,
      "old files must serve the renamed column by field id")

    // footer pruning on the RENAMED column: stats were written under the
    // old name but are id-keyed, so a tight range still skips files
    val (df, scanned, total) =
      GraftLake.scanFiltered(spark, dir, col("doc_id").between(100L, 149L))
    assert(total == 8 && scanned < total, s"opened $scanned/$total after rename")
    assert(df.select("doc_id").as[Long].collect().toSet == (100L to 149L).toSet)

    // planner path too: LakeFileIndex scan prunes and resolves by id
    val planned = GraftLake.read(spark, dir)
      .filter(col("doc_id") >= 100L && col("doc_id") <= 149L)
    assert(planned.collect().map(_.getLong(0)).toSet == (100L to 149L).toSet)
    assert(scanOf(planned).metrics("numFiles").value < 8)

    // time travel: the pre-rename snapshot still shows the old name
    assert(GraftLake.read(spark, dir, asOf = Some(0L)).columns.toSeq ==
      Seq("id", "tag", "v"))

    // appends after the rename mix with pre-rename files transparently
    GraftLake.append(
      (800 until 900).map(i => (i.toLong, s"t$i", i.toLong * 2)).toDF("doc_id", "tag", "v"),
      dir, numFiles = 1)
    assert(GraftLake.read(spark, dir).count() == 900)
    assert(GraftLake.read(spark, dir).filter(col("doc_id") >= 800L).count() == 100)

    // merge keyed on the renamed column updates rows living in OLD files
    GraftLake.merge(spark, dir,
      Seq((5L, "upd", 555L)).toDF("doc_id", "tag", "v"), "doc_id")
    val r5 = GraftLake.read(spark, dir).filter(col("doc_id") === 5L).collect()
    assert(r5.length == 1 && r5.head.getString(1) == "upd")
  }

  test("drop: column disappears without rewrite; re-added name never resurrects data") {
    val dir = tmp()
    GraftLake.create(
      (0 until 100).map(i => (i.toLong, s"secret$i", i.toLong)).toDF("id", "tag", "v"),
      dir, numFiles = 2)
    val filesBefore = GraftLake.snapshot(spark, dir).files.map(_.path).toSet

    GraftLake.dropColumn(spark, dir, "tag")
    assert(GraftLake.snapshot(spark, dir).files.map(_.path).toSet == filesBefore,
      "drop must not rewrite any data file")
    val got = GraftLake.read(spark, dir)
    assert(got.columns.toSeq == Seq("id", "v"))

    // re-adding a column NAMED tag is REJECTED: old files still carry a
    // column of that name (different field id), and Spark's parquet
    // row-group pushdown matches by NAME — a filter on the reborn column
    // would bind to the dead data's stats and silently skip/keep wrong
    // row groups. The engine retires the name instead of risking that.
    val e = intercept[IllegalArgumentException] {
      GraftLake.append(
        (100 until 110).map(i => (i.toLong, i.toLong, s"new$i")).toDF("id", "v", "tag"),
        dir, numFiles = 1)
    }
    assert(e.getMessage.contains("retired"), s"wrong message: ${e.getMessage}")

    // a FRESH name evolves fine and null-fills the old files
    GraftLake.append(
      (100 until 110).map(i => (i.toLong, i.toLong, s"new$i")).toDF("id", "v", "label"),
      dir, numFiles = 1)
    val reborn = GraftLake.read(spark, dir)
    assert(reborn.filter(col("label").isNull).count() == 100)
    assert(reborn.filter(col("label").startsWith("new")).count() == 10)

    // time travel: pre-drop snapshot still reads the original values
    assert(GraftLake.read(spark, dir, asOf = Some(0L))
      .filter(col("tag").startsWith("secret")).count() == 100)
  }

  test("rename to a retired name is allowed only for the same field id") {
    val dir = tmp()
    GraftLake.create(
      (0 until 10).map(i => (i.toLong, i.toLong, i.toLong)).toDF("a", "b", "c"),
      dir, numFiles = 1)
    GraftLake.renameColumn(spark, dir, "a", "x") // retires 'a' (id 1)
    // renaming ANOTHER column to 'a' would alias old files' a-named data
    val e = intercept[IllegalArgumentException] {
      GraftLake.renameColumn(spark, dir, "b", "a")
    }
    assert(e.getMessage.contains("retired"))
    // renaming x BACK to 'a' is the same field id — safe and allowed
    GraftLake.renameColumn(spark, dir, "x", "a")
    assert(GraftLake.read(spark, dir).columns.toSeq == Seq("a", "b", "c"))
    assert(GraftLake.read(spark, dir).select(sum("a")).head().getLong(0) == 45L)
    // filters on the re-renamed column still bind correctly in old files
    assert(GraftLake.read(spark, dir).filter(col("a") === 7L).count() == 1)
  }

  test("rename survives log checkpoints and feeds the change feed coherently") {
    val dir = tmp()
    GraftLake.create(
      (0 until 40).map(i => (i.toLong, i.toLong)).toDF("id", "v"), dir,
      numFiles = 1, checkpointEvery = 2)
    GraftLake.renameColumn(spark, dir, "v", "score") // v1
    GraftLake.append((40 until 50).map(i => (i.toLong, i.toLong)).toDF("id", "score"),
      dir, numFiles = 1) // v2 (writes a checkpoint)
    GraftLake.delete(spark, dir, col("score") < 5L) // v3

    // fold through the checkpoint: schema and maxColId both survive
    assert(GraftLake.read(spark, dir).columns.toSeq == Seq("id", "score"))
    assert(GraftLake.read(spark, dir).count() == 45)

    // CDC across the rename boundary reports in the TO-version's names
    val c = GraftLake.changes(spark, dir, 0L, 3L)
    assert(c.columns.contains("score"))
    assert(c.filter(col("change_kind") === "delete")
      .select("score").as[Long].collect().toSet == (0L until 5L).toSet)
  }
}
