package graft.sources.lake

import graft.SparkSpec
import org.apache.spark.sql.functions._

/**
 * CHECK constraints as folded table properties (`constraint.<name>` =
 * boolean SQL — the Delta `delta.constraints.<name>` shape, riding the
 * props machinery that already versions, checkpoints, clones and
 * REPLACEs): ADD validates existing data with ONE scan; every write
 * then enforces with a codegen'd assert_true filter that rides the
 * staging job — zero extra pass, and a violating batch fails before
 * anything commits. At 100 TB this is ingest-time data-quality
 * enforcement (the corpus can never hold a row that violates a
 * declared invariant), not an audit job that finds violations later.
 */
class LakeConstraintSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_constraint").toString + "/t"

  test("violating append fails the WRITE with nothing committed; valid " +
    "appends flow; UNSET re-opens the gate") {
    val dir = tmp()
    GraftLake.create(spark.range(1, 100).select(col("id"),
      (col("id") * 10).as("price")), dir)
    GraftLake.setProperties(spark, dir, Map("constraint.pos" -> "price > 0"))

    val v = GraftLake.latestVersion(dir)
    val bad = spark.range(0, 10).select(col("id"), lit(-5L).as("price"))
    val e = intercept[Exception] {
      bad.write.format("graft-lake").mode("append").save(dir)
    }
    assert(e.getMessage != null)
    assert(GraftLake.latestVersion(dir) == v, "failed write must not commit")
    assert(GraftLake.read(spark, dir).count() == 99L)

    spark.range(200, 210).select(col("id"), (col("id") * 2).as("price"))
      .write.format("graft-lake").mode("append").save(dir)
    assert(GraftLake.read(spark, dir).count() == 109L)

    GraftLake.setProperties(spark, dir, Map.empty, unsets = Seq("constraint.pos"))
    bad.write.format("graft-lake").mode("append").save(dir)
    assert(GraftLake.read(spark, dir).count() == 119L)
  }

  test("ADD validates existing data with one scan (rejected on violation); " +
    "NULL passes like SQL CHECK; unresolvable expressions rejected up front") {
    val dir = tmp()
    GraftLake.create(spark.range(0, 50).select(col("id"),
      when(col("id") % 10 === 0, lit(null).cast("long"))
        .otherwise(col("id") + 1).as("price")), dir)
    // rows with price NULL exist: a NULL check result must PASS (SQL
    // CHECK semantics), so this constraint is addable...
    GraftLake.setProperties(spark, dir, Map("constraint.pos" -> "price > 0"))
    // ...and NULL-priced rows keep writing through it
    spark.range(100, 110).select(col("id"), lit(null).cast("long").as("price"))
      .write.format("graft-lake").mode("append").save(dir)
    assert(GraftLake.read(spark, dir).count() == 60L)

    // a constraint existing data VIOLATES is rejected (id 0 fails id > 0)
    intercept[IllegalArgumentException] {
      GraftLake.setProperties(spark, dir, Map("constraint.idpos" -> "id > 0"))
    }
    assert(!GraftLake.snapshot(spark, dir).props.contains("constraint.idpos"))

    // an expression that doesn't resolve is rejected before any commit
    intercept[IllegalArgumentException] {
      GraftLake.setProperties(spark, dir, Map("constraint.bad" -> "nope > 0"))
    }
  }

  test("constraints enforce through SQL INSERT and MERGE inserts; " +
    "CoW rewrites of valid data pass untouched") {
    val dir = tmp()
    spark.sql("DROP TABLE IF EXISTS lake_ck_t")
    spark.range(1, 50).select(col("id"), (col("id") * 3).as("price"))
      .createOrReplaceTempView("lake_ck_src")
    spark.sql(s"CREATE TABLE lake_ck_t USING `graft-lake` OPTIONS (path '$dir') " +
      "AS SELECT * FROM lake_ck_src")
    spark.sql("ALTER TABLE lake_ck_t SET TBLPROPERTIES " +
      "('constraint.pos' = 'price > 0')")

    intercept[Exception] {
      spark.sql("INSERT INTO lake_ck_t VALUES (1000, -1)")
    }
    assert(spark.table("lake_ck_t").count() == 49L)
    spark.sql("INSERT INTO lake_ck_t VALUES (1000, 1)")
    assert(spark.table("lake_ck_t").count() == 50L)

    // MERGE: a violating WHEN NOT MATCHED insert fails the statement
    spark.createDataset(Seq((2000L, -7L))).toDF("id", "price")
      .createOrReplaceTempView("lake_ck_merge_src")
    intercept[Exception] {
      spark.sql("""MERGE INTO lake_ck_t t USING lake_ck_merge_src s
        ON t.id = s.id WHEN NOT MATCHED THEN INSERT *""")
    }
    assert(spark.table("lake_ck_t").count() == 50L)

    // CoW delete re-stages surviving (valid) rows: passes
    spark.sql("DELETE FROM lake_ck_t WHERE id < 10")
    assert(spark.table("lake_ck_t").count() == 41L)
    spark.sql("DROP TABLE lake_ck_t")
  }

  test("a pre-evolution writer that OMITS a constrained column still " +
    "writes: the stored value is NULL and NULL passes CHECK") {
    val dir = tmp()
    GraftLake.create(spark.range(1, 20).select(col("id"),
      (col("id") * 2).as("price")), dir)
    GraftLake.setProperties(spark, dir, Map("constraint.pos" -> "price > 0"))
    // batch without `price` at all — reads back as NULL, which passes
    spark.range(100, 110).toDF("id")
      .write.format("graft-lake").mode("append").save(dir)
    assert(GraftLake.read(spark, dir).count() == 29L)
    assert(GraftLake.read(spark, dir)
      .filter(col("price").isNull).count() == 10L)
    // and a batch that CARRIES the column still enforces
    intercept[Exception] {
      spark.range(200, 205).select(col("id"), lit(-1L).as("price"))
        .write.format("graft-lake").mode("append").save(dir)
    }
    assert(GraftLake.read(spark, dir).count() == 29L)
  }

  test("MoR update enforces constraints on the REWRITTEN rows (the only " +
    "new data a merge-on-read update writes)") {
    val dir = tmp()
    GraftLake.create(spark.range(1, 50).select(col("id"),
      (col("id") * 2).as("price")), dir)
    GraftLake.setProperties(spark, dir, Map("constraint.pos" -> "price > 0"))
    val v = GraftLake.latestVersion(dir)
    intercept[Exception] {
      GraftLake.updateMoR(spark, dir, col("id") === 7L,
        Seq("price" -> lit(-1L)))
    }
    assert(GraftLake.latestVersion(dir) == v, "violating MoR update must not commit")
    assert(GraftLake.read(spark, dir).filter(col("price") <= 0).count() == 0L)
    GraftLake.updateMoR(spark, dir, col("id") === 7L, Seq("price" -> lit(700L)))
    assert(GraftLake.read(spark, dir).filter(col("id") === 7L)
      .select("price").collect().head.getLong(0) == 700L)
  }

  test("constraints survive checkpoints and carry to clones; a CREATE " +
    "with an unresolvable constraint is atomic (nothing created)") {
    val dir = tmp()
    GraftLake.create(spark.range(1, 30).select(col("id"),
      (col("id") * 2).as("v")), dir, checkpointEvery = 2)
    GraftLake.setProperties(spark, dir, Map("constraint.pos" -> "v > 0"))
    (1 to 3).foreach { i =>
      spark.range(100L * i, 100L * i + 5).select(col("id"), col("id").as("v"))
        .write.format("graft-lake").mode("append").save(dir)
    }
    // fold from the checkpoint alone: delete the early commits
    val log = new java.io.File(dir, "_log")
    (0 to 1).foreach(v => new java.io.File(log, f"v$v%020d.json").delete())
    assert(GraftLake.snapshot(spark, dir).props("constraint.pos") == "v > 0")

    val dst = tmp()
    GraftLake.shallowClone(spark, dir, dst)
    intercept[Exception] {
      spark.range(0, 3).select(col("id"), lit(-1L).as("v"))
        .write.format("graft-lake").mode("append").save(dst)
    }
    assert(GraftLake.read(spark, dst).count() == GraftLake.read(spark, dir).count())

    // atomic CREATE: invalid constraint -> no lake dir, no catalog entry
    val dir2 = tmp()
    spark.sql("DROP TABLE IF EXISTS lake_ck_atomic")
    spark.range(0, 5).toDF("id").createOrReplaceTempView("lake_ck_atomic_src")
    intercept[IllegalArgumentException] {
      spark.sql(s"CREATE TABLE lake_ck_atomic USING `graft-lake` " +
        s"OPTIONS (path '$dir2') TBLPROPERTIES ('constraint.x' = 'nope > 0') " +
        "AS SELECT * FROM lake_ck_atomic_src")
    }
    assert(GraftLake.latestVersion(dir2) < 0)
  }

  test("TOCTOU closed: an ALTER SET constraint that commits AFTER a batch " +
    "was staged but BEFORE its commit fails the write under the fence " +
    "(metadata-change conflict), leaving no violating rows and no orphans") {
    val dir = tmp()
    GraftLake.create(spark.range(1, 20).select(col("id"),
      (col("id") * 2).as("price")), dir)

    // the violating batch's staging job blocks in a UDF: the constraint
    // set has been READ (none yet) but the commit hasn't happened — the
    // exact window the round-12 implementation left open
    val gate = ConstraintRaceGate
    gate.reset()
    // module accessed statically inside the lambda (GETSTATIC, not a
    // captured reference) so the closure stays serializable
    val slow = udf { (p: Long) =>
      ConstraintRaceGate.staging.countDown()
      ConstraintRaceGate.proceed.await()
      p
    }
    // single partition: ONE task blocks in the gate, leaving slots free
    // for the concurrent ALTER's validation scan (no scheduler deadlock)
    val bad = spark.range(500, 510, 1, 1)
      .select(col("id"), slow(lit(-5L)).as("price"))

    val writer = new Thread(() => {
      try { GraftLake.append(bad, dir) }
      catch { case e: Throwable => gate.failure = Some(e) }
      gate.done.countDown()
    })
    writer.start()
    assert(gate.staging.await(60, java.util.concurrent.TimeUnit.SECONDS),
      "staging job never started")
    // mid-window: the ALTER validates EXISTING data (staged rows are
    // invisible to it) and commits the constraint
    GraftLake.setProperties(spark, dir, Map("constraint.pos" -> "price > 0"))
    val vAfterAlter = GraftLake.latestVersion(dir)
    gate.proceed.countDown()
    assert(gate.done.await(120, java.util.concurrent.TimeUnit.SECONDS))

    assert(gate.failure.exists(_.getMessage.contains("constraint")),
      s"append must fail the fence-time constraint re-check, got ${gate.failure}")
    assert(GraftLake.latestVersion(dir) == vAfterAlter,
      "the violating batch must not have committed")
    assert(GraftLake.read(spark, dir).filter(col("price") <= 0).count() == 0L,
      "write-side induction invariant must hold")
    // the fence loop deleted the staged-but-never-referenced files
    val referenced = GraftLake.snapshot(spark, dir).files.map(_.path).toSet
    val onDisk = Option(new java.io.File(dir, "data").listFiles())
      .getOrElse(Array.empty).map(f => s"data/${f.getName}").toSet
    assert((onDisk -- referenced).isEmpty,
      s"orphaned staged files left behind: ${onDisk -- referenced}")

    // a DROPPED constraint mid-window is NOT a conflict (rows passed a
    // superset): stage under the constraint, drop it mid-window, commit OK
    GraftLake.setProperties(spark, dir, Map.empty, unsets = Seq("constraint.pos"))
    GraftLake.setProperties(spark, dir, Map("constraint.pos2" -> "price > 0"))
    gate.reset()
    val good = spark.range(600, 605, 1, 1)
      .select(col("id"), slow(lit(7L)).as("price"))
    val writer2 = new Thread(() => {
      try { GraftLake.append(good, dir) }
      catch { case e: Throwable => gate.failure = Some(e) }
      gate.done.countDown()
    })
    writer2.start()
    assert(gate.staging.await(60, java.util.concurrent.TimeUnit.SECONDS))
    GraftLake.setProperties(spark, dir, Map.empty, unsets = Seq("constraint.pos2"))
    gate.proceed.countDown()
    assert(gate.done.await(120, java.util.concurrent.TimeUnit.SECONDS))
    assert(gate.failure.isEmpty,
      s"constraint DROP mid-window must not conflict: ${gate.failure}")
    assert(GraftLake.read(spark, dir).filter(col("id") >= 600).count() == 5L)
  }
}

/** Latches for the TOCTOU race spec: static so the UDF (which runs on
  * executor threads — same JVM under local[*]) and the driver share them. */
object ConstraintRaceGate {
  import java.util.concurrent.CountDownLatch
  @volatile var staging: CountDownLatch = _
  @volatile var proceed: CountDownLatch = _
  @volatile var done: CountDownLatch = _
  @volatile var failure: Option[Throwable] = None
  def reset(): Unit = {
    staging = new CountDownLatch(1); proceed = new CountDownLatch(1)
    done = new CountDownLatch(1); failure = None
  }
}
