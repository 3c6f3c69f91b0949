package graft.sources.lake

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.SparkThrowable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The lake's in-place data-file writer ([[DataFileWriter]]): files go
  * straight into `data/` from one Spark job per write, with the
  * properties the staged `DataFrameWriter` path had — field ids, bloom
  * filters, footer stats, FileFormatWriter's file rule, Spark's write-time
  * schema checks — and nothing else left in `data/`. */
class LakeDirectWriteSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_direct_write").toString + "/t"

  private def batch(from: Long, n: Long, parts: Int = 4): DataFrame =
    spark.range(from, from + n, 1, parts).select(col("id"), (col("id") % 13).as("k"),
      concat(lit("doc-"), col("id").cast("string")).as("doc"))

  private def dataFiles(dir: String): Set[String] =
    Option(new File(dir, "data").list()).getOrElse(Array.empty[String]).toSet

  private def condition(t: Throwable): Option[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collectFirst {
      case s: SparkThrowable if s.getCondition != null => s.getCondition
    }

  test("written files carry field ids; a bloom-enabled table's files carry the blooms") {
    val dir = tmp()
    GraftLake.create(batch(0, 2000), dir, numFiles = 2)
    GraftLake.setProperties(spark, dir, Map(GraftLake.BloomColsKey -> "doc"))
    GraftLake.append(batch(2000, 2000), dir, numFiles = 2)
    val snap = GraftLake.snapshot(spark, dir)
    val ids = snap.schema.fields.map(f =>
      f.name -> f.metadata.getLong("parquet.field.id").toInt).toMap
    assert(ids == Map("id" -> 1, "k" -> 2, "doc" -> 3))
    val conf = spark.sessionState.newHadoopConf()
    snap.files.foreach { f =>
      val r = ParquetFooter.open(GraftLake.absPath(dir, f.path), conf)
      val fields = try r.getFooter.getFileMetaData.getSchema.getFields.asScala.toSeq
        finally r.close()
      assert(fields.map(t => t.getName -> t.getId.intValue).toMap == ids,
        s"${f.path} lacks the table's field ids")
    }
    val v1 = GraftLake.snapshot(spark, dir, asOf = Some(1L)).files.map(_.path).toSet
    val appended = snap.files.filterNot(f => v1.contains(f.path))
    assert(appended.size == 2)
    appended.foreach { f =>
      val bloom = GraftLake.readBloom(spark, GraftLake.absPath(dir, f.path), "doc")
      assert(bloom.isDefined, s"${f.path} has no bloom filter on doc")
    }
    assert(v1.forall(p => GraftLake.readBloom(spark, GraftLake.absPath(dir, p), "doc").isEmpty))
  }

  test("each AddFile's rows, bytes and column stats equal ParquetFooter.stats of its file") {
    val dir = tmp()
    GraftLake.create(batch(0, 3000), dir)
    GraftLake.append(batch(3000, 1000, parts = 3), dir)
    val snap = GraftLake.snapshot(spark, dir)
    assert(snap.files.size == 7)
    val conf = spark.sessionState.newHadoopConf()
    snap.files.foreach { f =>
      val (rows, bytes, stats) = ParquetFooter.stats(GraftLake.absPath(dir, f.path), conf)
      assert(f.rows == rows && f.bytes == bytes, f.path)
      assert(f.stats == stats.map { case (n, s) => GraftLake.statsKey(snap.schema, n) -> s },
        f.path)
    }
    assert(snap.files.map(_.rows).sum == 4000L)
    assert(GraftLake.read(spark, dir).count() == 4000L)
  }

  test("file rule: an empty create commits one 0-row file; only partition 0 " +
    "writes when empty") {
    val zeroParts = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("id", LongType))))
    assert(zeroParts.queryExecution.toRdd.getNumPartitions == 0)
    Seq(zeroParts, spark.range(0).toDF("id")).foreach { empty =>
      val dir = tmp()
      GraftLake.create(empty, dir)
      val adds = GraftLake.snapshot(spark, dir).files
      assert(adds.map(_.rows) == Seq(0L))
      assert(dataFiles(dir) == adds.map(_.path.stripPrefix("data/")).toSet)
      assert(GraftLake.read(spark, dir).count() == 0L)
    }
    // range(0, 10) over 4 partitions: [0,2) [2,5) [5,7) [7,10)
    val tail = tmp()
    GraftLake.create(spark.range(0, 10, 1, 4).toDF().filter(col("id") >= 7), tail)
    assert(GraftLake.snapshot(spark, tail).files.map(_.rows) == Seq(0L, 3L))
    val head = tmp()
    GraftLake.create(spark.range(0, 10, 1, 4).toDF().filter(col("id") < 3), head)
    assert(GraftLake.snapshot(spark, head).files.map(_.rows) == Seq(2L, 1L))
  }

  test("Spark's write-time schema checks refuse what they refused before, " +
    "with Spark's own error; a void column still writes") {
    val dir = tmp()
    GraftLake.create(batch(0, 100), dir)
    val before = dataFiles(dir)
    // a duplicate column name: DataFrameWriter's check used to refuse it
    val dup = Seq((1L, 2L, "x")).toDF("id", "k", "doc").select(col("id"), col("k"),
      col("doc"), col("k"))
    val e = intercept[Exception](GraftLake.append(dup, dir))
    assert(condition(e).contains("COLUMN_ALREADY_EXISTS"), e.getMessage)
    assert(GraftLake.latestVersion(dir) == 0L && dataFiles(dir) == before)
    // the writer fails exactly as DataFrameWriter.parquet does, for a
    // duplicate name and for a type parquet cannot store
    val interval = Seq(1L).toDF("id")
      .select(col("id"), expr("make_interval(0, 0, 0, 1, 0, 0, 0)").as("iv"))
    Seq(dup, interval).foreach { bad =>
      val viaSpark = intercept[Exception](bad.write.parquet(tmp()))
      val viaLake = intercept[Exception](DataFileWriter.write(bad, dir, Map.empty))
      assert(condition(viaLake).isDefined && condition(viaLake) == condition(viaSpark),
        s"lake: ${viaLake.getMessage} / spark: ${viaSpark.getMessage}")
    }
    assert(dataFiles(dir) == before)
    // parquet stores a void (NullType) column, so a batch with one writes
    val voidDir = tmp()
    GraftLake.create(Seq(1L).toDF("id").select(col("id"), lit(null).as("v")), voidDir)
    assert(GraftLake.read(spark, voidDir).collect().toSeq == Seq(Row(1L, null)))
  }

  test("a partition that throws mid-write leaves no file in data/ and commits nothing") {
    val dir = tmp()
    GraftLake.create(batch(0, 100), dir)
    val before = dataFiles(dir)
    // the last partition fails on its last row, once the other three have
    // their files in data/ (and a little after, so they have closed them)
    val data = new File(dir, "data")
    val boom = udf { (id: Long) =>
      if (id == 1999L) {
        val deadline = System.currentTimeMillis() + 30000
        def opened = data.list().count(n => n.endsWith(".parquet") && !before.contains(n))
        while (opened < 4 && System.currentTimeMillis() < deadline) Thread.sleep(20)
        Thread.sleep(300)
        throw new IllegalStateException("boom")
      }
      id
    }
    intercept[Exception] {
      GraftLake.append(batch(0, 2000).withColumn("id", boom(col("id"))), dir)
    }
    assert(GraftLake.latestVersion(dir) == 0L)
    assert(dataFiles(dir) == before)
  }

  test("after appends data/ holds only the files the log references: no .crc, " +
    "no _staged or _temporary") {
    val dir = tmp()
    GraftLake.create(batch(0, 500), dir)
    (1 to 3).foreach(i => GraftLake.append(batch(i * 500L, 500), dir))
    GraftLake.appendStreamBatch(batch(5000, 500), dir, "app", 0L)
    val referenced = GraftLake.snapshot(spark, dir).files.map(_.path.stripPrefix("data/")).toSet
    assert(referenced.size == 20)
    assert(dataFiles(dir) == referenced)
    assert(new File(dir).list().toSet == Set("_log", "data"))
  }

  test("the write job runs on the caller's thread, under its job group") {
    val dir = tmp()
    GraftLake.create(batch(0, 100), dir)
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(
          Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("lake-direct-write", "append")
      try GraftLake.append(batch(100, 100), dir) finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 10000
      while (groups.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(20)
    } finally sc.removeSparkListener(listener)
    assert(!groups.isEmpty && groups.asScala.forall(_ == "lake-direct-write"),
      s"job groups seen: ${groups.asScala.mkString(", ")}")
  }

  test("vacuum still sweeps a staging dir left by the old staged write path") {
    val dir = tmp()
    GraftLake.create(batch(0, 100), dir)
    val old = new File(dir, "_staged/0c3d9a52-old")
    val young = new File(dir, "_staged/7f1e0b44-young")
    Seq(old, young).foreach { d =>
      d.mkdirs()
      Files.write(new File(d, "part-00000.parquet").toPath, Array[Byte](1, 2, 3))
    }
    val now = System.currentTimeMillis()
    old.setLastModified(now - 2 * 3600 * 1000L)
    GraftLake.vacuumAt(spark, dir, keepHistory = true, minAgeMillis = 3600 * 1000L, now = now)
    assert(!old.exists() && young.isDirectory)
    assert(GraftLake.read(spark, dir).count() == 100L)
  }
}
