package graft.sources.lake

import java.nio.file.Files

import graft.SparkSpec
import graft.spark.FooterCountStrategy
import org.apache.spark.sql.functions._

/** Footer reads through `ParquetFooter`: per-file stats are the
  * same on the driver path (≤ 16 files) and the distributed path, and
  * match the data they describe; `FooterCountExec` answers `COUNT(*)`
  * exactly as a scan does. Files carry several row groups each, so the
  * per-block merge is exercised. */
class FooterReadSpec extends SparkSpec {

  import spark.implicits._

  private lazy val dir: String = {
    val d = Files.createTempDirectory("footer_read").toString + "/t"
    (0 until 6000).map { i =>
      (i.toLong * 7 % 6000, i % 97, i * 0.25 - 300.0,
        if (i % 11 == 0) null else f"s${i % 503}%04d")
    }.toDF("id", "i", "d", "s")
      .repartition(20)
      .write.option("parquet.block.size", "2048").parquet(d)
    d
  }

  private def files: Seq[String] =
    new java.io.File(dir).listFiles().map(_.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
      .sorted.map(n => s"$dir/$n").toSeq

  test("footer stats: driver path (≤16 files) ≡ distributed path (>16), and ≡ the data") {
    val all = files
    assert(all.size == 20)
    val viaDriver = GraftLake.footerStats(spark, all.take(16))
    val viaCluster = GraftLake.footerStats(spark, all)
    assert(viaCluster.size == 20)
    assert(viaDriver == viaCluster.filter { case (p, _) => viaDriver.contains(p) },
      "driver and distributed footer reads disagree")

    // multi-row-group files, so the min/max/null merge across blocks ran
    val r = ParquetFooter.open(all.head, spark.sessionState.newHadoopConf())
    try assert(r.getFooter.getBlocks.size > 1, "expected several row groups per file")
    finally r.close()

    // every figure against the rows the file actually holds
    val truth = spark.read.parquet(dir)
      .withColumn("f", regexp_extract(input_file_name(), "[^/]+$", 0))
      .groupBy("f").agg(count(lit(1)).as("n"),
        min("id").as("id_min"), max("id").as("id_max"),
        min("i").as("i_min"), max("i").as("i_max"),
        min("d").as("d_min"), max("d").as("d_max"),
        min("s").as("s_min"), max("s").as("s_max"),
        count(when(col("s").isNull, 1)).as("s_nulls"))
      .collect().map(row => row.getString(0) -> row).toMap
    viaCluster.foreach { case (p, (rows, bytes, cols)) =>
      val t = truth(new java.io.File(p).getName)
      assert(rows == t.getAs[Long]("n"))
      assert(bytes > 0)
      assert(cols("id") == GraftLake.ColStats(Some(t.getAs[Long]("id_min").toString),
        Some(t.getAs[Long]("id_max").toString), 0L, "long"))
      assert(cols("i") == GraftLake.ColStats(Some(t.getAs[Int]("i_min").toString),
        Some(t.getAs[Int]("i_max").toString), 0L, "long"))
      assert(cols("d") == GraftLake.ColStats(Some(t.getAs[Double]("d_min").toString),
        Some(t.getAs[Double]("d_max").toString), 0L, "double"))
      assert(cols("s") == GraftLake.ColStats(Some(t.getAs[String]("s_min")),
        Some(t.getAs[String]("s_max")), t.getAs[Long]("s_nulls"), "string"))
    }
  }

  test("COUNT(*) answered by FooterCountExec equals the scan count") {
    def countStar(footer: Boolean): (Long, String) = {
      val prev = spark.experimental.extraStrategies
      spark.experimental.extraStrategies =
        prev.filterNot(_ == FooterCountStrategy) :+ FooterCountStrategy
      spark.conf.set("spark.graft.footerCount.enabled", footer.toString)
      try {
        val agg = spark.read.parquet(dir).agg(count(lit(1)).as("n"))
        (agg.collect()(0).getLong(0), agg.queryExecution.executedPlan.toString)
      } finally {
        spark.conf.unset("spark.graft.footerCount.enabled")
        spark.experimental.extraStrategies = prev
      }
    }
    val (viaFooters, footerPlan) = countStar(footer = true)
    val (viaScan, scanPlan) = countStar(footer = false)
    assert(footerPlan.contains("FooterCount"), s"strategy did not fire:\n$footerPlan")
    assert(!scanPlan.contains("FooterCount"))
    assert(viaFooters == viaScan)
    assert(viaScan == 6000L)
  }
}
