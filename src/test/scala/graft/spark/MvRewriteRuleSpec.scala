package graft.spark

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MvRewriteRuleSpec extends SparkSpec {
  import spark.implicits._

  private lazy val (factDir, mvDir): (String, String) = {
    val f = java.nio.file.Files.createTempDirectory("mv_fact").toString
    val m = java.nio.file.Files.createTempDirectory("mv_mv").toString
    val rnd = new scala.util.Random(19)
    (1 to 20000).map(i => (s"r${i % 5}", s"s${i % 13}", rnd.nextInt(1000).toLong,
        rnd.nextInt(100).toLong))
      .toDF("region", "seg", "amount", "qty")
      .write.mode("overwrite").parquet(f)
    spark.read.parquet(f).groupBy("region", "seg")
      .agg(sum($"amount").as("sum_amount"), sum($"qty").as("sum_qty"),
        count(lit(1)).as("cnt"))
      .write.mode("overwrite").parquet(m)
    (f, m)
  }

  private def withMv[A](f: => A): A = {
    spark.conf.set(MvRewriteRule.ConfKey,
      s"$factDir::$mvDir::region,seg::amount,qty")
    try f finally spark.conf.unset(MvRewriteRule.ConfKey)
  }

  private def scansMv(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains(
      new java.io.File(mvDir).getName)

  test("same-grain aggregate is answered from the MV, values exact") {
    val expected = spark.read.parquet(factDir).groupBy("region", "seg")
      .agg(sum($"amount").as("s"), count(lit(1)).as("n"))
      .as[(String, String, Long, Long)].collect().toSet
    withMv {
      val q = spark.read.parquet(factDir).groupBy("region", "seg")
        .agg(sum($"amount").as("s"), count(lit(1)).as("n"))
      assert(scansMv(q), s"expected MV scan:\n${q.queryExecution.optimizedPlan}")
      assert(q.as[(String, String, Long, Long)].collect().toSet == expected)
    }
  }

  test("coarser rollup (subset of MV grouping) also rewrites, values exact") {
    val expected = spark.read.parquet(factDir).groupBy("region")
      .agg(sum($"qty").as("s"), count(lit(1)).as("n"))
      .as[(String, Long, Long)].collect().toSet
    withMv {
      val q = spark.read.parquet(factDir).groupBy("region")
        .agg(sum($"qty").as("s"), count(lit(1)).as("n"))
      assert(scansMv(q))
      assert(q.as[(String, Long, Long)].collect().toSet == expected)
      // downstream operators above the aggregate still resolve (exprIds kept)
      val filtered = spark.read.parquet(factDir).groupBy("region")
        .agg(sum($"qty").as("s")).filter($"s" > 0).orderBy($"region")
      assert(scansMv(filtered) && filtered.count() == 5)
    }
  }

  test("global count(*) rewrites through sum(cnt)") {
    withMv {
      val q = spark.read.parquet(factDir).agg(count(lit(1)).as("n"))
      assert(scansMv(q))
      assert(q.collect()(0).getLong(0) == 20000L)
    }
  }

  test("non-rollable aggregates and non-MV columns decline") {
    withMv {
      val mx = spark.read.parquet(factDir).groupBy("region")
        .agg(max($"amount").as("m"))
      assert(!scansMv(mx), "max must not be served from a sum/count MV")
      val byAmount = spark.read.parquet(factDir).groupBy("amount")
        .agg(count(lit(1)).as("n"))
      assert(!scansMv(byAmount), "grouping outside the MV keys must decline")
      val dist = spark.read.parquet(factDir).groupBy("region")
        .agg(countDistinct($"seg").as("n"))
      assert(!scansMv(dist), "count distinct must decline")
    }
    // conf unset: nothing rewrites
    val q = spark.read.parquet(factDir).groupBy("region", "seg")
      .agg(sum($"amount").as("s"))
    assert(!scansMv(q))
  }
}
