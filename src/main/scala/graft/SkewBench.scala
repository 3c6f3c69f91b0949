package graft

import graft.apps.DataGen
import graft.ops.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Skewed-vs-uniform stress bench for the dedup family (VERDICT r5 item 3):
 * times each operator on a corpus where one viral document is 20% of all
 * rows (simultaneously a hot dedup key, a hot MinHash bucket, and a hot
 * SimHash chunk bucket) against a same-size uniform control. Also times the
 * row_number-window formulation of exact dedup that [[Dedup.exactDedup]]
 * deliberately does NOT use, to quantify the single-task-straggler cost the
 * narrow-min + hash-join-back shape avoids.
 *
 * Usage: SPARK_GRAFT_SKEW_N=200000 sbt "runMain graft.SkewBench"
 * Prints one markdown table row per (corpus, op) and a final JSON line.
 */
object SkewBench {

  /** Median of `reps` timed runs (first — warm-up — run discarded): this
    * box swings ±50% run-to-run under load, so single samples routinely
    * invert a 2× structural difference.
    */
  private def medianTime(reps: Int)(f: => Long): Double = {
    f // warm codegen + page cache, untimed
    val times = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e9
    }
    times.sorted.apply(reps / 2)
  }

  /** The window formulation exactDedup replaced — kept here (bench-only) as
    * the straggler baseline.
    */
  private def windowDedup(df: DataFrame, key: String, order: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(key)).orderBy(col(order))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  def main(args: Array[String]): Unit = {
    // sketch-bound LSH ops run at nLsh; the exact-dedup pair runs at nExact
    // (larger — a 40k-row hot-key sort finishes in milliseconds, so the
    // window straggler only becomes structural when the hot key holds
    // hundreds of thousands of rows)
    val nLsh = sys.env.getOrElse("SPARK_GRAFT_SKEW_N", "200000").toLong
    val nExact = sys.env.getOrElse("SPARK_GRAFT_SKEW_N_EXACT", "2000000").toLong
    val reps = sys.env.getOrElse("SPARK_GRAFT_SKEW_REPS", "3").toInt
    val spark = GraftSession.local(defaultCpus = 8)

    // materialize all corpora to parquet so every timed op pays the same
    // scan and none of the generation
    def gen(name: String, df: DataFrame): String = {
      val dir = s"target/skewbench/$name"
      df.write.mode("overwrite").parquet(dir)
      dir
    }
    val skewLsh = gen("skewed_lsh", DataGen.skewedDocuments(spark, nLsh, hotFrac = 0.2))
    val unifLsh = gen("uniform_lsh", DataGen.uniformDocuments(spark, nLsh))
    val skewEx = gen("skewed_exact", DataGen.skewedDocuments(spark, nExact, hotFrac = 0.2))
    val unifEx = gen("uniform_exact", DataGen.uniformDocuments(spark, nExact))

    def exactOps(docs: DataFrame): Seq[(String, () => Long)] = {
      val hashed = docs.withColumn("__h", md5(col("text").cast("binary")))
      Seq(
        "exact_dedup_engine" -> (() =>
          Dedup.exactDedup(hashed, Seq("__h"), Seq("doc_id")).count()),
        "exact_dedup_window" -> (() =>
          windowDedup(hashed, "__h", "doc_id").count()))
    }
    // top-k per group: the bounded-heap Aggregator vs the window-rank form
    // on the same hot-key corpus (one group = 20% of all rows)
    def topkOps(docs: DataFrame): Seq[(String, () => Long)] = {
      val keyed = docs.select(xxhash64(col("text")).as("g"),
        (col("doc_id") % 1000000L).as("o"), col("doc_id").as("p"))
      Seq(
        "topk_agg_engine" -> (() =>
          graft.ops.TopK.topKPerGroup(keyed, "g", col("o"), col("p"), 3).count()),
        "topk_window" -> (() => {
          import org.apache.spark.sql.expressions.Window
          val w = Window.partitionBy(col("g")).orderBy(col("o").desc, col("p"))
          keyed.withColumn("__rn", row_number().over(w))
            .filter(col("__rn") <= 3).count()
        }))
    }

    // D3 markers: narrow-winner join-back vs the window form it replaced
    // (same hot-key corpus — one key holds 20% of all rows)
    def markerOps(docs: DataFrame): Seq[(String, () => Long)] = {
      val hashed = docs.withColumn("__h", md5(col("text").cast("binary")))
      Seq(
        "markers_engine" -> (() =>
          Dedup.dedupMarkers(hashed, col("__h"), Seq(col("doc_id"))).count()),
        "markers_window" -> (() => {
          import org.apache.spark.sql.expressions.Window
          val w = Window.partitionBy(col("__h")).orderBy(col("doc_id"))
          hashed.withColumn("status",
            when(row_number().over(w) === 1, lit("SENT"))
              .otherwise(lit("SENT_OR_DUPLICATED"))).count()
        }))
    }
    // brute-force ANN ranking: 1 query vs the whole corpus — the shape
    // where the per-query window holds |corpus| rows in ONE task's sort
    // (VERDICT r6 item 1). Hash-derived 16-dim vectors, deterministic.
    def simOps(docs: DataFrame): Seq[(String, () => Long)] = {
      val vecs = docs.select(col("doc_id").as("vec_id"),
        expr("transform(sequence(1, 16), i -> " +
          "cast(pmod(xxhash64(doc_id * 31 + i), 1000) / 1000.0 as float))")
          .as("embedding"))
      val queries = vecs.filter(col("vec_id") === 0)
      Seq(
        "bruteforce_topk_engine" -> (() =>
          graft.ops.Similarity.bruteForceTopK(vecs, queries, k = 5).count()),
        "bruteforce_topk_window" -> (() => {
          import org.apache.spark.sql.expressions.Window
          val c = vecs.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
          val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
          val w = Window.partitionBy(col("query_id"))
            .orderBy(col("cos").desc, col("neighbor_id"))
          c.crossJoin(broadcast(q))
            .filter(col("neighbor_id") =!= col("query_id"))
            .withColumn("cos", graft.functions.VectorKit.cosine(col("cv"), col("qv")))
            .withColumn("__rk", row_number().over(w))
            .filter(col("__rk") <= 5).count()
        }))
    }

    def lshOps(docs: DataFrame): Seq[(String, () => Long)] = Seq(
      "minhash_candidates_capped" -> (() =>
        Dedup.minhashCandidatePairs(docs, "doc_id", "text",
          numHashes = 128, shingleLen = 5, bands = 16, oph = true).count()),
      "simhash_pairs_capped" -> (() =>
        Dedup.simhashNearDupPairs(docs, "doc_id", "text").count()))

    val cases =
      Seq(("skewed", nExact, exactOps(spark.read.parquet(skewEx))),
        ("uniform", nExact, exactOps(spark.read.parquet(unifEx))),
        ("skewed", nExact, topkOps(spark.read.parquet(skewEx))),
        ("uniform", nExact, topkOps(spark.read.parquet(unifEx))),
        ("skewed", nExact, markerOps(spark.read.parquet(skewEx))),
        ("skewed", nExact, simOps(spark.read.parquet(skewEx))),
        ("skewed", nLsh, lshOps(spark.read.parquet(skewLsh))),
        ("uniform", nLsh, lshOps(spark.read.parquet(unifLsh))))
    val results = for {
      (corpus, n, ops) <- cases
      (op, run) <- ops
    } yield {
      val sec = medianTime(reps)(run())
      println(f"| $corpus%-7s | $op%-26s | n=$n%-8d | $sec%8.2f s |")
      (s"${corpus}_$op", sec)
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    println(s"""{"metric":"skewbench","n_lsh":$nLsh,"n_exact":$nExact,"reps":$reps,"unit":"sec","queries":$qs}""")
    spark.stop()
  }
}
