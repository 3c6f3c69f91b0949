package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class NativeFuzzySpec extends SparkSpec {
  import spark.implicits._

  // fixture values pinned from DuckDB jaro_winkler_similarity /
  // damerau_levenshtein (the oracle engine), incl. the nonstandard corners:
  // both-empty → 0.0, window-0 transposition ('ab'/'ba') → 0.0, boost only
  // above 0.7, true-DL transposition-substring case ('CA'/'ABC' → 2).
  private val jwCases = Seq(
    ("martha", "marhta", 0.9611111111111111),
    ("dixon", "dicksonx", 0.8133333333333332),
    ("jellyfish", "smellyfish", 0.8962962962962964),
    ("duane", "dwayne", 0.8400000000000001),
    ("abc", "acb", 0.5555555555555555),
    ("ab", "ba", 0.0),
    ("a cat", "an abct", 0.8114285714285714),
    ("hello", "h", 0.76),
    ("kitten", "sitting", 0.746031746031746),
    ("abcde", "abcde", 1.0),
    ("", "a", 0.0),
    ("", "", 0.0))

  private val dlCases = Seq(
    ("CA", "ABC", 2), ("martha", "marhta", 1), ("abc", "acb", 1),
    ("ab", "ba", 1), ("kitten", "sitting", 3), ("duane", "dwayne", 2),
    ("", "abc", 3), ("abc", "", 3), ("", "", 0), ("same", "same", 0))

  test("jaroWinkler matches the DuckDB oracle on pinned cases") {
    val got = jwCases.map(c => (c._1, c._2)).toDF("l", "r")
      .select(NativeFuzzyKit.jaroWinkler(col("l"), col("r")))
      .as[Double].collect().toSeq
    got.zip(jwCases).foreach { case (g, (l, r, want)) =>
      assert(g == want, s"jw($l, $r)")
    }
  }

  test("damerauLevenshtein matches the DuckDB oracle on pinned cases") {
    val got = dlCases.map(c => (c._1, c._2)).toDF("l", "r")
      .select(NativeFuzzyKit.damerauLevenshtein(col("l"), col("r")))
      .as[Int].collect().toSeq
    got.zip(dlCases).foreach { case (g, (l, r, want)) =>
      assert(g == want, s"dl($l, $r)")
    }
  }

  test("damerauLevenshtein is never above plain Levenshtein, and strictly " +
      "below on an adjacent swap") {
    val df = Seq(("the", "hte"), ("form", "from"), ("sign", "sing"))
      .toDF("l", "r")
      .select(NativeFuzzyKit.damerauLevenshtein(col("l"), col("r")).as("dl"),
        levenshtein(col("l"), col("r")).as("lev"))
    df.as[(Int, Int)].collect().foreach { case (dl, lev) =>
      assert(dl == 1 && lev == 2)
    }
  }

  test("fuzzy expressions run inside whole-stage codegen (and the " +
      "generated code computes the same values as interpreted eval)") {
    // inputs derived from range's id so neither ConvertToLocalRelation nor
    // constant folding can pre-evaluate — collecting exercises doGenCode,
    // not nullSafeEval
    val df = spark.range(1)
      .select(
        concat(lit("marth"),
          lit("abc").substr((col("id") + 1).cast("int"), lit(1))).as("l"),
        lit("marhta").as("r"))
      .select(NativeFuzzyKit.jaroWinkler(col("l"), col("r")).as("jw"),
        NativeFuzzyKit.damerauLevenshtein(col("l"), col("r")).as("dl"))
    assert(df.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]))
    assert(df.as[(Double, Int)].head() == ((0.9611111111111111, 1)))
  }

  test("SQL registration: graft_jaro_winkler / graft_damerau_levenshtein") {
    val (jw, dl) = spark.sql(
      "SELECT graft_jaro_winkler('martha', 'marhta'), " +
        "graft_damerau_levenshtein('CA', 'ABC')")
      .as[(Double, Int)].head()
    assert(jw == 0.9611111111111111 && dl == 2)
  }
}
