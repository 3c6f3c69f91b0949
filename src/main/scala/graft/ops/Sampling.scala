package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deterministic sampling operators. Both are pure functions of row content
 * (md5-derived), so a re-run — or a different partitioning, executor count,
 * or retry — selects the SAME sample: the property that makes a sample
 * auditable and a pipeline resumable, which `rand()`-based sampling loses
 * the moment a task retries. (The reference repo samples only via mock-data
 * generators, `mediation/testing/NotificationsMockData.scala`; deterministic
 * corpus sampling is part of this engine's LLM-pipeline extension surface.)
 *
 * 100 TB posture:
 *  - [[stratifiedByHash]] is a pure FILTER — no shuffle, no state, fully
 *    codegen'd; the per-stratum rate map rides along as a literal CASE.
 *  - [[reservoirPerGroup]] is a k-bounded aggregate ([[TopK.TopKAgg]]):
 *    map-side partial collapse means a viral group's 10⁸ rows reduce to k
 *    per input partition BEFORE the exchange — no global or per-group sort,
 *    O(k) memory per group. This is the distributed equivalent of
 *    reservoir sampling with the random tape replaced by a hash, which is
 *    exactly "bottom-k sketch sampling" (Cohen & Kaplan, "Summarizing data
 *    using bottom-k sketches", PODC'07).
 */
object Sampling {

  /** First hex nibble of md5 of the id — uniform over '0'..'f', shared
    * verbatim by DuckDB (`substr(md5(x),1,1)`), so gates replay exactly. */
  private def hashNibble(idCol: Column): Column =
    substring(md5(idCol.cast("string")), 1, 1)

  /**
   * Stratified sampling by hash threshold: keep a row iff the first hex
   * digit of `md5(id)` is below the stratum's threshold character, so a
   * threshold of `"8"` keeps ~8/16 = 50%, `"4"` ~25%, `"1"` ~6.25%.
   * Strata absent from `thresholds` use `default`. Nested samples come
   * free: the `"4"` sample is a strict subset of the `"8"` sample (the
   * filter is a prefix-ordered cut), so rate changes never resample from
   * scratch — the property coordinated/consistent sampling papers call
   * "sample consistency".
   */
  def stratifiedByHash(df: DataFrame, stratumCol: String, idCol: String,
      thresholds: Map[String, String], default: String): DataFrame = {
    require((thresholds.values.toSeq :+ default).forall(t =>
      t.length == 1 && ((t >= "0" && t <= "9") || (t >= "a" && t <= "g"))),
      "thresholds must be single hex-range chars ('0'..'g'; 'g' keeps all)")
    val cut = thresholds.foldLeft(lit(default)) { case (acc, (k, v)) =>
      when(col(stratumCol) === lit(k), lit(v)).otherwise(acc)
    }
    df.filter(hashNibble(col(idCol)) < cut)
  }

  /**
   * Deterministic reservoir sample of `k` rows per group: per row a 60-bit
   * priority from `md5(group|id)`, per group the k SMALLEST priorities win
   * (bottom-k). Output `(group, id, prio, rnk)`, rnk 1..k by
   * (prio asc, id asc).
   *
   * Implementation: [[TopK.topKPerGroup]] on the NEGATED priority — the
   * k-bounded typed Aggregator, so the sample is computed with one
   * map-side-combined shuffle and O(k) state per group (no window sort; a
   * hot group never owns a single-task sort buffer — see the skew notes
   * on [[TopK]]).
   */
  def reservoirPerGroup(df: DataFrame, groupCol: String, idCol: String,
      k: Int): DataFrame = {
    val prio = conv(
      substring(md5(concat(col(groupCol), lit("|"), col(idCol).cast("string"))), 1, 15),
      16, 10).cast("long")
    // the id rides the long-pair TopK buffer, so it must be integral: a
    // non-castable id (e.g. "doc-17") would otherwise either silently
    // become a NULL payload (non-ANSI) or die in an opaque cast error
    // (ANSI). try_cast + in-plan raise_error guard — fails fast on the
    // first bad row with a clear message, no extra action (ADVICE r6).
    val idLong = expr(s"try_cast(`$idCol` AS LONG)")
    val projected = df.select(col(groupCol), idLong.as("__id"),
      prio.as("__prio"),
      when(col(idCol).isNotNull && idLong.isNull, raise_error(concat(
        lit(s"reservoirPerGroup: idCol '$idCol' must be integral-castable " +
          "(it rides the k-bounded long-pair buffer), got '"),
        col(idCol).cast("string"), lit("'")))).as("__guard"))
      .filter(col("__guard").isNull).drop("__guard")
    TopK.topKPerGroup(projected, groupCol, -col("__prio"), col("__id"), k)
      .select(col("group").as(groupCol), col("payload").as(idCol),
        (-col("ord")).as("prio"), col("rank").as("rnk"))
  }
}
