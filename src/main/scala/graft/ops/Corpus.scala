package graft.ops

import graft.functions.TextKit
import graft.spark.LocalCheckpoint
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Corpus-management operators for training-data pipelines: deterministic
 * splitting (coarse and 1/256-cell), benchmark decontamination, vocabulary
 * statistics, and sequence packing — the steps between "deduplicated
 * documents" and "training shards" that every LLM data pipeline runs at
 * full-corpus scale (composed end-to-end in
 * [[graft.apps.CorpusPrepApp]]).
 *
 * Scale posture: splitting is a pure per-row expression (zero shuffle);
 * decontamination broadcasts the benchmark n-gram set (benchmark suites are
 * MBs against a 100 TB corpus) so the corpus side is one scan + one
 * broadcast-join + one hash-shuffle on doc id; packing windows are
 * partitioned by shard (never a global single-partition window).
 */
object Corpus {

  /**
   * Deterministic content-hash split assignment: the first hex character of
   * md5(text) buckets every document into 16 stable cells, carved into
   * train (0–c, 13/16), val (d–e, 2/16), test (f, 1/16). Content-based (not
   * id-based) so re-crawled copies of the same text always land in the same
   * split — the property that prevents test-set leakage through duplicates.
   * A pure codegen'd expression: at 100 TB this is a free rider on any
   * existing scan of the text column.
   */
  def splitLabel(text: Column): Column = {
    val h = substring(md5(text.cast("binary")), 1, 1)
    when(h < "d", "train").when(h < "f", "val").otherwise("test")
  }

  /**
   * Finer-grained (1/256) content-hash split for production carves like
   * 252/2/2 (≈98.4/0.8/0.8%): the first TWO hex chars of md5(text) index
   * 256 cells; `trainCells` go to train, the next `valCells` to val, the
   * rest to test. Lexicographic comparison of two lowercase hex chars is
   * numeric comparison, so the carve is exact. Same leakage-prevention
   * property as [[splitLabel]]: duplicate texts share a cell.
   */
  def splitLabelFine(text: Column, trainCells: Int, valCells: Int): Column = {
    require(trainCells >= 0 && valCells >= 0 && trainCells + valCells <= 256)
    // a boundary of 256 would format as the 3-char "100", which breaks the
    // two-char lexicographic compare — "zz" sorts above every hex pair
    def hx(n: Int): String = if (n >= 256) "zz" else f"$n%02x"
    val h = substring(md5(text.cast("binary")), 1, 2)
    when(h < lit(hx(trainCells)), "train")
      .when(h < lit(hx(trainCells + valCells)), "val")
      .otherwise("test")
  }

  /**
   * Near-dup-aware split assignment — closes the leakage channel
   * [[splitLabel]] alone cannot: content-hash splitting co-locates EXACT
   * duplicates, but two near-duplicate documents hash differently and can
   * straddle train/test. Given the near-dup cluster map (`clusters` =
   * (idCol, canonical) from [[Dedup.nearDupClusters]]), every document is
   * assigned the split of its cluster CANONICAL's text (its own text when
   * unclustered) — so a whole near-dup family lands in one split, always.
   *
   * Scale posture: two hash joins on the id key (cluster map is the
   * near-dup subset — small by definition, AQE broadcasts it; the
   * canonical-text fetch is id-equi-join against the corpus itself) plus
   * the scan-speed hash carve. No ordering, no window.
   */
  def clusterAwareSplit(df: DataFrame, idCol: String, textCol: String,
      clusters: DataFrame): DataFrame = {
    val canon = clusters.select(col(idCol).as("__m"), col("canonical"))
    val withCanon = df.select(col(idCol), col(textCol))
      .join(canon, col(idCol) === col("__m"), "left")
      .select(col(idCol), coalesce(col("canonical"), col(idCol)).as("__canon"))
    val canonText = df.select(col(idCol).as("__canon"), col(textCol).as("__ctext"))
    withCanon.join(canonText, Seq("__canon"))
      .select(col(idCol), splitLabel(col("__ctext")).as("split"))
  }

  private def hex4(n: Int): String = if (n >= 65536) "zzzz" else f"$n%04x"

  /** Keep-decision for a deterministic content-hash Bernoulli sample:
    * true iff the document's 16-bit md5 cell (of `salt` + text) falls
    * below `round(fraction·65536)`. Content-based and engine-portable
    * (lexicographic compare of fixed-width lowercase hex = numeric
    * compare), so a sample is reproducible across runs AND duplicate
    * texts sample identically — a re-crawled copy can never appear in a
    * sample its byte-identical twin was excluded from. Distinct `salt`s
    * give independent samples. Granularity 1/65536.
    */
  def sampleKeep(text: Column, fraction: Double, salt: String = ""): Column = {
    require(fraction >= 0.0 && fraction <= 1.0, "fraction must be in [0,1]")
    val cells = math.round(fraction * 65536).toInt
    substring(md5(concat(lit(salt), text).cast("binary")), 1, 4) < lit(hex4(cells))
  }

  /** Filter `df` to a deterministic `fraction` sample (see [[sampleKeep]]).
    * Pure per-row expression — a free rider on any scan, no shuffle.
    */
  def deterministicSample(df: DataFrame, textCol: String, fraction: Double,
      salt: String = ""): DataFrame =
    df.filter(sampleKeep(col(textCol), fraction, salt))

  /**
   * Training-mixture sampling: each source is re-weighted by its mixture
   * weight — the step that turns "deduplicated corpus" into "training
   * distribution" (code ×2.5, low-quality crawl ×0.1, …). A weight `w`
   * emits `floor(w)` copies of every document plus one more for the
   * deterministic `w - floor(w)` content-hash fraction ([[sampleKeep]]),
   * so expected copies = w exactly, decisions are reproducible, and
   * duplicate texts replicate identically. Output rows carry a `copy`
   * index (1..n) so downstream shuffling/packing can spread epochs.
   *
   * Pure per-row expression + `explode` (weights are plan-time constants —
   * the per-source thresholds fold into the codegen'd CASE); documents
   * whose source draws zero copies exit via an empty-array explode. No
   * shuffle, no UDF; at 100 TB this runs at scan speed.
   */
  def mixtureSample(df: DataFrame, sourceCol: String, textCol: String,
      weights: Seq[(String, Double)], defaultWeight: Double = 0.0,
      salt: String = "", copyName: String = "copy"): DataFrame = {
    require((defaultWeight +: weights.map(_._2)).forall(_ >= 0.0))
    val h = substring(md5(concat(lit(salt), col(textCol)).cast("binary")), 1, 4)
    def copiesFor(w: Double): Column = {
      val fracCells = math.round((w - math.floor(w)) * 65536).toInt
      lit(math.floor(w).toLong) +
        when(h < lit(hex4(fracCells)), 1L).otherwise(0L)
    }
    val n = weights.foldRight(copiesFor(defaultWeight)) {
      case ((s, w), acc) => when(col(sourceCol) === s, copiesFor(w)).otherwise(acc)
    }
    // sequence(1, 0) would count DOWN ([1, 0]); empty array explodes to
    // zero rows, which is the drop path
    df.withColumn(copyName,
      explode(when(n > 0, sequence(lit(1L), n))
        .otherwise(array().cast("array<bigint>"))))
  }

  /**
   * √-temperature mixture sampling — the standard head-source rebalancing
   * recipe (multilingual/web corpora sample source s with probability
   * ∝ n_s^α; α = 1/2 is the common setting and the one with an exact
   * integer derivation): expected output size = `targetPermille`/1000 of
   * the corpus, split across sources so that p_s ∝ √n_s. Per-source
   * expected copies w_s = T·p_s/n_s = T·10¹²/(S·r_s) with r_s =
   * isqrt(n_s·10¹²) (√ quantized to 10⁻⁶) and S = Σr_s — derived entirely
   * in arbitrary-precision INTEGER arithmetic and quantized to the same
   * 1/65536 content-hash cells as [[mixtureSample]], so the whole
   * derivation replays bit-for-bit in any engine (no cross-engine pow/
   * rounding hazard) and the sample is deterministic in the text content.
   *
   * The per-source census collects a KB driver model (sources are a
   * registry-bounded dimension, not data-scale) — one count aggregate,
   * then the sampler is the mixtureSample scan shape: per-row md5 cell +
   * explode, no shuffle.
   */
  def temperatureMixture(df: DataFrame, sourceCol: String, textCol: String,
      targetPermille: Int, salt: String = "", copyName: String = "copy")
      : DataFrame = {
    require(targetPermille > 0, "targetPermille must be positive")
    val counts = df.groupBy(col(sourceCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    if (counts.isEmpty) return df.withColumn(copyName, lit(1L)).limit(0)
    def isqrt(x: BigInt): BigInt = { // Newton, exact floor(√x)
      require(x >= 0)
      if (x < 2) x else {
        var g = BigInt(1) << ((x.bitLength + 1) / 2)
        var prev = BigInt(-1)
        while (g != prev) { prev = g; g = (g + x / g) >> 1 }
        while (g * g > x) g -= 1
        while ((g + 1) * (g + 1) <= x) g += 1
        g
      }
    }
    val e12 = BigInt(10).pow(12)
    val rs = counts.map { case (s, n) => (s, isqrt(BigInt(n) * e12)) }
    val bigS = rs.map(_._2).sum
    val total = counts.map(_._2).map(BigInt(_)).sum
    val num = BigInt(targetPermille) * total * e12
    val h = substring(md5(concat(lit(salt), col(textCol)).cast("binary")), 1, 4)
    val copies = rs.foldRight(lit(0L): Column) { case ((s, r), acc) =>
      val den = BigInt(1000) * bigS * r
      val whole = (num / den).toLong
      val cells = (BigInt(65536) * (num % den) / den).toInt
      when(col(sourceCol) === s,
        lit(whole) + when(h < lit(hex4(cells)), 1L).otherwise(0L)).otherwise(acc)
    }
    df.withColumn(copyName,
      explode(when(copies > 0, sequence(lit(1L), copies))
        .otherwise(array().cast("array<bigint>"))))
  }

  /**
   * Cross-document line deduplication (boilerplate removal): drop every
   * line whose exact text appears in at least `minDocs` distinct documents
   * — the CCNet/RefinedWeb-style pass that strips navigation chrome,
   * cookie banners and licence footers which survive document-level dedup
   * because the documents CONTAINING them differ. Returns one row per
   * input document: `clean_text` (surviving lines in original order; null
   * when no line survives), `lines_kept`, `lines_dropped`.
   *
   * Scale posture: explode is map-side; line doc-frequency is a
   * distinct-then-count (both shuffles partially aggregated — the hot key
   * here is the empty line in billions of documents, and the (line, doc)
   * distinct collapses it per-map-task before any shuffle); the dup-line
   * set is tiny relative to the corpus (boilerplate by definition) so the
   * marker join broadcasts under AQE; reassembly is one hash-shuffle on
   * doc id with collect_list — bounded by a document's own line count,
   * never by corpus size. No window functions, no global sort.
   */
  def dedupLines(df: DataFrame, idCol: String, textCol: String,
      minDocs: Int, outCol: String = "clean_text"): DataFrame = {
    require(minDocs >= 2, "minDocs < 2 would drop every line")
    val lines = df.select(col(idCol),
      posexplode(split(col(textCol), "\n", -1)).as(Seq("pos", "line")))
    val dup = lines.select(col("line"), col(idCol)).distinct()
      .groupBy("line").agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") >= minDocs)
      .select(col("line"), lit(true).as("dup"))
    val marked = lines.join(dup, Seq("line"), "left")
      .withColumn("dup", coalesce(col("dup"), lit(false)))
    // collect_list skips nulls, so when(!dup, …) keeps survivors only;
    // array_sort on struct(pos, line) restores document order
    val kept = array_sort(collect_list(
      when(!col("dup"), struct(col("pos"), col("line")))))
    marked.groupBy(idCol).agg(
      when(size(kept) > 0,
        array_join(transform(kept, s => s("line")), "\n")).as(outCol),
      sum(when(!col("dup"), 1L).otherwise(0L)).as("lines_kept"),
      sum(when(col("dup"), 1L).otherwise(0L)).as("lines_dropped"))
  }

  /**
   * Benchmark decontamination: for each corpus document, the number of its
   * distinct character `n`-grams that appear anywhere in the benchmark set
   * (the standard n-gram-overlap contamination test for eval suites).
   * Documents with zero overlap are absent from the output — filter the
   * corpus with an anti-join on the result to decontaminate.
   *
   * The benchmark's distinct n-gram set is broadcast — the contract is the
   * usual one (eval suites are small); the corpus side stays a single scan
   * whose exploded n-grams are hashed 64-bit ([[TextKit.ngramHashSet]]), so
   * the broadcast carries longs, not strings, and the per-doc overlap count
   * is one hash-shuffle on doc id.
   */
  def contaminationCounts(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 8): DataFrame = {
    // sketching is CPU-bound: spread both sides across the session's
    // parallelism first (a single-row-group parquet scan is 1 partition;
    // on a real cluster the scan is already split and this is a no-op-sized
    // shuffle relative to the shingle pass)
    val par = corpus.sparkSession.sparkContext.defaultParallelism
    val benchGrams = benchmark.repartition(par)
      .select(explode(TextKit.ngramHashSet(col(textCol), n)).as("g"))
      .distinct()
    corpus.repartition(par)
      .select(col(idCol), explode(TextKit.ngramHashSet(col(textCol), n)).as("g"))
      .join(broadcast(benchGrams), Seq("g"))
      // ngramHashSet is distinct per document, so the per-doc row count IS
      // the distinct-shared-gram count — no second distinct needed
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared"))
  }

  /**
   * n-gram NOVELTY scoring — the dual of [[contaminationCounts]], used for
   * data selection and crawl freshness: for every corpus document, the
   * fraction (ppm) of its distinct character `n`-grams NOT present in a
   * reference corpus, plus the raw counts. Unlike contaminationCounts this
   * keeps every document (zero-overlap docs are the most novel, not
   * absent), so it left-joins the shared-gram census back onto a per-doc
   * gram count that the sketch already carries.
   *
   * Scale posture mirrors contaminationCounts: the reference's distinct
   * gram set broadcasts as 64-bit longs (data-selection references are
   * benchmark/high-quality sets, small by contract); the corpus side is
   * one scan, one explode, one hash-shuffle on doc id. Docless of the
   * reference size, the per-doc output is two longs and a ppm.
   */
  def noveltyScores(corpus: DataFrame, reference: DataFrame,
      idCol: String, textCol: String, n: Int = 8): DataFrame = {
    val par = corpus.sparkSession.sparkContext.defaultParallelism
    val refGrams = reference.repartition(par)
      .select(explode(TextKit.ngramHashSet(col(textCol), n)).as("g"))
      .distinct()
    val sketched = corpus.repartition(par)
      .select(col(idCol), TextKit.ngramHashSet(col(textCol), n).as("gs"))
    val shared = sketched
      .select(col(idCol), explode(col("gs")).as("g"))
      .join(broadcast(refGrams), Seq("g"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared"))
    sketched.select(col(idCol), size(col("gs")).cast("long").as("n_grams"))
      .join(shared, Seq(idCol), "left")
      .na.fill(0L, Seq("n_shared"))
      .withColumn("novelty_ppm",
        when(col("n_grams") === 0L, 0L).otherwise(
          expr("(n_grams - n_shared) * 1000000 div n_grams")))
  }

  /**
   * Corpus vocabulary statistics — the aggregation a tokenizer-training /
   * vocab-building pass runs: per token, the number of documents containing
   * it and its total occurrence count. Two shuffles, both with map-side
   * partial aggregation: (doc, token) → tf first (so the second shuffle
   * carries one row per distinct (doc, token), not one per occurrence and
   * never needs a count-distinct), then token → (doc_freq, total). At
   * 100 TB the first shuffle is the big one and is exactly
   * corpus-token-cardinality-bound — the minimum any exact vocab count
   * needs.
   */
  def vocabStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("__doc"),
        explode(TextKit.tokens(col(textCol))).as("token"))
      .groupBy(col("__doc"), col("token"))
      .agg(count(lit(1)).as("__tf"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("doc_freq"), sum(col("__tf")).as("total_count"))
  }

  /**
   * Explode+aggregate twin of [[TextKit.repetitionStats]]'s word-level
   * stats for LONG documents (≳10³ words): the expression form's per-word
   * occurrence count is O(words × distinct words) per document, where this
   * shape is occurrence-linear — explode to (doc, word), partial-agg count
   * per (doc, word), then one per-doc aggregate. Two hash shuffles, both
   * map-side combined (same shape as [[vocabStats]]); a hot viral word
   * inside one document collapses in the first partial aggregate.
   * Output: idCol, n_words, dup_word_frac, top_word_frac. Documents with
   * zero words produce no row (explode drops them) — left-join and
   * coalesce to 0 if completeness matters.
   */
  def wordRepetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol), explode(TextKit.tokens(col(textCol))).as("__w"))
      .groupBy(col(idCol), col("__w"))
      .agg(count(lit(1)).as("__tf"))
      .groupBy(col(idCol))
      .agg(
        sum(col("__tf")).as("n_words"),
        ((sum(col("__tf")) - count(lit(1))).cast("double") /
          sum(col("__tf")).cast("double")).as("dup_word_frac"),
        (max(col("__tf")).cast("double") / sum(col("__tf")).cast("double"))
          .as("top_word_frac"))
  }

  /**
   * Exact substring-span duplication statistics (the ExactSubstr signal of
   * Lee et al. 2022, "Deduplicating Training Data Makes Language Models
   * Better", at word granularity): for every document, how many of its
   * distinct `k`-word spans also appear in at least `minDocs - 1` OTHER
   * documents. Line dedup ([[dedupLines]]) only catches boilerplate that is
   * line-aligned; span stats catch quotations, syndicated passages and
   * template prose that flow across line breaks. Filter or trim on
   * `dup_span_ppm` downstream.
   *
   * Output: one row per input document — `n_spans` (distinct k-word spans),
   * `dup_spans`, `dup_span_ppm` (= 10⁶·dup/n, 0 when the document has fewer
   * than `k` words).
   *
   * Scale posture: spans are hashed 64-bit before the shuffle (longs, not
   * k-word strings); per-doc `array_distinct` runs map-side so the
   * doc-frequency groupBy sees at most one row per (doc, span) and its
   * partial aggregate collapses hot spans per map task; the dup-span set is
   * boilerplate-sized, so the count-back join broadcasts under AQE. The
   * left join restores <k-word documents that the explode dropped.
   */
  def spanDedupStats(df: DataFrame, idCol: String, textCol: String,
      k: Int, minDocs: Int = 2): DataFrame = {
    require(k >= 2, "k < 2 is word-level — use vocabStats/wordRepetitionStats")
    require(minDocs >= 2, "minDocs < 2 marks every span duplicated")
    val toks = TextKit.tokens(col(textCol))
    val spans = when(size(toks) >= k,
      array_distinct(transform(sequence(lit(1), size(toks) - k + 1),
        i => xxhash64(array_join(slice(toks, i, lit(k)), " ")))))
      .otherwise(array().cast("array<bigint>"))
    val docSpans = df
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol), explode(spans).as("__s"))
    val dup = docSpans.groupBy(col("__s"))
      .agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("__s"))
    val dupCounts = docSpans.join(dup, Seq("__s"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("dup_spans"))
    df.select(col(idCol), size(spans).cast("long").as("n_spans"))
      .join(dupCounts, Seq(idCol), "left")
      .select(col(idCol), col("n_spans"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"),
        when(col("n_spans") > 0,
          round(coalesce(col("dup_spans"), lit(0L)).cast("double") /
            col("n_spans").cast("double") * 1e6).cast("long"))
          .otherwise(0L).as("dup_span_ppm"))
  }

  /**
   * Exact substring-span REMOVAL — the rewrite half of the ExactSubstr
   * dedup of Lee et al. 2022 (whose census is [[spanDedupStats]]): every
   * `k`-word span whose exact text occurs at least `minCount` times across
   * the corpus keeps its globally-first occurrence (smallest (doc, start))
   * and every OTHER occurrence has its k word positions deleted from its
   * document. A word position covered by any such non-first duplicated-span
   * occurrence is dropped even if some other span's first occurrence also
   * covers it — the deterministic resolution of overlapping spans. Output:
   * one row per input document — `clean_text` (surviving words in original
   * order, null when none survive), `words_kept`, `words_dropped`.
   *
   * Scale posture: span occurrences are hashed 64-bit before any shuffle
   * (longs, not k-word strings); the first-occurrence winner is a
   * `min(struct(doc, pos))` aggregate over a NARROW (long, int) struct —
   * partial-agg capable, so a boilerplate span occurring 10⁸ times
   * collapses per map task instead of sorting in one reducer; the
   * duplicated-occurrence set is boilerplate-sized, so its join back to
   * occurrences broadcasts under AQE; coverage expansion is a k× explode of
   * DROPPED occurrences only, collapsed by a (doc, pos) distinct with
   * partial aggregation; reassembly is one hash-shuffle on doc id, bounded
   * by a document's own word count. No global ordering anywhere.
   */
  def removeDupSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int, minCount: Int = 2, outCol: String = "clean_text"): DataFrame = {
    require(k >= 2, "k < 2 removes single words — use dedupLines or filters")
    require(minCount >= 2, "minCount < 2 would delete every span's text")
    val par = df.sparkSession.sparkContext.defaultParallelism
    val toks = TextKit.tokens(col(textCol))
    // 0-based word positions; documents with no token contribute no rows
    // and are restored by the final left join
    val words = df.repartition(par)
      .select(col(idCol), posexplode(toks).as(Seq("__p", "__w")))
    val spanHashes = transform(sequence(lit(1), size(col("__tk")) - k + 1),
      i => xxhash64(array_join(slice(col("__tk"), i, lit(k)), " ")))
    val occ = df.repartition(par)
      .select(col(idCol), toks.as("__tk"))
      .filter(size(col("__tk")) >= k)
      .select(col(idCol), posexplode(spanHashes).as(Seq("__p", "__s")))
    val firsts = occ.groupBy(col("__s"))
      .agg(count(lit(1)).as("__n"),
        min(struct(col(idCol), col("__p"))).as("__f"))
      .filter(col("__n") >= minCount)
      .select(col("__s"), col("__f"))
    val dupOcc = occ.join(firsts, Seq("__s"))
      .filter(!(col(idCol) === col("__f").getField(idCol) &&
        col("__p") === col("__f").getField("__p")))
    val covered = dupOcc
      .select(col(idCol), explode(sequence(col("__p"), col("__p") + (k - 1)))
        .as("__p"))
      .distinct()
      .withColumn("__c", lit(true))
    val marked = words.join(covered, Seq(idCol, "__p"), "left")
    val kept = array_sort(collect_list(
      when(col("__c").isNull, struct(col("__p"), col("__w")))))
    val rebuilt = marked.groupBy(col(idCol)).agg(
      when(size(kept) > 0,
        array_join(transform(kept, s => s("__w")), " ")).as(outCol),
      sum(when(col("__c").isNull, 1L).otherwise(0L)).as("words_kept"),
      sum(when(col("__c").isNotNull, 1L).otherwise(0L)).as("words_dropped"))
    df.select(col(idCol)).join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col(outCol),
        coalesce(col("words_kept"), lit(0L)).as("words_kept"),
        coalesce(col("words_dropped"), lit(0L)).as("words_dropped"))
  }

  /**
   * Corpus-trained unigram surprisal scoring — the shape of a CCNet-style
   * model-based quality filter: train a unigram LM on the corpus itself,
   * score every document by its total/mean token surprisal, and filter the
   * tails (very low surprisal = degenerate repetition, very high = junk the
   * model has never seen). Surprisal is measured in whole bits via exact
   * integer log2 (`bitlen(N) - bitlen(count)` where `bitlen` = length of
   * the binary expansion): every intermediate is integer arithmetic, so the
   * scores are bit-for-bit reproducible across engines and runs — no
   * floating-point `ln` whose last ulp differs per libm.
   *
   * Output: one row per document with ≥1 token — `n_tokens`,
   * `surprisal_bits` (sum over token occurrences), `mean_centibits`
   * (= ⌊100·surprisal/n⌋, integer division).
   *
   * Scale posture: the vocab build is [[vocabStats]]'s first-shuffle shape
   * (map-side combined, occurrence-cardinality-bound); the corpus total is
   * a single scalar broadcast as a literal-free 1-row cross join; scoring
   * re-joins (doc, token, tf) — one distinct (doc,token) row each, never
   * one per occurrence — against the vocab on the token hash shuffle, and
   * AQE broadcasts the vocab side when it fits.
   */
  def unigramSurprisal(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    def bitlen(c: Column): Column = length(bin(c)).cast("long")
    val docTf = df
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol), explode(TextKit.tokens(col(textCol))).as("__w"))
      .groupBy(col(idCol), col("__w"))
      .agg(count(lit(1)).as("__tf"))
    val vocab = docTf.groupBy(col("__w")).agg(sum(col("__tf")).as("__cnt"))
    val total = vocab.agg(sum(col("__cnt")).as("__n"))
    docTf.join(vocab, Seq("__w"))
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(
        sum(col("__tf")).as("n_tokens"),
        sum(col("__tf") * (bitlen(col("__n")) - bitlen(col("__cnt"))))
          .as("surprisal_bits"))
      .withColumn("mean_centibits",
        expr("(surprisal_bits * 100) div n_tokens"))
  }

  /**
   * TF-IDF keyword extraction — per document, the `topK` tokens ranked by
   * tf·idf, the standard lexical summarization/tagging pass (and the
   * classical sparse-retrieval twin of the dense ANN surface). IDF uses the
   * same EXACT integer-bits log2 as [[unigramSurprisal]]
   * (`bitlen(D) − bitlen(doc_freq)` with D = documents containing ≥1
   * token), so scores are integers and bit-for-bit reproducible across
   * engines. Ties rank lexicographically by token — a total order, since a
   * token appears once per document. Output: (idCol, rank 1..topK, token,
   * tf, score), fewer rows when a document has fewer distinct tokens.
   *
   * Scale posture: the (doc, token) and token aggregations are
   * [[vocabStats]]'s map-side-combined shapes; D is a 1-row aggregate
   * broadcast by cross join; the scoring join shuffles one row per
   * DISTINCT (doc, token); the only window partitions by document and is
   * bounded by a document's own vocabulary — never by corpus size.
   */
  def tfidfKeywords(df: DataFrame, idCol: String, textCol: String,
      topK: Int = 3): DataFrame = {
    require(topK >= 1, "topK must be positive")
    import org.apache.spark.sql.expressions.Window
    def bitlen(c: Column): Column = length(bin(c)).cast("long")
    val docTf = df
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol), explode(TextKit.tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val docFreq = docTf.groupBy(col("token")).agg(count(lit(1)).as("__df"))
    val nDocs = docTf.select(col(idCol)).distinct()
      .agg(count(lit(1)).as("__nd"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("token"))
    docTf.join(docFreq, Seq("token"))
      .crossJoin(broadcast(nDocs))
      .select(col(idCol), col("token"), col("tf"),
        (col("tf") * (bitlen(col("__nd")) - bitlen(col("__df")))).as("score"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col(idCol), col("rank"), col("token"), col("tf"), col("score"))
  }

  /**
   * Composite Gopher-style document filter (Rae et al. 2021, Table A1
   * shape): evaluates the standard keep/drop signals — length bounds,
   * repeated-line and dominant-word fractions, composite quality score —
   * and returns per document a `keep` verdict plus a deterministic
   * `reasons` string (sorted failure codes, comma-joined; empty when kept).
   * This is the decision step the signal queries (`t_repetition`,
   * `t_quality_score`) feed in a production pipeline; emitting reasons
   * rather than just a boolean is what makes filter-rate dashboards and
   * ablations possible.
   *
   * Pure per-row expressions over [[TextKit.repetitionStats]] /
   * [[TextKit.qualityScore]] — zero shuffle, scan-speed at 100 TB.
   */
  /** Thresholds for [[gopherReasons]]/[[gopherKeep]]/[[gopherFilter]]. */
  case class GopherThresholds(
      minWords: Long = 10L, maxWords: Long = 100000L,
      maxDupLineFrac: Double = 0.30, maxTopWordFrac: Double = 0.20,
      minQualityBps: Long = 4000L)

  /** Sorted comma-joined failure-reason codes for a text column (empty
    * string = document passes every check). Pure expression.
    */
  def gopherReasons(text: Column, t: GopherThresholds): Column = {
    val st = TextKit.repetitionStats(text)
    val qualityBps = round(TextKit.qualityScore(text) * 1e4).cast("long")
    val checks = Seq(
      ("too_short", st.getField("n_words") < t.minWords),
      ("too_long", st.getField("n_words") > t.maxWords),
      ("rep_line", st.getField("dup_line_frac") > t.maxDupLineFrac),
      ("rep_word", st.getField("top_word_frac") > t.maxTopWordFrac),
      ("low_quality", qualityBps < t.minQualityBps))
    array_join(array_sort(filter(
      array(checks.map { case (code, cond) =>
        when(cond, lit(code)).otherwise(lit(null).cast("string"))
      }: _*), r => r.isNotNull)), ",")
  }

  /** Boolean keep-verdict twin of [[gopherReasons]] — a bare filter
    * predicate for pipelines that don't need the reason codes
    * (e.g. [[graft.apps.CorpusPrepApp]]'s quality stage).
    */
  def gopherKeep(text: Column, t: GopherThresholds = GopherThresholds()): Column =
    gopherReasons(text, t) === ""

  def gopherFilter(df: DataFrame, idCol: String, textCol: String,
      minWords: Long = 10L, maxWords: Long = 100000L,
      maxDupLineFrac: Double = 0.30, maxTopWordFrac: Double = 0.20,
      minQualityBps: Long = 4000L): DataFrame = {
    val reasons = gopherReasons(col(textCol), GopherThresholds(
      minWords, maxWords, maxDupLineFrac, maxTopWordFrac, minQualityBps))
    df.select(col(idCol), (reasons === "").as("keep"), reasons.as("reasons"))
  }

  /**
   * BPE-pair statistics — the kernel of byte-pair-encoding tokenizer
   * training: the corpus-wide frequency of every adjacent character pair
   * inside whitespace tokens (the counts whose argmax becomes the next
   * merge rule). Computed the way BPE trainers actually do it: aggregate
   * the word-frequency dictionary FIRST ([[vocabStats]]'s first-shuffle
   * shape), then enumerate pairs per DISTINCT token weighted by its count —
   * pair work is distinct-token-bound, not occurrence-bound, which at
   * 100 TB is the difference between touching ~10⁶ vocabulary entries and
   * ~10¹³ token occurrences. Both shuffles are map-side combined.
   */
  def bpePairStats(df: DataFrame, textCol: String): DataFrame = {
    val vocab = df
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(explode(TextKit.tokens(col(textCol))).as("__tok"))
      .groupBy(col("__tok")).agg(count(lit(1)).as("__cnt"))
    val chars = split(col("__tok"), "")
    val pairs = when(length(col("__tok")) >= 2,
      transform(sequence(lit(1), length(col("__tok")) - 1),
        i => concat(element_at(chars, i), lit(" "), element_at(chars, i + 1))))
      .otherwise(array().cast("array<string>"))
    vocab.select(explode(pairs).as("pair"), col("__cnt"))
      .groupBy(col("pair")).agg(sum(col("__cnt")).as("pair_count"))
  }

  /**
   * Corpus-relative quantile gating: keep the documents whose integer
   * score is at or above the corpus q-quantile (inverted-CDF discrete
   * quantile: the smallest score whose cumulative count reaches
   * ceil(q·n)) — "drop the worst 40% by quality" without anyone choosing
   * an absolute threshold.
   *
   * The scale trick: the quantile is computed over the score HISTOGRAM,
   * not the corpus — an integer score (e.g. basis points) has a
   * domain-bounded histogram (≤ 10001 rows for bps), so the one global
   * ordering in the plan is over a KB-sized relation regardless of corpus
   * size, and the corpus itself is touched by exactly (a) the
   * map-side-combined histogram count and (b) a scan-speed filter against
   * the broadcast 1-row threshold. No driver collect, no corpus sort, no
   * interpolated percentile (discrete = exact integer parity across
   * engines).
   */
  def quantileGate(df: DataFrame, scoreCol: Column, q: Double): DataFrame = {
    require(q > 0.0 && q < 1.0, "q must be in (0,1)")
    import org.apache.spark.sql.expressions.Window
    val scored = df.withColumn("__gate_s", scoreCol)
    val hist = scored.groupBy(col("__gate_s")).agg(count(lit(1)).as("__c"))
    val cum = hist.withColumn("__cum",
      sum(col("__c")).over(Window.orderBy(col("__gate_s"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = hist.agg(sum(col("__c")).as("__n"))
    val thr = cum.crossJoin(broadcast(tot))
      .filter(col("__cum") >= ceil(col("__n") * q))
      .agg(min(col("__gate_s")).as("__thr"))
    scored.crossJoin(broadcast(thr))
      .filter(col("__gate_s") >= col("__thr"))
      .drop("__gate_s", "__thr")
  }

  /**
   * Overlapping token-window chunking — the embedding/RAG preparation step
   * that turns documents into bounded-length, stride-overlapped passages.
   * Chunk starts are 0, stride, 2·stride, … with stride = chunkTokens −
   * overlapTokens, while start < n − overlap (so every chunk contributes at
   * least one new token; a doc shorter than the overlap yields exactly its
   * single whole-doc chunk). Pure per-row expressions — tokenize, generate
   * starts, slice, rejoin — zero shuffle, a free rider on any text scan at
   * 100 TB; the ~chunk/stride× row amplification happens map-side.
   */
  def chunkText(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, overlapTokens: Int): DataFrame = {
    require(chunkTokens >= 1 && overlapTokens >= 0 && overlapTokens < chunkTokens,
      "need 0 <= overlapTokens < chunkTokens")
    val stride = chunkTokens - overlapTokens
    val toks = TextKit.tokens(col(textCol))
    val n = size(toks)
    val starts = sequence(lit(0),
      greatest(n - overlapTokens - 1, lit(0)), lit(stride))
    df.filter(n > 0)
      .select(col(idCol), explode(starts).as("__s"), toks.as("__tk"))
      .select(col(idCol), (col("__s") / stride).cast("long").as("chunk_idx"),
        array_join(slice(col("__tk"), col("__s") + 1, lit(chunkTokens)), " ")
          .as("chunk_text"),
        size(slice(col("__tk"), col("__s") + 1, lit(chunkTokens))).cast("long")
          .as("n_tokens"))
  }

  /**
   * Corpus-trained BIGRAM surprisal — the conditional-probability upgrade
   * of [[unigramSurprisal]] (CCNet scores with a 5-gram KenLM; the bigram
   * is the same signal one join deeper): per adjacent token pair,
   * bits(w2|w1) = len(bin(ctx(w1))) − len(bin(cnt(w1,w2))) with
   * ctx(w1) = Σ_w2 cnt(w1,w2), summed per document (exact integer log2 —
   * engine-portable bit-for-bit, and nonnegative, so the ×100 integer-div
   * mean is safe cross-engine). Self-trained on the scored corpus, so
   * every scored pair exists in the model — no backoff path.
   *
   * Scale posture: one corpus-scale pair-explode aggregation (map-side
   * combined, shuffled on (doc, w1, w2)); the bigram and context models
   * derive from IT (their exchanges reuse its shuffle output, verified
   * pattern as [[importanceWeights]]); final per-doc agg shuffles on doc.
   */
  def bigramSurprisal(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    def bitlen(c: Column): Column = length(bin(c)).cast("long")
    val docTf = df
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol),
        explode(adjSymbolPairs(TextKit.tokens(col(textCol)))).as("__p"))
      .groupBy(col(idCol), col("__p.l").as("__w1"), col("__p.r").as("__w2"))
      .agg(count(lit(1)).as("__tf"))
    val bigrams = docTf.groupBy(col("__w1"), col("__w2"))
      .agg(sum(col("__tf")).as("__cnt"))
    val ctx = bigrams.groupBy(col("__w1")).agg(sum(col("__cnt")).as("__ctx"))
    // fold ctx into the bigram model FIRST (a vocab-scale join on w1),
    // then hit docTf with ONE model join on (w1, w2). Joining ctx after
    // the pair join would reshuffle the doc-pair-level rows a second
    // time, on w1 — corpus-scale whenever the vocab outgrows AQE's
    // broadcast threshold. Measured r8: wall-NEUTRAL at sf0.1
    // (5.5 vs 5.5 s same-session median-of-3 — AQE broadcasts ctx at
    // this vocab size, so the hazard shuffle never ran locally); kept
    // for the one-fewer-corpus-scale-exchange plan shape at 100 TB.
    val model = bigrams.join(ctx, Seq("__w1"))
      .select(col("__w1"), col("__w2"),
        (bitlen(col("__ctx")) - bitlen(col("__cnt"))).as("__bits"))
    docTf.join(model, Seq("__w1", "__w2"))
      .groupBy(col(idCol))
      .agg(
        sum(col("__tf")).as("n_pairs"),
        sum(col("__tf") * col("__bits")).as("bigram_bits"))
      .withColumn("mean_centibits",
        expr("(bigram_bits * 100) div n_pairs"))
  }

  /**
   * DSIR-style importance weighting (Xie et al. 2023, "Data Selection for
   * Language Models via Importance Resampling"): score each document by how
   * many fewer bits its tokens cost under a TARGET corpus' unigram model
   * than under the full corpus' — the data-selection signal that upweights
   * in-domain documents. Same EXACT integer-bits formulation as
   * [[unigramSurprisal]] (binary-expansion log2: engine-portable
   * bit-for-bit, no floating-point ln):
   *   Δbits(w) = bits_corpus(w) − bits_target(w),  bits(w) = len(bin(N)) −
   *   len(bin(max(cnt, 1)))   (the max is add-one-floor smoothing for
   * target-OOV words). Output per doc: token count, Σ tf·Δbits, and the
   * per-token ×100 integer-div mean (`mean_centidelta` > 0 ⇔ the document
   * reads more like the target corpus than the average document — the
   * resampling keep-signal).
   *
   * Scale posture: two vocab aggregations and one per-doc aggregation, all
   * map-side combined and hash-shuffled on (word) / (doc); the vocab joins
   * are corpus-vocabulary-sized (AQE broadcasts the target side when it
   * fits), and nothing is ordered or windowed anywhere.
   */
  def importanceWeights(df: DataFrame, idCol: String, textCol: String,
      targetFilter: Column): DataFrame = {
    def bitlen(c: Column): Column = length(bin(c)).cast("long")
    val docTf = df
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol), col(textCol),
        targetFilter.cast("boolean").as("__tgt"))
      .select(col(idCol), col("__tgt"),
        explode(TextKit.tokens(col(textCol))).as("__w"))
      .groupBy(col(idCol), col("__tgt"), col("__w"))
      .agg(count(lit(1)).as("__tf"))
    val vocab = docTf.groupBy(col("__w")).agg(
      sum(col("__tf")).as("__cnt"),
      sum(when(col("__tgt"), col("__tf")).otherwise(0L)).as("__tcnt"))
    val totals = vocab.agg(sum(col("__cnt")).as("__n"),
      sum(col("__tcnt")).as("__tn"))
    docTf.join(vocab, Seq("__w"))
      .crossJoin(broadcast(totals))
      .groupBy(col(idCol))
      .agg(
        sum(col("__tf")).as("n_tokens"),
        sum(col("__tf") *
          ((bitlen(col("__n")) - bitlen(col("__cnt"))) -
            (bitlen(col("__tn")) - bitlen(greatest(col("__tcnt"), lit(1L))))))
          .as("delta_bits"))
      .withColumn("mean_centidelta",
        expr("(delta_bits * 100) div n_tokens"))
  }

  /** Adjacent symbol pairs of a symbol array, as (l, r) structs — the
    * pair-census building block of BPE training. */
  private def adjSymbolPairs(sym: Column): Column =
    when(size(sym) >= 2, transform(sequence(lit(1), size(sym) - 1),
      i => struct(element_at(sym, i).as("l"), element_at(sym, i + 1).as("r"))))
      .otherwise(array().cast("array<struct<l:string,r:string>>"))

  /** One left-to-right non-overlapping merge pass of the pair (l, r) over a
    * symbol array, as a pure Catalyst fold (`aggregate` HOF): append each
    * symbol unless it is `r` and the accumulator ends in `l`, in which case
    * the tail is replaced by the merged symbol. "aaaa" merging (a,a) gives
    * [aa, aa] — the classic greedy-leftmost semantics. */
  private[ops] def bpeMergePass(sym: Column, l: String, r: String): Column =
    // try_element_at: ANSI mode has no conjunct short-circuit, so a plain
    // element_at(acc, -1) would throw on the empty accumulator
    aggregate(sym, array().cast("array<string>"), (acc, x) =>
      when(try_element_at(acc, lit(-1)) === lit(l) && x === lit(r),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(x))))

  /** [[bpeMergePass]] behind a cheap containment guard: a word whose
    * symbol array lacks `l` or `r` is untouched by the pass, and the fold —
    * O(n) iterations each allocating a fresh accumulator array (O(n²)
    * copying) — is pure overhead for it. After a few training rounds most
    * vocabulary words contain neither symbol of the chosen pair, so two
    * O(n) `array_contains` probes skip the quadratic fold for the common
    * case; identical output by construction (the guard is exactly the
    * fold's no-op precondition). ONLY safe where `sym` is a plain column
    * reference: the guard repeats `sym` three extra times, so chaining it
    * over expression inputs (the [[applyBpeMerges]] shape) would grow the
    * tree 4^passes — that caller keeps the unguarded pass. Measured r13
    * (t_bpe_train, OPTIMIZATION_r13.md). */
  private[ops] def bpeMergePassGuarded(sym: Column, l: String, r: String): Column =
    when(array_contains(sym, l) && array_contains(sym, r),
      bpeMergePass(sym, l, r)).otherwise(sym)

  /** Apply a trained merge table (rank order) as chained fold passes — the
    * declarative twin of [[graft.functions.NativeTextKit.bpeEncodeWord]];
    * the gated query asserts the two paths agree symbol-for-symbol. */
  def applyBpeMerges(sym: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(sym) { case (c, (l, r)) => bpeMergePass(c, l, r) }

  /**
   * Distributed BPE tokenizer training (Sennrich et al. 2016): `nMerges`
   * rounds of (count adjacent symbol pairs weighted by word frequency →
   * pick the most frequent pair, ties lexicographic → merge it everywhere).
   * Returns the merge table in rank order with the weighted count each
   * merge had when chosen. Stops early when no pair occurs twice.
   *
   * Scale posture: the ONE corpus-scale pass is the word-frequency
   * aggregation (map-side combined, shuffle on word); every training round
   * then runs on the cached WORD DICTIONARY — vocab-bound (≤ ~10⁷ rows for
   * web text), independent of corpus row count, so 100 TB and 100 GB train
   * at the same per-round cost. Each round = one map-side-combined pair
   * aggregation + a `TakeOrdered(1)` argmax collect (one row to the
   * driver) + a fold-expression merge re-cache; the previous round's cache
   * is dropped once the successor materializes. Weighting is by DISTINCT-
   * word frequency from [[TextKit.tokens]] — identical conventions to
   * [[bpePairStats]], whose output is exactly this trainer's round-1
   * census.
   *
   * Cluster caveat: each round's dictionary is an eager `localCheckpoint`
   * — blocks on the executors that computed them, with the lineage cut
   * and no replica. Losing an executor (a crash, a preemption, or
   * dynamic allocation releasing it when
   * `spark.dynamicAllocation.cachedExecutorIdleTimeout` is set finite)
   * loses those blocks; the round cannot be recomputed, so the whole
   * training call fails and must be rerun. On preemptible or autoscaled
   * clusters, keep that timeout at its default (infinite) and accept a
   * rerun on executor loss. Only the current and the previous round are
   * held at any time.
   */
  /** The first `guardFromRound` merge rounds run the unguarded fold;
    * rounds `guardFromRound + 1` on add the containment guard (see the
    * call site in [[trainBpeMerges]]). 24 ≈ where byte-level BPE stops
    * picking pairs present in most words (the top ~20 English char
    * bigrams cover the bulk of running text; beyond them per-word hit
    * rates fall fast). */
  private[ops] val guardFromRound = 24

  def trainBpeMerges(df: DataFrame, textCol: String, nMerges: Int)
      : Seq[(String, String, Long)] = {
    require(nMerges >= 1, "nMerges must be positive")
    val par = df.sparkSession.sparkContext.defaultParallelism
    // the evolving dict carries ONLY (f, sym): the word string never feeds a
    // round, and single-char words can never contribute a pair — both would
    // just inflate every round's cache
    // localCheckpoint, NOT persist: persist caches the rows but keeps the
    // full logical plan, so round N's analyzer/optimizer pass re-walks all
    // N−1 previous fold expressions — measured r14 (graft.Profile): 3.0 s
    // of 4.7 s wall was driver-side gaps, growing 0.02 → 0.45 s per round.
    // The eager checkpoint freezes each round to a scan of materialized
    // rows, making per-round plan cost O(1); the materializing job replaces
    // the argmax-triggered cache fill, so the action count is unchanged.
    // Each round releases its predecessor's blocks once its own checkpoint
    // has materialized (the eager checkpoint no longer reads them), and the
    // last round's blocks go when training ends.
    var dict = df.repartition(par)
      .select(explode(TextKit.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .filter(length(col("w")) >= 2)
      .select(col("f"),
        filter(split(col("w"), ""), s => length(s) > 0).as("sym"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var exhausted = false
    while (merges.length < nMerges && !exhausted) {
      val top = dict
        .select(col("f"), explode(adjSymbolPairs(col("sym"))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("f")).as("c"))
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty || top(0).getLong(2) < 2) exhausted = true
      else {
        val (l, r, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((l, r, c))
        // Guard the merge fold only after round `guardFromRound` (this is
        // round `merges.length`, so the guard starts at round
        // guardFromRound + 1): the first rounds pick the corpus's
        // highest-frequency char pairs, so nearly every word contains both
        // symbols and the guard's two array_contains probes are pure
        // per-word overhead (measured r13: guarding EVERY round cost
        // +0.8–1.0 s on the 12-merge gate, both builder sweep 4.17→4.99 s
        // and driver 3.81→4.80 s — VERDICT r13 item 2). Deep in a real training run (10³–10⁵ merges) the argmax
        // pair is rare and the guard skips the O(n²)-copy fold for almost
        // every word — that long tail keeps it. Output identical either
        // way (the guard is the fold's no-op precondition).
        val pass =
          if (merges.length > guardFromRound)
            bpeMergePassGuarded(col("sym"), l, r)
          else bpeMergePass(col("sym"), l, r)
        val prev = dict
        dict = dict.select(col("f"), pass.as("sym")).localCheckpoint(true)
        LocalCheckpoint.release(prev)
      }
    }
    LocalCheckpoint.release(dict)
    merges.toSeq
  }

  /**
   * Apply a trained BPE merge table to a whole corpus — the terminal
   * tokenization pass that turns "documents" into "token budgets" (what
   * [[packChunks]] packs and every data-mixture accountant reports).
   * Returns one row per document with ≥1 token: `n_words`,
   * `n_bpe_tokens` (total encoded symbol count under `merges`).
   *
   * Scale posture: the same vocab-bound trick as [[trainBpeMerges]] —
   * encoding runs ONCE per distinct word (the native
   * [[graft.functions.NativeTextKit.bpeEncodeWord]] encoder over the
   * distinct vocabulary, ≤ ~10⁷ rows for web text), then joins back to the
   * (doc, word, tf) aggregate, so per-occurrence work is a multiply, not a
   * re-encode. At 100 TB that is the difference between encoding 10⁶
   * vocabulary entries and 10¹³ token occurrences. Both aggregations are
   * map-side combined; AQE broadcasts the encoded vocab when it fits.
   */
  def bpeEncodeDocs(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val docTf = df
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol), explode(TextKit.tokens(col(textCol))).as("__w"))
      .groupBy(col(idCol), col("__w"))
      .agg(count(lit(1)).as("__tf"))
    val vocab = docTf.select(col("__w")).distinct()
      .select(col("__w"),
        size(graft.functions.NativeTextKit.bpeEncodeWord(col("__w"), merges))
          .cast("long").as("__ns"))
    docTf.join(vocab, Seq("__w"))
      .groupBy(col(idCol))
      .agg(sum(col("__tf")).as("n_words"),
        sum(col("__tf") * col("__ns")).as("n_bpe_tokens"))
  }

  /**
   * Deterministic per-key quota sampling — the per-domain cap every crawl
   * pipeline applies so a handful of giant hosts can't dominate the
   * training mixture: keys with ≤ `quota` documents pass untouched; larger
   * keys are thinned to an expected `quota` by the content-hash Bernoulli
   * rule of [[sampleKeep]] with per-key fraction `quota/n`. Statistical
   * (E[kept] = quota, ±√quota), NOT an exact rank cap — deliberately: an
   * exact top-N-per-key needs a per-key ordering (sort-window or
   * collect_list), which is precisely the hot-key single-task straggler a
   * 10⁸-document domain triggers. This shape is one map-side-combined
   * count, one AQE-broadcast join of the KB-sized per-key counts, and a
   * scan-speed filter — no ordering anywhere, and re-runs/duplicate texts
   * decide identically.
   */
  def quotaSample(df: DataFrame, keyCol: String, textCol: String,
      quota: Long, salt: String = ""): DataFrame = {
    require(quota > 0, "quota must be positive")
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("__n"))
    // integer `div` on both engines (a double quotient truncated at a
    // .999… boundary would round the threshold up by one cell)
    val cells = expr(s"(${quota}L * 65536L) div __n")
    val h = substring(md5(concat(lit(salt), col(textCol)).cast("binary")), 1, 4)
    df.join(counts, Seq(keyCol))
      .filter(col("__n") <= quota || h < lpad(lower(hex(cells)), 4, "0"))
      .drop("__n")
  }

  /**
   * Deterministic global shuffle key — the "shuffle the corpus before
   * training" step, made reproducible: ordering by `md5(salt || text)`
   * is a pseudo-random permutation that is (a) identical across runs and
   * engines, (b) content-based, so re-crawled duplicates land adjacently
   * (easy to spot-check) while unrelated documents interleave uniformly,
   * and (c) re-rollable by changing `salt` (a new epoch = a new
   * permutation, no RNG state anywhere). Lowercase-hex strings compare
   * identically in every engine. Pure expression, zero shuffle.
   */
  def shuffleKey(text: Column, salt: String = ""): Column =
    md5(concat(lit(salt), text).cast("binary"))

  /**
   * Write the corpus in deterministic-shuffled order into `nFiles`
   * range-partitioned files: route by range over [[shuffleKey]] and sort
   * within partitions — each output file owns a contiguous key range, so
   * the concatenation of files IS the permutation, with no global sort
   * and no window anywhere (the 100 TB shape; the `t_shard_order` gate
   * materializes the same permutation with an explicit per-shard
   * row_number at test scale to pin it cross-engine).
   */
  def writeShuffled(df: DataFrame, dir: String, textCol: String,
      nFiles: Int, salt: String = ""): Unit = {
    df.withColumn("__sk", shuffleKey(col(textCol), salt))
      .repartitionByRange(nFiles, col("__sk"))
      .sortWithinPartitions(col("__sk"))
      .drop("__sk")
      .write.mode("overwrite").parquet(dir)
  }

  /**
   * Sequence packing (contiguous greedy): documents are packed in `orderCol`
   * order into chunks of ~`budget` tokens — a document starts a new chunk
   * when the exclusive running token total crosses the next multiple of
   * `budget`. Deterministic, one pass, and the window is PARTITIONED BY
   * `shardCol` (source file / crawl shard), never global: each shard packs
   * independently, which is both how production packers shard the work and
   * what keeps the plan free of single-partition stages at 100 TB.
   * Output: one row per (shard, chunk) with document and token counts.
   */
  def packChunks(df: DataFrame, shardCol: String, orderCol: String,
      tokenCount: Column, budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(shardCol)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.select(col(shardCol), col(orderCol), tokenCount.as("__t"))
      .withColumn("chunk_id",
        floor(coalesce(sum(col("__t")).over(w), lit(0L)) / budget))
      .groupBy(col(shardCol), col("chunk_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__t")).as("chunk_tokens"))
  }

  /**
   * T5-style span corruption for denoising pretraining objectives: the
   * whitespace token stream is cut into aligned spans of `spanLen`; each
   * span is masked with probability `pctMasked`/100 by a DETERMINISTIC
   * keyed decision (integer mix of (id, span) — no RNG state, so the
   * corruption is reproducible per document across runs, engines, and
   * parallelism, and the (corrupted, target) pair can be re-derived from
   * the raw corpus at any time instead of being stored). A masked span
   * becomes one `<MASK>` sentinel in the corrupted text; the target is the
   * concatenation of the masked tokens. Pure per-row expressions inside
   * codegen — zero shuffle, scan-speed at 100 TB.
   *
   * Output columns: corrupted, target, n_tokens, n_masked.
   */
  def spanCorrupt(id: Column, text: Column, spanLen: Int = 3,
      pctMasked: Int = 15): Column = {
    require(spanLen >= 1 && pctMasked >= 0 && pctMasked <= 100)
    val toks = split(text, " ")
    val n = size(toks)
    val idx = sequence(lit(0), n - 1)
    def masked(i: Column): Column =
      pmod(id * lit(2654435761L) +
        floor(i.cast("long") / lit(spanLen)).cast("long") * lit(40503L),
        lit(100L)) < pctMasked
    val corrupted = array_join(filter(transform(idx, i =>
      when(!masked(i), element_at(toks, i + 1))
        .when(i % spanLen === 0, lit("<MASK>"))), x => x.isNotNull), " ")
    val target = array_join(filter(transform(idx, i =>
      when(masked(i), element_at(toks, i + 1))), x => x.isNotNull), " ")
    val nMasked = size(filter(idx, i => masked(i))).cast("long")
    when(n === 0 || (n === 1 && toks.getItem(0) === ""),
      struct(lit("").as("corrupted"), lit("").as("target"),
        lit(0L).as("n_tokens"), lit(0L).as("n_masked")))
      .otherwise(struct(corrupted.as("corrupted"), target.as("target"),
        n.cast("long").as("n_tokens"), nMasked.as("n_masked")))
  }
}
