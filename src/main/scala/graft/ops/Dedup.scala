package graft.ops

import graft.functions.{Kit, TextKit, VectorKit}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deduplication operators — the heart of the reference (SURVEY §2.5 D1-D3)
 * plus the near-dup family a training-data pipeline needs at 100 TB scale.
 *
 * Scale posture: every operator here is a single hash-shuffle on the dedup
 * key (or LSH bucket) — no all-pairs joins, no driver-side collection. The
 * only O(pairs) work happens inside an LSH/blocking bucket, which is bounded
 * by construction.
 */
object Dedup {

  // ── D1: exact dedup by key ───────────────────────────────────────────────

  /**
   * `distinctByKey` (mediation/MediationService.scala:115,125,219) with a
   * deterministic winner: the row with the smallest `orderCols` survives.
   * `orderCols` must order rows uniquely within a key (every caller ends
   * with a unique id — event id, doc id); prefer this over
   * `dropDuplicates`, whose surviving row is arrival-order-dependent and
   * irreproducible across cluster runs.
   *
   * Shape: a NARROW min-order aggregate + hash join-back, chosen over the
   * two obvious formulations after measuring all three on a 2M-row corpus
   * with a 20%-hot key (README "Skew stress"):
   *   - `row_number().over(Window.partitionBy(key))` sorts every key's
   *     rows in ONE task — a straggler/OOM when one viral key holds 10⁸
   *     duplicates (the #1 real-world dedup hazard);
   *   - `min_by(struct(allCols), struct(orderCols))` fixes the straggler
   *     (map-side partial collapse) but its struct buffer forces a
   *     non-codegen SortAggregate over FULL-WIDTH rows — 10× slower than
   *     the window on a mostly-unique corpus;
   *   - this shape aggregates only (key, orderCols) — the wide columns
   *     never pass through a sort — and joins the winners back with a
   *     shuffled hash join (hint survives as long as AQE doesn't override
   *     it; AQE skew-split applies to the probe side, and the hot key
   *     still collapses map-side in the partial min).
   */
  def exactDedup(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String]): DataFrame = {
    val kAlias = keyCols.indices.map(i => s"__k$i")
    val winners = df.groupBy(keyCols.map(col): _*)
      .agg(min(struct(orderCols.map(col): _*)).as("__mo"))
      .select(keyCols.zip(kAlias).map { case (k, a) => col(k).as(a) } :+ col("__mo"): _*)
    // null-safe equality: a null order field must match itself on the way
    // back (the window form's asc_nulls_first would have kept such a row)
    val cond = keyCols.zip(kAlias).map { case (k, a) => col(k) <=> col(a) }
      .reduce(_ && _) && (struct(orderCols.map(col): _*) <=> col("__mo"))
    df.join(winners.hint("shuffle_hash"), cond)
      .select(df.columns.map(col): _*)
  }

  /**
   * D3's output-cardinality contract in relational form: EVERY input row is
   * emitted, tagged `SENT` (first per key, by orderCols) or
   * `SENT_OR_DUPLICATED` (the rest) — mirroring the stateful TTL dedup's
   * one-output-per-input behavior
   * (mediation/http/StateAsyncParDoWithHttpHandler.scala:105-131; the
   * streaming twin lives in [[graft.streaming.StatefulTtlDedupTws]]).
   */
  /**
   * Same narrow-winner shape as [[exactDedup]] (NOT a `row_number` window):
   * the per-key winner is a map-side-combinable `min(struct(orderCols))`
   * over only (key, orderCols) — a viral key with 10⁸ duplicates collapses
   * to one buffer per input partition instead of one task sorting all 10⁸
   * rows — and the status falls out of a hash join-back: a row is `SENT`
   * iff its orderCols equal the winner's (null-safe, like exactDedup's
   * join-back). `orderCols` must order rows uniquely within a key (every
   * caller ends with a unique id) — with ties the window form's pick was
   * partition-order-dependent anyway; this form marks all tied minima
   * `SENT`, which is at least deterministic.
   *
   * CONTRACT: `orderCols` are plain value columns ordered ASCENDING — the
   * winner is the lexicographic minimum of the struct. `.desc`/`.asc`
   * sort-order wrappers (valid under a `Window.orderBy` implementation of
   * this operator) are rejected explicitly: silently accepting them would
   * either fail deep inside `struct()` analysis or invert the winner. For
   * a descending order, negate or invert the column value instead (e.g.
   * `-col("ts")`, or `lit(Long.MaxValue) - col("ts")` for unsigned
   * semantics).
   */
  def dedupMarkers(df: DataFrame, keyCol: Column, orderCols: Seq[Column],
      statusName: String = "status"): DataFrame = {
    orderCols.foreach { c =>
      require(!org.apache.spark.sql.GraftColumnBridge.expression(c)
        .isInstanceOf[org.apache.spark.sql.catalyst.expressions.SortOrder],
        s"dedupMarkers orders by the ASCENDING struct minimum; got a " +
          s"sort-order expression ($c) — pass the plain column (or negate " +
          "it for descending order)")
    }
    val keyed = df.withColumn("__dk", keyCol)
    val winners = keyed.groupBy(col("__dk"))
      .agg(min(struct(orderCols: _*)).as("__mo"))
      .select(col("__dk").as("__wk"), col("__mo"))
    keyed.join(winners.hint("shuffle_hash"), col("__dk") <=> col("__wk"))
      .withColumn(statusName,
        when(struct(orderCols: _*) <=> col("__mo"), lit("SENT"))
          .otherwise(lit("SENT_OR_DUPLICATED")))
      .select(df.columns.map(col) :+ col(statusName): _*)
  }

  // ── bucket-size banding (shared by every blocked candidate path) ─────────

  /**
   * Keep only rows whose `keys`-group size is within [minSize, maxSize] —
   * the bucket/block cap every blocked candidate generator applies before
   * its within-bucket pair join.
   *
   * Shaped as a partial-aggregable groupBy-count + semi-join, NOT a
   * `count().over(Window.partitionBy(keys))`: the window form sorts each
   * bucket's members in one task, so the hottest bucket — the exact thing
   * the cap exists to drop — would first be materialized and sorted in a
   * single straggler task (10⁷-member boilerplate bucket = one task doing
   * all the work, then discarding it). The aggregate collapses a hot
   * bucket to one count per input partition map-side; the semi-join back
   * is a hash join on the same key the downstream pair join shuffles on,
   * and AQE broadcasts the (tiny: one row per surviving bucket) key list
   * when it fits.
   */
  private[graft] def sizeBandedBuckets(df: DataFrame, keys: Seq[String],
      minSize: Long, maxSize: Long): DataFrame = {
    val eligible = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n"))
      .filter(col("__n").between(minSize, maxSize))
      .select(keys.map(col): _*)
    df.join(eligible, keys, "left_semi")
  }

  // ── MinHash + LSH near-dup ───────────────────────────────────────────────

  /** Deterministic 64-bit mixer (splitmix64 finalizer) — used to derive the
    * MinHash permutation constants with no stored model. */
  private def mix64(x: Long): Long = {
    var z = x * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /**
   * Per-hash-function MinHash constants: odd 31-bit multiplier + 31-bit
   * offset derived from the hash index — stable across runs, no stored model.
   */
  private def minhashCoefs(i: Int): (Long, Long) = {
    val a = (mix64(2L * i + 1) & 0x7FFFFFFFL) | 1L // odd, 31-bit
    val b = mix64(2L * i + 2) & 0x7FFFFFFFL
    (a, b)
  }

  /**
   * MinHash-LSH near-duplicate candidate pairs: signature → `bands` bands of
   * `rowsPerBand` rows → band-hash buckets → per-bucket pairing.
   *
   * Scale path: `explode` produces `n × bands` rows, the shuffle key is
   * (band, bandHash) — co-locates only probable near-dups; the per-bucket
   * self-join is quadratic ONLY within a bucket. To bound pathological
   * buckets (e.g. empty-text clusters) pairs are generated per-bucket with a
   * cap. Output: (doc_a, doc_b) with doc_a < doc_b, distinct.
   *
   * Band sizing: rows-per-band (numHashes/bands) controls background noise —
   * corpora with a shared vocabulary have non-trivial baseline jaccard
   * (~0.25 here), and r=4 admits ~1.5M false candidates at 5k docs where r=8
   * admits ~10³ (collision prob j^r per band). Defaults are r=8, b=32.
   */
  def minhashCandidatePairs(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 256, shingleLen: Int = 5, bands: Int = 32,
      maxBucketSize: Int = 1000, oph: Boolean = false): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // band hashes computed in the sketch pass itself (MinHashBands):
    // banding the signature column with hash(slice(sig,...)) per band makes
    // Catalyst inline the sketch into every band expression → 32× the work
    val banded = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("doc"),
        posexplode(graft.functions.NativeTextKit.minhashBands(
          col(textCol), numHashes, shingleLen, bands, oph)).as(Seq("band", "bucket")))
    // size-capped bucket membership ([[sizeBandedBuckets]] — skew-safe
    // partial-agg count), then a bucket self-join — 2× faster than
    // collect_list + nested-transform pair explosion
    val eligible = sizeBandedBuckets(banded, Seq("band", "bucket"), 2L, maxBucketSize)
    val l = eligible.select(col("band"), col("bucket"), col("doc").as("doc_a"))
    val r = eligible.select(col("band"), col("bucket"), col("doc").as("doc_b"))
    l.join(r, Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
  }

  /**
   * Prefix-blocked candidate pairs: documents sharing their first
   * `prefixLen` characters are paired within the block. Blocks are
   * size-capped with the same [[sizeBandedBuckets]] pattern as
   * [[minhashCandidatePairs]] — at 100× scale one hot boilerplate prefix
   * ("Terms of Service…", crawler headers) would otherwise make a single
   * block quadratic; blocks over `maxBlockSize` are dropped whole (same
   * semantics as the MinHash bucket cap: a block that hot is boilerplate,
   * not near-dup signal). Singleton blocks are pruned in the same pass.
   */
  def prefixBlockedCandidatePairs(df: DataFrame, idCol: String, textCol: String,
      prefixLen: Int = 16, maxBlockSize: Int = 1000): DataFrame = {
    val ids = df.select(col(idCol).as("doc"),
      substring(col(textCol), 1, prefixLen).as("pfx"))
    val eligible = sizeBandedBuckets(ids, Seq("pfx"), 2L, maxBlockSize)
    eligible.select(col("pfx"), col("doc").as("doc_a"))
      .join(eligible.select(col("pfx"), col("doc").as("doc_b")), Seq("pfx"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
  }

  /**
   * Near-dup pairs = LSH candidates verified by exact n-gram Jaccard ≥
   * `threshold`. The verify join re-reads only candidate texts (semi-joined),
   * so the exact Jaccard — the expensive part — runs on |candidates|, not n².
   */
  def minhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, numHashes: Int = 256, shingleLen: Int = 5,
      bands: Int = 32, oph: Boolean = false): DataFrame =
    verifiedJaccardPairs(df,
      minhashCandidatePairs(df, idCol, textCol, numHashes, shingleLen, bands,
        oph = oph),
      idCol, textCol, shingleLen, threshold)

  /**
   * Exact n-gram-Jaccard verification of a candidate pair set — the shared
   * second half of every blocked near-dup operator (MinHash bands, prefix
   * blocks, …): pairs whose exact Jaccard ≥ `threshold`, with the score.
   *
   * Shape, in order of what matters at 100 TB:
   *   - `candidates` is materialized ONCE (`localCheckpoint`): it feeds
   *     both the id filter and the verify join — as a lazy plan the whole
   *     candidate pipeline would execute twice — and the exact size stats
   *     let AQE broadcast the small sides instead of shuffle-sorting.
   *   - candidate doc ids (≤ 2·|pairs| longs — if those don't fit in
   *     memory, no dedup output shape does) are broadcast-semi-joined
   *     against the RAW (id, text) rows, and the shingle sets are computed
   *     only for the survivors. Order matters: with the sketch projection
   *     below the semi-join, Catalyst computes every document's set anyway
   *     (verified in the executed plan). Non-candidate documents — the
   *     overwhelming majority at any scale — never leave the scan.
   *   - sets are sorted 64-bit shingle hashes ([[TextKit.ngramHashSet]]),
   *     ~8× less heap/shuffle than UTF8 shingle arrays, and the threshold
   *     filter sits behind a pushdown barrier so the Jaccard evaluates in
   *     the codegen'd post-join projection, once per pair.
   */
  def verifiedJaccardPairs(df: DataFrame, candidates: DataFrame, idCol: String,
      textCol: String, shingleLen: Int, threshold: Double): DataFrame =
    verifiedJaccardPairsAcross(df, df, candidates, idCol, textCol,
      shingleLen, threshold)

  /** Two-corpus form of [[verifiedJaccardPairs]]: `doc_a` ids resolve
    * against `left`, `doc_b` ids against `right` (use `left` = `right` for
    * self-join dedup). Same candidates-only shape; each side's semi-join
    * carries only the ids that can appear on that side.
    */
  def verifiedJaccardPairsAcross(left: DataFrame, right: DataFrame,
      candidates: DataFrame, idCol: String, textCol: String,
      shingleLen: Int, threshold: Double): DataFrame = {
    val cands = candidates.localCheckpoint(eager = true)
    def side(src: DataFrame, idName: String, gName: String): DataFrame = {
      val ids = cands.select(col(idName).as("id")).distinct()
      src.select(col(idCol).as("id"), col(textCol).as("__text"))
        .join(broadcast(ids), Seq("id"), "left_semi")
        .select(col("id").as(idName),
          TextKit.ngramHashSet(col("__text"), shingleLen).as(gName))
    }
    cands
      .join(side(left, "doc_a", "ga"), "doc_a")
      .join(side(right, "doc_b", "gb"), "doc_b")
      .withColumn("jaccard", TextKit.jaccardFromSets(col("ga"), col("gb")))
      .filter(TextKit.noPushdown(col("jaccard") >= threshold))
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /**
   * Incremental near-dup detection: fresh documents that near-duplicate an
   * existing REFERENCE corpus — the shape a production pipeline runs on
   * every new crawl (dedupe the increment against the accumulated corpus,
   * not the union against itself). Both sides are banded with the same
   * deterministic MinHash family, so a fresh/reference near-dup collides
   * exactly as it would in the self-join; the pair join is fresh×reference
   * per (band, bucket) — the reference side's bucket membership is capped
   * (hot boilerplate buckets in a 100 TB reference corpus would otherwise
   * make every fresh doc pair with them). Output: (doc_a = fresh id,
   * doc_b = reference id, jaccard ≥ threshold); anti-join `fresh` on
   * `doc_a` to admit only novel documents.
   */
  def incrementalNearDupPairs(fresh: DataFrame, reference: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      numHashes: Int = 128, shingleLen: Int = 5, bands: Int = 16,
      maxBucketSize: Int = 1000, oph: Boolean = false): DataFrame = {
    val par = fresh.sparkSession.sparkContext.defaultParallelism
    def banded(df: DataFrame, out: String): DataFrame =
      df.repartition(par).select(col(idCol).as(out),
        posexplode(graft.functions.NativeTextKit.minhashBands(
          col(textCol), numHashes, shingleLen, bands, oph)).as(Seq("band", "bucket")))
    val f = banded(fresh, "doc_a")
    val r = sizeBandedBuckets(banded(reference, "doc_b"),
      Seq("band", "bucket"), 1L, maxBucketSize)
    val cands = f.join(r, Seq("band", "bucket"))
      .select("doc_a", "doc_b")
      .distinct()
    verifiedJaccardPairsAcross(fresh, reference, cands, idCol, textCol,
      shingleLen, threshold)
  }

  // ── near-dup clustering (connected components) ───────────────────────────

  /**
   * Collapse near-dup pairs into clusters: every document labeled with the
   * minimum doc id reachable through the pair graph (its canonical
   * representative) — the step that actually deduplicates a corpus (keep
   * canonical, drop the rest). Input: (doc_a, doc_b) pairs, any direction.
   *
   * Min-label propagation as iterative DataFrame joins, accelerated three
   * ways over the naive loop:
   *   1. the SEED fuses propagation round 1 — label₀ = min(self, direct
   *      neighbors) is one aggregation over the symmetrized edge list, not a
   *      distinct + a join round;
   *   2. each round pointer-jumps THROUGH THE CACHED PREVIOUS MAPPING
   *      (label ← prev(label) after the neighbor-min step), the hash-to-min
   *      shortcut that converges in O(log diameter) rounds instead of
   *      O(diameter), at the cost of one extra join against an
   *      already-cached tiny table;
   *   3. convergence = a changed-label count folded into the SAME aggregate
   *      action that materializes the round's cache — no separate proof
   *      round, no sum bookkeeping.
   * At 100 TB each round is two shuffle-joins on node id (edges × labels,
   * labels × labels) — the standard large-scale CC shape; `maxIter` bounds
   * the worst case. The result is `localCheckpoint`ed (labels are tiny
   * relative to the corpus — one (id,id) pair per near-dup doc) so every
   * intermediate cache can be dropped before returning: repeated calls
   * leave nothing registered in the CacheManager.
   */
  def nearDupClusters(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // cache the edge set: every propagation round joins it — without this
    // each round re-executes the whole upstream pair pipeline (LSH sketch,
    // bucket join, verify) from the scan
    val edges = pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
      .unionByName(pairs.select(col("doc_b").as("a"), col("doc_a").as("b")))
      .distinct()
      .cache()
    var labels = edges.groupBy(col("a").as("node"))
      .agg(min(least(col("a"), col("b"))).as("label"))
      .cache()
    var cached = labels
    var iter = 1 // the seed IS round 1
    var converged = false
    while (iter < maxIter && !converged) {
      val nm = edges
        .join(labels.select(col("node").as("b"), col("label").as("nl")), "b")
        .groupBy(col("a").as("node"))
        .agg(min(col("nl")).as("nmin"))
      val stepped = labels.join(nm, Seq("node"), "left_outer")
        .select(col("node"), col("label").as("__old"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("__sl"))
      // pointer-jump: shortcut the stepped label through the previous
      // mapping (labels is cached, so this join reads memory, not lineage)
      val relabel = labels.select(col("node").as("__ln"), col("label").as("__ll"))
      val next = stepped.join(relabel, col("__sl") === col("__ln"), "left_outer")
        .select(col("node"), col("__old"),
          least(col("__sl"), coalesce(col("__ll"), col("__sl"))).as("label"))
        .cache()
      // one action per round: materializes the cache AND decides convergence
      // (labels only ever decrease, so changed = count of strict decreases)
      val changed = next.agg(count(when(col("label") < col("__old"), 1)))
        .collect()(0).getLong(0)
      converged = changed == 0L
      cached.unpersist()
      cached = next
      labels = next.select(col("node"), col("label"))
      iter += 1
    }
    val out = labels.select(col("node").as("doc_id"), col("label").as("canonical"))
      .localCheckpoint(eager = true)
    cached.unpersist()
    edges.unpersist()
    out
  }

  // ── SimHash near-dup ─────────────────────────────────────────────────────

  /**
   * 64-bit SimHash over whitespace tokens: per-token xxhash64, per-bit
   * sign-sum, sign → bit. Near-dups are rows whose simhash Hamming distance
   * ≤ k; at scale candidates come from exact-matching one of the 4 16-bit
   * chunks (pigeonhole: distance ≤ 3 ⇒ some chunk equal).
   */
  def simhash64(text: Column): Column = graft.functions.NativeTextKit.simhash64(text)

  /** SimHash candidate pairs by 16-bit chunk collision (pigeonhole for
    * Hamming distance ≤ 3), verified by true Hamming distance ≤ `maxDist`.
    *
    * Chunk buckets are size-capped with the same [[sizeBandedBuckets]]
    * pattern as [[minhashCandidatePairs]]: the bucket key space is only
    * 4 × 65,536, so
    * at a billion documents EVERY bucket holds ~15k members and the
    * within-bucket pairing is quadratic — one hot 16-bit chunk value
    * (boilerplate text hashing to a common pattern) would dominate the
    * whole job. Buckets over `maxBucketSize` are dropped whole (a chunk
    * value that hot is boilerplate collision, not near-dup signal);
    * singleton buckets are pruned in the same pass. The pigeonhole
    * exactness guarantee holds whenever every bucket fits the cap — the
    * oracle-gated `dd_simhash` query re-proves it per run at gate SF.
    */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3, maxBucketSize: Int = 1000): DataFrame = {
    // explode the chunk index FIRST, then derive the chunk key from the
    // materialized sh attribute — an array of 4 shift expressions over the
    // sketch column would get the sketch inlined (recomputed) per chunk.
    // coalesce('') makes the sketch non-nullable, so join-key constraint
    // propagation can't push an isnotnull(simhash64(text)) DataFilter into
    // the SCAN — which would run the whole sketch a second time per row.
    val sh = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("doc"),
        simhash64(coalesce(col(textCol), lit(""))).as("sh"))
      .select(col("doc"), col("sh"),
        explode(sequence(lit(0), lit(3))).as("chunk"))
    val chunked = sh.withColumn("ckey",
      expr("shiftright(sh, chunk * 16) & 65535"))
    // size-capped bucket membership ([[sizeBandedBuckets]] — skew-safe
    // partial-agg count; singleton buckets pruned in the same pass)
    val eligible = sizeBandedBuckets(chunked, Seq("chunk", "ckey"), 2L, maxBucketSize)
    val l = eligible.select(col("chunk"), col("ckey"), col("doc").as("doc_a"), col("sh").as("sh_a"))
    val r = eligible.select(col("chunk"), col("ckey"), col("doc").as("doc_b"), col("sh").as("sh_b"))
    l.join(r, Seq("chunk", "ckey"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("dist", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("dist") <= maxDist)
      .select("doc_a", "doc_b", "dist")
      .distinct()
  }

  /**
   * Containment near-dup pairs (Broder containment C(a→b) =
   * |S(a)∩S(b)| / |S(a)| over hashed char shingles): detects EXCERPTS —
   * a quote, abstract or syndicated fragment mostly contained in a larger
   * document — which symmetric Jaccard misses (a 40-word excerpt of a
   * 100-word doc has J ≈ 0.4 but C = 1.0). Output: directional
   * (doc_a = contained, doc_b = container, containment_ppm =
   * ⌊10⁶·C⌋, a ≠ b) for every pair with C ≥ `threshold`.
   *
   * Candidate generation is the set-containment-join standard: an inverted
   * index joined against each document's RARE-SHINGLE PREFIX. Order every
   * document's shingles by global document frequency (rarest first; ties
   * on the hash) and take the first ⌊(1−t)·|S|⌋+1 — if C(a→b) ≥ t then
   * fewer than that many of a's shingles are missing from b, so at least
   * one PREFIX shingle of a is in b (the prefix-filter theorem ⇒ recall 1
   * while postings are uncapped). The prefix is rare by construction, so
   * its postings are the SHORT ones; `maxPostingSize` additionally caps
   * pathological postings (boilerplate shingles in a 100 TB corpus) at a
   * documented recall trade. Verify is candidates-only exact containment —
   * the [[verifiedJaccardPairs]] shape.
   *
   * Scale posture: doc-frequency is one map-side-combined count; the only
   * window partitions by document (doc-shingle-bounded); the index join
   * shuffles (shingle → postings) with the cap; verify semi-joins only
   * candidate docs' sets.
   */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleLen: Int = 5,
      maxPostingSize: Int = 1000): DataFrame = {
    // cached: the sketch pass feeds the posting build AND both verify
    // sides — uncached it re-runs per consumer (the corpus scan is the
    // dominant term at 100 TB)
    val grams = containmentSketch(df, idCol, textCol, shingleLen)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try containmentPairsFromSketch(grams, threshold, maxPostingSize)
    finally grams.unpersist() // outputs are eagerly checkpointed inside
  }

  /** The shingle-set sketch feeding [[containmentPairsFromSketch]]:
    * (doc, gs) with gs the doc's 64-bit hashed `shingleLen`-gram set.
    * Build it once (and cache it) to run several containment configs —
    * threshold / posting-cap sweeps — against ONE corpus scan. */
  def containmentSketch(df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 5): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    df.repartition(par)
      .select(col(idCol).as("doc"),
        TextKit.ngramHashSet(col(textCol), shingleLen).as("gs"))
      .filter(size(col("gs")) > 0)
  }

  /** [[containmentPairs]] from a pre-built (cached) sketch; caching of
    * `grams` is the CALLER's concern — both returned stages are eagerly
    * checkpointed, so the sketch may be unpersisted once this returns. */
  def containmentPairsFromSketch(grams: DataFrame, threshold: Double,
      maxPostingSize: Int = 1000): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0,1]")
    val posts = grams.select(col("doc"), explode(col("gs")).as("g"),
      size(col("gs")).as("__sz"))
    val dfreq = posts.groupBy(col("g")).agg(count(lit(1)).as("__df"))
    // per-doc prefix selection as a hash AGGREGATE (collect + in-group
    // array sort + per-row slice), not a row_number window: the window's
    // shuffle must SORT whole partitions by (doc, df, g) before ranking,
    // the aggregate only sorts each doc's own (df, g) array — both are
    // doc-shingle-bounded, but the aggregate skips the partition-wide
    // sort (r8, VERDICT item 4a; measured below with the banding skip)
    val prefix = posts.join(dfreq, Seq("g"))
      .groupBy(col("doc"), col("__sz"))
      .agg(array_sort(collect_list(struct(col("__df"), col("g")))).as("__a"))
      .select(col("doc").as("doc_a"),
        explode(slice(col("__a"), lit(1),
          (floor(lit(1.0 - threshold) * col("__sz")) + 1).cast("int"))).as("__e"))
      .select(col("__e.g").as("g"), col("doc_a"))
    // banding with max = ∞ is the identity — skip the count + semi-join
    // pass entirely for uncapped runs (the exactness config)
    val pb = posts.select(col("g"), col("doc").as("doc_b"))
    val index =
      if (maxPostingSize == Int.MaxValue) pb
      else sizeBandedBuckets(pb, Seq("g"), 1L, maxPostingSize)
    val cands = prefix.join(index, Seq("g"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
      .localCheckpoint(eager = true)
    def side(idName: String, gName: String): DataFrame = {
      val ids = cands.select(col(idName).as("doc")).distinct()
      grams.join(broadcast(ids), Seq("doc"), "left_semi")
        .select(col("doc").as(idName), col("gs").as(gName))
    }
    // verify kernel: native early-exit merge over the sorted sketches —
    // measured 9.6 -> 5.8 s isolated median on the gate query vs the
    // size(array_intersect(...)) form; with the prefix-aggregate + banding
    // skip above, 7.8 -> 3.4 s same-session median-of-3 end to end (r8,
    // VERDICT item 4). The -1 early-exit rows are exactly the rows the
    // >= filter dropped before.
    val minPpm = math.floor(threshold * 1e6).toLong
    val out = cands
      .join(side("doc_a", "ga"), "doc_a")
      .join(side("doc_b", "gb"), "doc_b")
      .withColumn("containment_ppm",
        TextKit.sortedContainmentPpm(col("ga"), col("gb"), minPpm))
      .filter(TextKit.noPushdown(col("containment_ppm") >= minPpm))
      .select(col("doc_a"), col("doc_b"), col("containment_ppm"))
      .localCheckpoint(eager = true)
    out
  }

  /**
   * Set-similarity join: all id pairs whose SETS (any element type —
   * item ids, tags, hashed tokens) have Jaccard ≥ `threshold`. The
   * similar-baskets / similar-tag-profiles shape (PPJoin's problem),
   * solved with the engine's shared blocking machinery: candidates must
   * share at least one element, so pairs come from the per-element
   * postings join — with elements above `maxElementFreq` distinct sets
   * dropped from CANDIDATE GENERATION only (ubiquitous elements are
   * blocking-useless and quadratic; a pair sharing only capped elements
   * is missed — the documented recall trade every capped path here makes;
   * verification is exact for every surviving candidate).
   *
   * Scale posture: postings are (element, id) rows with the partial-agg
   * frequency cap; sets ride only the final verify join (ids-first, like
   * the text paths); output (id_a, id_b, jaccard) with id_a < id_b.
   */
  def setJaccardPairs(df: DataFrame, idCol: String, setCol: String,
      threshold: Double, maxElementFreq: Int = 1000): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0)
    val sets = df.select(col(idCol).as("__id"),
      array_distinct(col(setCol)).as("__s"))
    val posts = sets.select(col("__id"), size(col("__s")).as("__sz"),
      explode(col("__s")).as("__e"))
    // PPJoin/AllPairs PREFIX filtering: order elements globally by
    // (document frequency, value) and keep only each set's rarest
    // |s| - ceil(t·|s|) + 1 elements for candidate generation. Two sets at
    // Jaccard ≥ t share > ceil(t·|s|) - 1 elements (given the size filter
    // below), so they MUST collide inside both prefixes — recall stays
    // exactly 1 while ubiquitous elements (which rank last) generate
    // candidates only from sets made almost entirely of them.
    // Per-set prefix selection as a hash AGGREGATE (collect + in-group
    // array sort + per-row slice + posexplode), not a row_number window:
    // the window's shuffle must SORT whole partitions by (__id, __df, __e)
    // before ranking, the aggregate only sorts each set's own (df, e)
    // array — both are set-size-bounded, but the aggregate skips the
    // partition-wide sort. Same rewrite as the containment prefix (r8,
    // measured 7.8 -> 3.4 s there); r13 measurement for this operator in
    // OPTIMIZATION_r13.md. Elements are distinct within a set
    // (array_distinct above), so the (df, e) order is total and the rank
    // assignment identical to the window's.
    val dfreq = posts.groupBy(col("__e")).agg(count(lit(1)).as("__df"))
    val prefix = posts.join(dfreq, Seq("__e"))
      .groupBy(col("__id"), col("__sz"))
      .agg(array_sort(collect_list(struct(col("__df"), col("__e")))).as("__a"))
      .select(col("__id"), col("__sz"),
        posexplode(slice(col("__a"), lit(1),
          (col("__sz") - ceil(lit(threshold) * col("__sz")) + 1).cast("int")))
          .as(Seq("__p", "__pe")))
      .select(col("__pe.__e").as("__e"), col("__id"), col("__sz"),
        (col("__p") + 1).cast("int").as("__rn"))
    val capped = sizeBandedBuckets(prefix, Seq("__e"), 1L, maxElementFreq)
    val cands = capped.select(col("__e"), col("__id").as("id_a"),
        col("__sz").as("__sza"), col("__rn").as("__rna"))
      .join(capped.select(col("__e"), col("__id").as("id_b"),
        col("__sz").as("__szb"), col("__rn").as("__rnb")), "__e")
      .filter(col("id_a") < col("id_b") &&
        // size filter: j ≥ t bounds the size ratio — prunes before distinct
        lit(threshold) * col("__sza") <= col("__szb") &&
        lit(threshold) * col("__szb") <= col("__sza") &&
        // PPJoin POSITIONAL filter (Xiao et al. 2008): elements of both
        // sets follow the same global (df, value) order, so a collision
        // at ranks (i, j) caps the overlap at 1 + min(|a|−i, |b|−j);
        // Jaccard ≥ t needs overlap ≥ t/(1+t)·(|a|+|b|). A candidate
        // PAIR survives if ANY of its collisions passes (this runs per
        // collision row, before the distinct) — recall stays exactly 1,
        // the epsilon guards fp rounding on exact boundaries.
        // Measured (r11, gate query, sf0.1 isolated median-of-3):
        // 3.996 s -> 3.217 s, hash-identical output — kept.
        (lit(1.0) + least(col("__sza") - col("__rna"),
          col("__szb") - col("__rnb"))) * lit(1.0 + threshold) >=
          lit(threshold) * (col("__sza") + col("__szb")) - lit(1e-9))
      .select("id_a", "id_b").distinct()
    cands
      .join(sets.select(col("__id").as("id_a"), col("__s").as("__sa")), "id_a")
      .join(sets.select(col("__id").as("id_b"), col("__s").as("__sb")), "id_b")
      .withColumn("jaccard",
        graft.functions.TextKit.jaccardFromSets(col("__sa"), col("__sb")))
      .filter(graft.functions.TextKit.noPushdown(col("jaccard") >= threshold))
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  // ── SemDeDup: semantic dedup via embedding clustering ────────────────────

  /**
   * SemDeDup-style near-dup pairs (Abbas et al. 2023, "SemDeDup: Data-
   * efficient learning at web-scale through semantic deduplication"): the
   * embedding space is k-means-clustered (cosine argmax over a
   * [[Similarity.trainIvfCentroids]] model — the same deterministic
   * literal-model expression the IVF index uses), and exact cosine runs
   * ONLY within a cluster. Semantic duplicates sit close in embedding
   * space, so they share a cluster with high probability — and an
   * exactly-scaled copy shares it with probability 1 (cosine is
   * scale-invariant, so its argmax cell is identical; the oracle-gated
   * query builds on that).
   *
   * At 100 TB the cluster is the blocking unit: `nCentroids` dials the
   * expected cluster size (n/k), the pair join shuffles once on cell id,
   * and `maxClusterSize` ([[sizeBandedBuckets]] — skew-safe partial-agg
   * count) bounds the within-cluster quadratic against a degenerate
   * centroid attracting the whole corpus. Unlike the RHP-LSH path there is
   * exactly one cell per document — no multi-table collision, so no
   * `distinct` pass before the verify.
   */
  def semanticNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nCentroids: Int, lloydIters: Int = 2,
      maxClusterSize: Int = 100000): DataFrame = {
    val cents = Similarity.trainIvfCentroids(df, nCentroids, lloydIters,
      idCol, vecCol)
    val cells = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("id"), VectorKit.asDouble(col(vecCol)).as("v"))
      .select(col("id"), col("v"),
        Similarity.nearestCentroid(col("v"), cents).as("cell"))
    val eligible = sizeBandedBuckets(cells, Seq("cell"), 2L, maxClusterSize)
    val l = eligible.select(col("cell"), col("id").as("vec_a"), col("v").as("va"))
    val r = eligible.select(col("cell"), col("id").as("vec_b"), col("v").as("vb"))
    l.join(r, Seq("cell"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", VectorKit.cosine(col("va"), col("vb")))
      .filter(TextKit.noPushdown(col("cos") >= threshold))
      .select(col("vec_a"), col("vec_b"), col("cos"))
  }

  /**
   * SemDeDup keep-set: drops every document that has a SMALLER-id
   * within-cluster neighbor at cosine ≥ `threshold` (whether or not that
   * neighbor is itself kept) — a deterministic, join-shaped admission rule
   * (one anti-join on the pair set; no iterative clustering needed to
   * decide survival, unlike [[nearDupClusters]] canonicals). In a dup
   * CLIQUE — the planted/semantic-copy case — this keeps exactly the
   * minimum id.
   */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nCentroids: Int, lloydIters: Int = 2,
      maxClusterSize: Int = 100000): DataFrame = {
    val dropped = semanticNearDupPairs(df, idCol, vecCol, threshold,
      nCentroids, lloydIters, maxClusterSize)
      .select(col("vec_b").as(idCol)).distinct()
    df.join(dropped, Seq(idCol), "left_anti")
  }

  // ── Embedding cosine near-dup ────────────────────────────────────────────

  /**
   * Embedding near-dup pairs: cosine ≥ threshold. Scale path = random-
   * hyperplane LSH bucketing ([[VectorKit.rhpBucket]]) so the pair join is
   * per-bucket; near-identical vectors agree on all sign bits with high
   * probability. `nTables` independent hyperplane families OR-amplify
   * recall (a pair is a candidate if it collides in ANY table): per-pair
   * miss probability (1-p^nBits)^nTables with p = 1 - θ/π. Note the recall
   * guarantee is for NEAR-DUPS (θ small); this is not a general cosine-
   * threshold join — at thresholds far below 1 the sign-agreement
   * probability is too flat for any bucketing to prune (see the gated
   * query in [[graft.queries.LlmQueries]] for both shapes).
   * `exact=true` skips bucketing (all-pairs baseline / oracle mode).
   */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nBits: Int = 8, nTables: Int = 1,
      exact: Boolean = false): DataFrame = {
    val base = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("id"), col(vecCol).as("v"))
    if (exact) {
      // all-pairs: broadcast the build side and let the probe side stream —
      // a crossJoin (BroadcastNestedLoop) keeps every partition busy, where
      // a constant-key equi-join would collapse into a single task
      val l = base.select(col("id").as("vec_a"), col("v").as("va"))
      val r = base.select(col("id").as("vec_b"), col("v").as("vb"))
      l.crossJoin(broadcast(r))
        .filter(col("vec_a") < col("vec_b"))
        .withColumn("cos", VectorKit.cosine(col("va"), col("vb")))
        .filter(col("cos") >= threshold)
        .select(col("vec_a"), col("vec_b"), col("cos"))
    } else {
      // one row per (vector, table): shuffle key = (table, bucket), so the
      // pair join is per-bucket per-table; distinct() collapses pairs that
      // collide in several tables before the (cheap, post-join) verify
      val withBucket = base.select(col("id"), col("v"),
        posexplode(array((0 until nTables).map(t =>
          VectorKit.rhpBucket(col("v"), nBits, t)): _*)).as(Seq("tbl", "bucket")))
      val l = withBucket.select(col("tbl"), col("bucket"), col("id").as("vec_a"), col("v").as("va"))
      val r = withBucket.select(col("tbl"), col("bucket"), col("id").as("vec_b"), col("v").as("vb"))
      val cands = l.join(r, Seq("tbl", "bucket"))
        .filter(col("vec_a") < col("vec_b"))
        .select("vec_a", "vec_b", "va", "vb")
        .distinct()
      // noPushdown barrier: without it Catalyst folds the cosine filter
      // into the bucket join's condition — interpreted per probed row and
      // evaluated BEFORE distinct(), i.e. once per table collision instead
      // of once per unique pair
      cands
        .withColumn("cos", VectorKit.cosine(col("va"), col("vb")))
        .filter(TextKit.noPushdown(col("cos") >= threshold))
        .select(col("vec_a"), col("vec_b"), col("cos"))
    }
  }
}
