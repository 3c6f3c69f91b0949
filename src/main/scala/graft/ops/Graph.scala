package graft.ops

import graft.spark.LocalCheckpoint
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Graph analytics over edge lists — the domain-authority shape used to
 * rank crawl sources (a page/domain link graph at corpus scale is billions
 * of edges; the rank vector it produces is the standard quality prior for
 * crawl scheduling and training-data source weighting).
 *
 * All rank arithmetic is INTEGER (scaled fixed-point with truncating
 * division): floating-point summation is order-dependent and so differs
 * between engines and between runs at different parallelism; integer sums
 * are associative, making every iteration bit-for-bit deterministic and
 * replayable in any SQL engine — the same portability trick as the exact
 * integer-log2 bits in [[Corpus.unigramSurprisal]].
 *
 * Scale posture: per iteration, one hash-join of the cached edge list
 * against the previous rank vector and one map-side-combined sum by
 * destination — the same two-shuffle round as [[Dedup.nearDupClusters]];
 * no windows, no driver-side state (the damping constants are literals).
 * The edge list is cached once and reused by every round; the result is
 * node-bound, cut from its O(iters)-deep lineage with a local checkpoint
 * so the caches can be dropped on exit.
 *
 * Checkpoint ownership: an iterative operator releases each per-round
 * `localCheckpoint` once its successor has materialised, so a call holds
 * at most one checkpoint when it returns — the one backing the returned
 * DataFrame. That one belongs to the CALLER: it lives as long as the
 * result is read, and `graft.spark.LocalCheckpoint.release(result)` (or
 * the end of the application) frees its blocks.
 */
object Graph {

  /**
   * Fixed-iteration PageRank on `edges` (columns `srcCol`, `dstCol`).
   * Returns (node, rank) with rank in fixed-point units of `scale`
   * (initial rank = `scale`; teleport term = 0.15·scale, damping 0.85,
   * both applied as exact integer multiply-divide). Dangling nodes keep
   * the teleport term; their outflow leaks rather than redistributing —
   * deterministic, and the standard simplification when ranks are used
   * as a relative quality prior rather than a probability distribution.
   * The result is an eager `localCheckpoint` the caller owns.
   */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3, scale: Long = 1000000L): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val deg = e.groupBy("src").agg(count(lit(1)).as("__deg"))
    // every round joins the degreed edge list — cache it once
    val eDeg = e.join(deg.hint("shuffle_hash"), "src").cache()
    val nodes = eDeg.select(col("src").as("node"))
      .union(eDeg.select(col("dst").as("node"))).distinct().cache()
    val teleport = (15L * scale) / 100L
    var ranks = nodes.select(col("node"), lit(scale).as("rank"))
    for (_ <- 1 to iters) {
      val contrib = eDeg
        .join(ranks.select(col("node").as("src"), col("rank")), "src")
        .select(col("dst"), expr("rank div __deg").as("__c"))
        .groupBy("dst").agg(sum(col("__c")).as("__s"))
      ranks = nodes.join(contrib.withColumnRenamed("dst", "node"),
          Seq("node"), "left_outer")
        .select(col("node"),
          (lit(teleport) + expr("(85 * coalesce(__s, 0L)) div 100"))
            .as("rank"))
    }
    val out = ranks.localCheckpoint(eager = true)
    eDeg.unpersist()
    nodes.unpersist()
    out
  }

  /**
   * PERSONALIZED PageRank: teleport mass goes only to the `seeds` set, so
   * ranks measure authority RELATIVE to trusted sources (the crawl-
   * scheduling prior: "how endorsed is this domain by the seeds") instead
   * of global popularity. Same exact fixed-point integer arithmetic and
   * per-round plan as [[pageRank]]; seeds carry initial rank `scale` and
   * the 0.15·scale teleport, everything else starts and teleports at 0.
   * The result is an eager `localCheckpoint` the caller owns.
   */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      srcCol: String, dstCol: String, seedCol: String, iters: Int = 3,
      scale: Long = 1000000L): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val deg = e.groupBy("src").agg(count(lit(1)).as("__deg"))
    val eDeg = e.join(deg.hint("shuffle_hash"), "src").cache()
    val sd = seeds.select(col(seedCol).cast("long").as("node")).distinct()
      .withColumn("__seed", lit(1L))
    val nodes = eDeg.select(col("src").as("node"))
      .union(eDeg.select(col("dst").as("node"))).distinct()
      .join(sd, Seq("node"), "left_outer")
      .select(col("node"), coalesce(col("__seed"), lit(0L)).as("__seed"))
      .cache()
    val teleport = (15L * scale) / 100L
    var ranks = nodes.select(col("node"),
      (col("__seed") * scale).as("rank"))
    for (_ <- 1 to iters) {
      val contrib = eDeg
        .join(ranks.select(col("node").as("src"), col("rank")), "src")
        .select(col("dst"), expr("rank div __deg").as("__c"))
        .groupBy("dst").agg(sum(col("__c")).as("__s"))
      ranks = nodes.join(contrib.withColumnRenamed("dst", "node"),
          Seq("node"), "left_outer")
        .select(col("node"),
          (col("__seed") * lit(teleport) +
            expr("(85 * coalesce(__s, 0L)) div 100")).as("rank"))
    }
    val out = ranks.localCheckpoint(eager = true)
    eDeg.unpersist()
    nodes.unpersist()
    out
  }

  /**
   * HITS hubs & authorities, UNNORMALIZED integer form: fixed mutual-
   * recursion rounds (auth ← Σ incoming hub, hub ← Σ outgoing auth) from
   * all-ones start. Scores grow ~(degree)^iters — meaningful as RELATIVE
   * rankings, which is what the hub/authority decomposition is used for —
   * and staying in integers keeps every round bit-for-bit deterministic
   * and engine-replayable (the usual L2 normalization is float, order-
   * dependent, and only rescales). Keep `iters` small (≤ 4): values are
   * bounded by maxdeg^(2·iters); a long overflows past that, and ANSI
   * mode turns overflow into an error rather than silent wrap.
   *
   * Per round: two hash joins + two map-side-combined sums over the
   * cached edge list — same shuffle budget as a [[pageRank]] round.
   * The result is an eager `localCheckpoint` the caller owns.
   */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).distinct().cache()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().cache()
    // Propagate only NONZERO mass: a node absent from a round's hub/auth
    // frame has exactly 0 and contributes nothing to any sum, so the inner
    // joins below compute the same integers as a dense all-nodes iteration
    // while shuffling only the support of the scores — the full node set
    // (with its zeros) joins back ONCE at the end, not twice per round.
    var hub = nodes.select(col("node"), lit(1L).as("hub"))
    var auth: DataFrame = null
    for (_ <- 1 to iters) {
      auth = e.join(hub.select(col("node").as("src"), col("hub")), "src")
        .groupBy(col("dst").as("node")).agg(sum(col("hub")).as("auth"))
      hub = e.join(auth.select(col("node").as("dst"), col("auth").as("__na")),
          "dst")
        .groupBy(col("src").as("node")).agg(sum(col("__na")).as("hub"))
    }
    val out = nodes
      .join(auth, Seq("node"), "left_outer")
      .join(hub.withColumnRenamed("hub", "__h"), Seq("node"), "left_outer")
      .select(col("node"), coalesce(col("__h"), lit(0L)).as("hub"),
        coalesce(col("auth"), lit(0L)).as("auth"))
      .localCheckpoint(eager = true)
    e.unpersist()
    nodes.unpersist()
    out
  }

  /**
   * Per-node triangle counts on an undirected graph given as an edge list
   * (either orientation, duplicates/self-loops tolerated). Returns
   * (node, tri_cnt) for nodes in at least one triangle.
   *
   * Scale posture: the standard DEGREE ORIENTATION — each undirected edge
   * is directed from its lower-(degree, id) endpoint to the higher, making
   * the out-degree of every node O(√|E|) (a hub of degree d keeps only
   * neighbors of degree ≥ d, and there can be at most 2|E|/d of those).
   * Wedges are then built by joining oriented edges head-to-tail and closed
   * by a semi-ish join against the oriented edge set — so the wedge volume
   * is Σ outdeg² = O(|E|^1.5), the best known bound, instead of the
   * Σ deg² of a naive orientation (quadratic in the hub degree: one viral
   * node of degree 10⁶ is 10¹² naive wedges but ~|E| oriented ones).
   * Three hash shuffles total (degree agg, wedge join, closing join).
   * The result is an eager `localCheckpoint` the caller owns.
   */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val raw = edges.select(col(srcCol).cast("long").as("a"),
      col(dstCol).cast("long").as("b")).filter(col("a") =!= col("b"))
    // canonical undirected edge (min, max), deduplicated
    val und = raw.select(least(col("a"), col("b")).as("a"),
      greatest(col("a"), col("b")).as("b")).distinct()
    val deg = und.select(col("a").as("n")).union(und.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    // orient by (degree, id): strictly ordered, so each triangle becomes
    // exactly one (u→v, v→w, u→w) pattern
    // cached: feeds THREE joins (both wedge legs + the closing probe) —
    // uncached, the distinct+degree+orientation pipeline re-executes per use
    val oriented = und
      .join(deg.withColumnRenamed("n", "a").withColumnRenamed("d", "da"), "a")
      .join(deg.withColumnRenamed("n", "b").withColumnRenamed("d", "db"), "b")
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("a").as("u"), col("b").as("v")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .cache()
    val wedges = oriented.as("e1")
      .join(oriented.select(col("u").as("v"), col("v").as("w")).as("e2"), "v")
    val tris = wedges.join(oriented.select(col("u"), col("v").as("w")),
      Seq("u", "w")) // (u,v,w) with all three oriented edges present
    val out = tris
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri_cnt"))
      .localCheckpoint(eager = true)
    oriented.unpersist()
    out
  }

  /**
   * Multi-source BFS: minimum hop distance from any seed, up to `maxHops`,
   * over a DIRECTED edge list. Returns (node, dist) for reached nodes
   * (seeds at 0). The crawl-frontier shape: "everything within k link hops
   * of the trusted seed set".
   *
   * Scale posture: per round, the FRONTIER (nodes first reached last
   * round — not the full reached set) hash-joins the edge list, then an
   * anti-join against reached keeps only newly discovered nodes, so total
   * work is O(edges-touched), the textbook distributed BFS. Both sides of
   * every join are keyed single shuffles; the reached set is re-cached per
   * round and the loop stops early when a frontier comes back empty.
   * Superseded frontiers and reached sets are released as the loop goes;
   * the result is the last reached set's eager `localCheckpoint`, which
   * the caller owns.
   */
  def bfsHops(edges: DataFrame, seeds: DataFrame, srcCol: String,
      dstCol: String, seedCol: String, maxHops: Int): DataFrame = {
    require(maxHops >= 0, "maxHops must be >= 0")
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).cache()
    // per-round eager localCheckpoint keeps lineage depth CONSTANT (the
    // cache-and-unpersist alternative recomputes the whole prefix when a
    // parent is dropped before its lazy child materializes)
    var reached = seeds.select(col(seedCol).cast("long").as("node")).distinct()
      .select(col("node"), lit(0L).as("dist")).localCheckpoint(eager = true)
    var frontier = reached
    var hop = 0
    var done = false
    while (hop < maxHops && !done) {
      hop += 1
      val next = frontier.join(e, frontier("node") === e("src"))
        .select(col("dst").as("node")).distinct()
        .join(reached.select("node"), Seq("node"), "left_anti")
        .select(col("node"), lit(hop.toLong).as("dist"))
        .localCheckpoint(eager = true)
      if (frontier ne reached) LocalCheckpoint.release(frontier)
      frontier = next
      if (next.isEmpty) done = true
      else {
        val prev = reached
        reached = reached.unionByName(next).localCheckpoint(eager = true)
        LocalCheckpoint.release(prev)
      }
    }
    if (frontier ne reached) LocalCheckpoint.release(frontier)
    e.unpersist()
    reached
  }

  /**
   * Bounded weighted shortest paths (Bellman-Ford, `rounds` relaxation
   * rounds) from a seed set over a directed edge list with INTEGER
   * non-negative weights — min cost within ≤ `rounds` hops. Integer
   * min/plus is associative/commutative, so results are bit-for-bit
   * deterministic and engine-replayable (same contract as [[pageRank]]).
   *
   * Scale posture: per round, one hash join of the CURRENT distance
   * vector against the cached edge list and one map-side-combined min by
   * destination — the whole vector relaxes each round (Bellman-Ford),
   * which unlike [[bfsHops]]' frontier trick is required once weights can
   * improve an already-reached node. Lineage stays constant via per-round
   * eager localCheckpoint, each released once the next round has
   * materialised. Returns (node, dist): the last round's checkpoint,
   * which the caller owns.
   */
  def shortestPaths(edges: DataFrame, seeds: DataFrame, srcCol: String,
      dstCol: String, weightCol: String, seedCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 0, "rounds must be >= 0")
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"),
      col(weightCol).cast("long").as("w")).cache()
    var dist = seeds.select(col(seedCol).cast("long").as("node")).distinct()
      .select(col("node"), lit(0L).as("dist")).localCheckpoint(eager = true)
    for (_ <- 1 to rounds) {
      val relaxed = dist.join(e, dist("node") === e("src"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
      val prev = dist
      dist = dist.unionByName(relaxed)
        .groupBy("node").agg(min(col("dist")).as("dist"))
        .localCheckpoint(eager = true)
      LocalCheckpoint.release(prev)
    }
    e.unpersist()
    dist
  }

  /**
   * k-core: the maximal subgraph where every node has degree ≥ k
   * (undirected; either orientation accepted, self-loops dropped) — the
   * standard "dense cohesive region" extractor (spam-farm detection, seed
   * selection). Iterative peeling: drop all nodes with degree < k,
   * recompute degrees on the induced subgraph, repeat. The fixed point is
   * unique (peeling order cannot change it), so the result is
   * deterministic and replayable by ANY round count ≥ the stabilization
   * round — the oracle can unroll a fixed number of rounds while the
   * engine exits early on an unchanged node count. Returns (node, deg)
   * within the core.
   *
   * Scale posture: per round, one map-side-combined degree count and two
   * semi-joins to induce the subgraph; per-round eager localCheckpoint
   * keeps lineage constant (the peel depth is data-bounded but each round
   * is one shuffle round-trip, same as the CC loop). A superseded round's
   * checkpoint is released once the next has materialised; the returned
   * (lazy) DataFrame reads the last one, which the caller owns.
   */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      maxRounds: Int = 30): DataFrame = {
    require(k >= 1 && maxRounds >= 1)
    val raw = edges.select(col(srcCol).cast("long").as("a"),
      col(dstCol).cast("long").as("b")).filter(col("a") =!= col("b"))
    var e = raw.select(least(col("a"), col("b")).as("a"),
      greatest(col("a"), col("b")).as("b")).distinct()
      .localCheckpoint(eager = true)
    var done = false
    var rounds = 0
    var lastCount = -1L
    while (!done && rounds < maxRounds) {
      rounds += 1
      val deg = e.select(col("a").as("n")).union(e.select(col("b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
      val keep = deg.filter(col("d") >= k).select("n")
      val kept = keep.count()
      if (kept == lastCount) done = true
      else {
        lastCount = kept
        val prev = e
        e = e.join(keep.withColumnRenamed("n", "a"), Seq("a"), "left_semi")
          .join(keep.withColumnRenamed("n", "b"), Seq("b"), "left_semi")
          .localCheckpoint(eager = true)
        LocalCheckpoint.release(prev)
      }
    }
    e.select(col("a").as("n")).union(e.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= k)
  }

  /**
   * Hierarchy resolution by POINTER DOUBLING: given a forest as
   * (child, parent) rows — roots marked by the self-loop convention
   * `parent == child` — return (node, root, depth) for every node.
   *
   * Each round rewrites every node's known ancestor to that ancestor's
   * OWN known ancestor, summing the step counts, so the reach doubles per
   * round: a depth-d hierarchy resolves in ⌈log₂ d⌉ rounds (the same
   * doubling trick as [[graft.ops.Dedup.nearDupClusters]]' pointer jump) —
   * a sequential parent-walk would be O(d) joins, catastrophic for deep
   * chains. Root self-loops are the fixed point (their own entry adds 0),
   * so extra rounds are identity; the loop exits early when the total
   * depth sum stops growing (monotone until converged). One self-join per
   * round, constant lineage via eager localCheckpoint; a superseded round's
   * checkpoint is released once the next has materialised, and the
   * returned (lazy) DataFrame reads the last one, which the caller owns.
   */
  def rootDepths(parents: DataFrame, childCol: String, parentCol: String,
      maxRounds: Int = 20): DataFrame = {
    var st = parents.select(col(childCol).cast("long").as("node"),
        col(parentCol).cast("long").as("anc"))
      .withColumn("d",
        when(col("anc") === col("node"), 0L).otherwise(1L))
      .localCheckpoint(eager = true)
    var rounds = 0
    var done = false
    var lastSum = -1L
    while (!done && rounds < maxRounds) {
      rounds += 1
      val hop = st.select(col("node").as("anc"), col("anc").as("anc2"),
        col("d").as("d2"))
      val prev = st
      st = st.join(hop, Seq("anc"))
        .select(col("node"), col("anc2").as("anc"),
          (col("d") + col("d2")).as("d"))
        .localCheckpoint(eager = true)
      LocalCheckpoint.release(prev)
      val s = st.agg(sum(col("d"))).head().getLong(0)
      if (s == lastSum) done = true else lastSum = s
    }
    st.select(col("node"), col("anc").as("root"), col("d").as("depth"))
  }

  /**
   * Neighborhood-Jaccard link prediction over a bipartite incidence list
   * (left, right): for every RIGHT pair sharing at least `minCommon` left
   * neighbors, the Jaccard similarity of their left-neighbor sets —
   * the classic "customers who bought X also bought Y" / related-item
   * score, and the same shape as co-citation document similarity.
   *
   * Returns (r1, r2, common, jac_micro) with r1 < r2; `jac_micro` is
   * round(1e6 * |N1 ∩ N2| / |N1 ∪ N2|) — an integer ratio of two exact
   * counts, so cross-engine deterministic.
   *
   * Scale posture: candidate pairs are generated ONLY through shared left
   * nodes (one self-join keyed on left — never all right pairs), and the
   * quadratic hazard is a hub LEFT node (a customer who bought 10⁶ items
   * contributes deg² pairs). `maxLeftDegree` drops those hubs before the
   * self-join via a partial-agg'd count + broadcast semi-join — the same
   * capped-blocking discipline as the MinHash/SimHash bucket caps — and
   * it is CAPPED BY DEFAULT (1000): an uncapped default means one
   * celebrity node dominates a stage at 100× data, which is exactly the
   * failure a default should not carry. Recall statement: the only pairs
   * the cap can lose are those whose EVERY shared left neighbor has
   * >1000 distinct rights — co-occurrence inside a node that
   * indiscriminate is ~noise as similarity evidence (its deg² pairs each
   * share one near-universal neighbor), the same rationale as dropping
   * stopword-frequency shingles in the LSH caps. Degrees and Jaccard are
   * computed over the capped graph, so `common <= min(d1, d2)` remains
   * an invariant. Pass `Long.MaxValue` for the exact uncapped semantics.
   * The r12 default change from exact to capped is INTENTIONAL
   * (adjudicated, ADVICE r12): a scale-unsafe default is the worse
   * contract; callers needing the old behavior opt in explicitly, and
   * both semantics stay oracle-gated (`x_link_predict` at the default
   * cap, `x_link_predict_capped` at cap 50).
   * Three hash shuffles total (degree aggs, pair agg) + two
   * broadcastable dimension joins.
   *
   * Shape note (measured r7): generating pairs map-side from per-left
   * collect_set arrays (nested `transform`/`flatten`/`explode`) was tried
   * and is ~1.7× SLOWER at sf0.1 (9.9 s vs 5.7 s isolated) — the
   * higher-order-function struct allocation loses to the streamed
   * codegen self-join, and both shapes are deg²-per-hub so the cap is
   * the scale answer either way. Keep the join. Also measured (r8):
   * persisting `e` to share it between the self-join and the degree agg
   * is 1.26× slower (6.8 s vs 5.4 s isolated median-of-3) — exchange
   * reuse already deduplicates the distinct's shuffle, and the cache
   * write is pure overhead on top. Keep the unpersisted plan. Also
   * measured (r10): the BUCKETED array-pairs variant — rights hashed
   * into B buckets per left, one sorted collect_list per (l, bucket),
   * pairs from per-array HOFs (intra) plus a bucket-pair cross join
   * (inter), hoping ~deg/B arrays would dodge the r7 allocation blowup —
   * is 2.0× SLOWER at B=8 (14.4 s vs 7.2 s isolated median-of-3 at
   * sf0.1) and 2.6× at B=4 (18.9 s): the groupBy(l,bkt) adds a full
   * extra shuffle of the edge list, the HOF struct allocation returns
   * per bucket, and the B²/2 inter-bucket join rows per l cost more
   * than the streamed join ever did. Same oracle output (value-checked
   * at sf0.01 before measuring). The codegen self-join stays.
   */
  def neighborJaccard(edges: DataFrame, leftCol: String, rightCol: String,
      minCommon: Long, maxLeftDegree: Long = 1000L): DataFrame = {
    val e = edges.select(col(leftCol).cast("long").as("l"),
      col(rightCol).cast("long").as("r")).distinct()
    val keptLeft =
      if (maxLeftDegree == Long.MaxValue) e
      else {
        val ok = e.groupBy("l").agg(count(lit(1)).as("dl"))
          .filter(col("dl") <= maxLeftDegree).select("l")
        e.join(broadcast(ok), Seq("l"), "left_semi")
      }
    // degrees of the CAPPED graph, not the raw edge list: once hubs are
    // dropped, the similarity is defined over the graph that remains —
    // common <= min(d1, d2) stays an invariant, and jac_micro's
    // denominator counts the same evidence the numerator does
    val deg = keptLeft.groupBy("r").agg(count(lit(1)).as("d"))
    // degree prune (recall-exact): a right node with global degree <
    // minCommon cannot reach `common >= minCommon` with ANY partner
    // (common <= min(d1, d2)), so drop its edges BEFORE the quadratic
    // self-join — the pair explosion shrinks at the source instead of
    // being aggregated away after the shuffle. Measured r8 at sf0.1
    // (median-of-3 isolated): 6.54 s without / 6.62 s with — wall-neutral
    // here because this testdata has almost no sub-threshold right nodes,
    // kept because on heavy-tailed real degree distributions the long
    // tail is MOST nodes and the pruned pair volume is strictly smaller
    // at zero recall cost.
    val paired =
      if (minCommon <= 1L) keptLeft
      else keptLeft.join(
        broadcast(deg.filter(col("d") >= minCommon).select("r")),
        Seq("r"), "left_semi")
    val pairs = paired.as("a")
      .join(paired.withColumnRenamed("r", "r2").as("b"), "l")
      .filter(col("r") < col("r2"))
      .groupBy(col("r").as("r1"), col("r2"))
      .agg(count(lit(1)).as("common"))
      .filter(col("common") >= minCommon)
    pairs
      .join(deg.select(col("r").as("r1"), col("d").as("d1")), "r1")
      .join(deg.select(col("r").as("r2"), col("d").as("d2")), "r2")
      .select(col("r1"), col("r2"), col("common"),
        round(col("common") * lit(1000000.0) /
          (col("d1") + col("d2") - col("common")), 0).cast("long")
          .as("jac_micro"))
  }

  /**
   * Synchronous label-propagation community detection, fully
   * deterministic: every node starts labeled with its own id; each round
   * ALL nodes simultaneously adopt the most frequent label among their
   * neighbors, ties broken by the smallest label. (The classic
   * async/random-order LPA is irreproducible by construction — the
   * synchronous min-tie-break variant trades a little convergence speed
   * for an engine-replayable fixed point, the same determinism posture as
   * [[pageRank]]'s integer rounds.)
   *
   * Per round: one hash join (labels onto the symmetrized edge list), one
   * (node,label) count aggregate, and one per-node argmax as a
   * `min_by`-shaped aggregate (partial-agg capable — NOT a window sort,
   * so a celebrity node's million-neighbor vote count combines map-side).
   * Constant lineage via eager localCheckpoint per round; a superseded
   * round's checkpoint is released once the next has materialised, and
   * the result is the last round's, which the caller owns.
   *
   * Returns (node, label) after `rounds` rounds; isolated nodes never
   * appear (no edges → no community evidence).
   */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int = 3): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    val raw = edges.select(col(srcCol).cast("long").as("a"),
      col(dstCol).cast("long").as("b")).filter(col("a") =!= col("b"))
    val e = raw.union(raw.select(col("b").as("a"), col("a").as("b")))
      .distinct().cache()
    val nodes = e.select(col("a").as("node")).distinct()
    var labels = nodes.select(col("node"), col("node").as("label"))
    for (round <- 1 to rounds) {
      val votes = e
        .join(labels.select(col("node").as("a"), col("label")), "a")
        .groupBy(col("b").as("node"), col("label"))
        .agg(count(lit(1)).as("__c"))
      val prev = labels
      labels = votes
        .groupBy("node")
        .agg(min(struct((-col("__c")).as("negc"), col("label"))).as("__m"))
        .select(col("node"), col("__m.label").as("label"))
        .localCheckpoint(eager = true)
      // round 1's input is the lazy identity labelling, not a checkpoint
      if (round > 1) LocalCheckpoint.release(prev)
    }
    e.unpersist()
    labels
  }
}
