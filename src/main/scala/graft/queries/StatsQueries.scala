package graft.queries

import graft.functions.Kit
import graft.ops.{Graph, Similarity, Stats}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Statistical-analytics extension surface (SURVEY §2.12): correlation
 * matrix, per-group OLS regression, z-score outliers, chi-square
 * independence, grid-blocked spatial distance join, association rules,
 * and kNN classification — each oracle-gated against DuckDB.
 *
 * Determinism recipe (shared with [[LlmQueries]]): integer-scaled inputs →
 * exact BIGINT moment sums → a fixed IEEE-754 double expression tree the
 * oracle mirrors op-for-op → micro-unit rounding. See [[graft.ops.Stats]].
 */
object StatsQueries {
  type Q = (SparkSession, String) => DataFrame

  // ── Pearson correlation matrix in one scan ──────────────────────────────
  private val xCorr: Q = (s, dir) => {
    val d = Tables.lineitem(s, dir).select(
      col("l_quantity").cast("long").as("qty"),
      round(col("l_extendedprice"), 0).cast("long").as("price_d"),
      round(col("l_discount") * 10000, 0).cast("long").as("disc_bps"),
      round(col("l_tax") * 10000, 0).cast("long").as("tax_bps"))
    Stats.corrMatrix(d, Seq("qty", "price_d", "disc_bps", "tax_bps"))
      .select(col("col_x"), col("col_y"), col("n"),
        Kit.microUnits(col("corr")).as("corr_micro"))
      .orderBy(col("col_x"), col("col_y"))
  }
  private val xCorrSql = {
    val cols = Seq("qty", "price_d", "disc_bps", "tax_bps")
    val pairs = for { i <- cols.indices; j <- cols.indices if i < j }
      yield (cols(i), cols(j))
    val moments = cols.flatMap(c => Seq(
      s"CAST(sum($c) AS BIGINT) AS s_$c",
      s"CAST(sum($c * $c) AS BIGINT) AS ss_$c")) ++
      pairs.map { case (a, b) => s"CAST(sum($a * $b) AS BIGINT) AS sp_${a}_$b" }
    val rows = pairs.map { case (a, b) =>
      s"""SELECT '$a' AS col_x, '$b' AS col_y, n,
         |  CAST(round(
         |    (CAST(n AS DOUBLE) * CAST(sp_${a}_$b AS DOUBLE)
         |       - CAST(s_$a AS DOUBLE) * CAST(s_$b AS DOUBLE)) /
         |    sqrt((CAST(n AS DOUBLE) * CAST(ss_$a AS DOUBLE)
         |            - CAST(s_$a AS DOUBLE) * CAST(s_$a AS DOUBLE))
         |         * (CAST(n AS DOUBLE) * CAST(ss_$b AS DOUBLE)
         |            - CAST(s_$b AS DOUBLE) * CAST(s_$b AS DOUBLE)))
         |    * 1000000, 0) AS BIGINT) AS corr_micro FROM m""".stripMargin }
    s"""WITH d AS (
       |  SELECT CAST(l_quantity AS BIGINT) AS qty,
       |    CAST(round(l_extendedprice, 0) AS BIGINT) AS price_d,
       |    CAST(round(l_discount * 10000, 0) AS BIGINT) AS disc_bps,
       |    CAST(round(l_tax * 10000, 0) AS BIGINT) AS tax_bps
       |  FROM lineitem
       |), m AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n, ${moments.mkString(",\n    ")}
       |  FROM d
       |)
       |${rows.mkString("\nUNION ALL\n")}
       |ORDER BY col_x, col_y""".stripMargin
  }

  // ── per-group OLS: extendedprice (dollars) on quantity ──────────────────
  private val xRegression: Q = (s, dir) => {
    val d = Tables.lineitem(s, dir).select(
      col("l_returnflag").as("g"),
      col("l_quantity").cast("long").as("x"),
      round(col("l_extendedprice"), 0).cast("long").as("y"))
    Stats.olsRegression(d, "g", "x", "y")
      .select(col("group"), col("n"),
        Kit.microUnits(col("slope")).as("slope_micro"),
        Kit.microUnits(col("intercept")).as("intercept_micro"),
        Kit.microUnits(col("r2")).as("r2_ppm"))
      .orderBy(col("group"))
  }
  private val xRegressionSql =
    """WITH d AS (
      |  SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS x,
      |    CAST(round(l_extendedprice, 0) AS BIGINT) AS y
      |  FROM lineitem
      |), m AS (
      |  SELECT g, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx,
      |    CAST(sum(y * y) AS BIGINT) AS syy,
      |    CAST(sum(x * y) AS BIGINT) AS sxy
      |  FROM d GROUP BY g
      |), f AS (
      |  SELECT g, n,
      |    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov,
      |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS varx,
      |    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vary,
      |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
      |  FROM m
      |)
      |SELECT g AS "group", n,
      |  CAST(round((cov / varx) * 1000000, 0) AS BIGINT) AS slope_micro,
      |  CAST(round(((syd - (cov / varx) * sxd) / CAST(n AS DOUBLE))
      |             * 1000000, 0) AS BIGINT) AS intercept_micro,
      |  CAST(round(((cov * cov) / (varx * vary)) * 1000000, 0) AS BIGINT)
      |    AS r2_ppm
      |FROM f ORDER BY "group"""".stripMargin

  // ── per-type z-score outliers on event value (cents) ────────────────────
  private val xOutliers: Q = (s, dir) => {
    val e = Tables.events(s, dir).select(col("event_type"), col("event_id"),
      Kit.cents(col("value")).as("v"))
    Stats.zscoreOutliers(e, "event_type", "event_id", "v", z = 3.0)
      .select(col("group"), col("id"), col("v"),
        Kit.microUnits(col("zscore")).as("z_micro"))
      .orderBy(col("group"), col("id"))
  }
  private val xOutliersSql =
    """WITH d AS (
      |  SELECT event_type AS g, event_id AS id,
      |    CAST(round(value * 100, 0) AS BIGINT) AS v
      |  FROM events
      |), m AS (
      |  SELECT g, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(v) AS BIGINT) AS s, CAST(sum(v * v) AS BIGINT) AS ss
      |  FROM d GROUP BY g
      |), st AS (
      |  SELECT g, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
      |    sqrt((CAST(ss AS DOUBLE)
      |          - (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / CAST(n AS DOUBLE))
      |         / CAST(n AS DOUBLE)) AS std
      |  FROM m
      |)
      |SELECT d.g AS "group", d.id, d.v,
      |  CAST(round(((CAST(d.v AS DOUBLE) - st.mean) / st.std) * 1000000, 0)
      |    AS BIGINT) AS z_micro
      |FROM d JOIN st ON d.g = st.g
      |WHERE abs(CAST(d.v AS DOUBLE) - st.mean) > 3.0 * st.std
      |ORDER BY "group", id""".stripMargin

  // ── Welch two-sample t-test: click vs purchase values ───────────────────
  // One scan → six exact bigint moment sums → fixed double tree (mirrored
  // op-for-op in the oracle; sqrt and / are IEEE correctly-rounded, so the
  // doubles are bit-identical across engines).
  private val xTtest: Q = (s, dir) => {
    graft.ops.Stats.welchTTest(Tables.events(s, dir), "event_type",
      Kit.cents(col("value")), a = "click", b = "purchase")
  }
  private val xTtestSql =
    """WITH d AS (
      |  SELECT event_type AS g, CAST(round(value * 100, 0) AS BIGINT) AS v
      |  FROM events
      |), m AS (
      |  SELECT
      |    CAST(sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN g = 'click' THEN v ELSE 0 END) AS BIGINT) AS s_a,
      |    CAST(sum(CASE WHEN g = 'click' THEN v * v ELSE 0 END) AS BIGINT) AS q_a,
      |    CAST(sum(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(sum(CASE WHEN g = 'purchase' THEN v ELSE 0 END) AS BIGINT) AS s_b,
      |    CAST(sum(CASE WHEN g = 'purchase' THEN v * v ELSE 0 END) AS BIGINT) AS q_b
      |  FROM d
      |), f AS (
      |  SELECT n_a, n_b,
      |    CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS mean_a,
      |    CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mean_b,
      |    ((CAST(q_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE)
      |        / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0))
      |      / CAST(n_a AS DOUBLE) AS va,
      |    ((CAST(q_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE)
      |        / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0))
      |      / CAST(n_b AS DOUBLE) AS vb
      |  FROM m
      |)
      |SELECT n_a, n_b, mean_a, mean_b,
      |  (mean_a - mean_b) / sqrt(va + vb) AS t_stat,
      |  (va + vb) * (va + vb) /
      |    (va * va / (CAST(n_a AS DOUBLE) - 1.0)
      |     + vb * vb / (CAST(n_b AS DOUBLE) - 1.0)) AS df
      |FROM f""".stripMargin

  // ── deterministic half-sample bootstrap CI for the mean ─────────────────
  // 48 hash-bit resamples accumulated in ONE aggregate row (no resample
  // shuffles); the oracle REGENERATES the identical 96 CASE-sums, so the
  // resample means — and the sorted CI bounds — are bit-identical doubles.
  private val xBootstrap: Q = (s, dir) => {
    graft.ops.Stats.bootstrapMeanCI(Tables.events(s, dir),
      col("event_id"), Kit.cents(col("value")), b = 48)
  }
  private val xBootstrapSql = {
    val b = 48
    val terms = (0 until b).flatMap(r => Seq(
      s"CAST(sum(v * ((h >> $r) & 1)) AS BIGINT) AS s$r",
      s"CAST(sum((h >> $r) & 1) AS BIGINT) AS n$r"))
    val meanList = (0 until b)
      .map(r => s"CAST(s$r AS DOUBLE) / CAST(n$r AS DOUBLE)").mkString(", ")
    s"""WITH d AS (
       |  SELECT ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT AS h,
       |    CAST(round(value * 100, 0) AS BIGINT) AS v
       |  FROM events
       |), m AS (
       |  SELECT ${terms.mkString(",\n    ")},
       |    CAST(sum(v) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
       |  FROM d
       |), q AS (
       |  SELECT n, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
       |    list_sort([$meanList]) AS ms FROM m
       |)
       |SELECT n, mean, ms[2] AS ci_lo, ms[${b - 1}] AS ci_hi FROM q""".stripMargin
  }

  // ── chi-square independence: event_type × epoch-day-of-week ─────────────
  // The weekday category is pure integer arithmetic on the epoch-nanos
  // long ((ms // 86400000) % 7) — no calendar functions, engine-portable.
  private val xChisq: Q = (s, dir) => {
    val e = Tables.events(s, dir)
      .withColumn("__ms", Kit.nanosToMillis("ts"))
      .select(col("event_type").as("a"),
        (expr("__ms div 86400000") % lit(7L)).as("b"))
    Stats.chiSquare(e, "a", "b")
  }
  private val xChisqSql =
    """WITH d AS (
      |  SELECT event_type AS a, (epoch_ns(ts) // 1000000 // 86400000) % 7 AS b
      |  FROM events
      |), obs AS (
      |  SELECT a, b, CAST(count(*) AS BIGINT) AS o FROM d GROUP BY a, b
      |), rt AS (SELECT a, CAST(sum(o) AS BIGINT) AS rt FROM obs GROUP BY a),
      |ct AS (SELECT b, CAST(sum(o) AS BIGINT) AS ct FROM obs GROUP BY b),
      |tot AS (
      |  SELECT CAST(sum(o) AS BIGINT) AS n,
      |    CAST(count(DISTINCT a) AS BIGINT) AS ra,
      |    CAST(count(DISTINCT b) AS BIGINT) AS cb
      |  FROM obs
      |), cells AS (
      |  SELECT CAST(round(
      |    ((CAST(o AS DOUBLE) * CAST(o AS DOUBLE))
      |     / ((CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)) / CAST(n AS DOUBLE)))
      |    * 1000000.0, 0) AS BIGINT) AS c_micro, n, ra, cb
      |  FROM obs
      |  JOIN rt USING (a) JOIN ct USING (b) CROSS JOIN tot
      |)
      |SELECT CAST(count(*) AS BIGINT) AS n_cells,
      |  (ra - 1) * (cb - 1) AS dof,
      |  CAST(sum(c_micro) - n * 1000000 AS BIGINT) AS chi2_micro
      |FROM cells GROUP BY n, ra, cb""".stripMargin

  // ── grid-blocked planar distance self-join ──────────────────────────────
  // Deterministic pseudo-coordinates derived from the customer key. The
  // scatter must be QUADRATIC in the key: a linear map would place all
  // points on a sparse 1-D lattice of the 100×100 torus (pair displacement
  // depends only on key DELTA, and no small delta lands within the radius
  // at small SF → zero pairs), while Weyl-style k² sequences equidistribute
  // pairwise. Pairs within radius 0.5 via 3×3 cell blocking; the oracle
  // brute-forces the same predicate — valid because no cell hits the
  // blow-up cap at gate SF.
  private val xGeoJoin: Q = (s, dir) => {
    val k = col("c_custkey")
    val pts = Tables.customer(s, dir).select(k.as("id"),
      (((k * k * lit(31L) + k * lit(7919L)) % lit(100000L)) / lit(1000.0)).as("x"),
      (((k * k * lit(57L) + k * lit(104729L) + lit(11L)) % lit(100000L)) / lit(1000.0)).as("y"))
    Stats.gridDistanceJoin(pts, "id", "x", "y", radius = 0.5)
      .select(col("id_a"), col("id_b"), Kit.microUnits(col("d2")).as("d2_micro"))
      .orderBy(col("id_a"), col("id_b"))
  }
  private val xGeoJoinSql =
    """WITH p AS (
      |  SELECT c_custkey AS id,
      |    ((c_custkey * c_custkey * 31 + c_custkey * 7919) % 100000)
      |      / 1000.0 AS x,
      |    ((c_custkey * c_custkey * 57 + c_custkey * 104729 + 11) % 100000)
      |      / 1000.0 AS y
      |  FROM customer
      |)
      |SELECT a.id AS id_a, b.id AS id_b,
      |  CAST(round(((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y))
      |             * 1000000, 0) AS BIGINT) AS d2_micro
      |FROM p a, p b
      |WHERE a.id < b.id
      |  AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 0.5 * 0.5
      |ORDER BY id_a, id_b""".stripMargin

  // ── association rules over per-user event-type baskets ──────────────────
  private val xAssocRules: Q = (s, dir) => {
    val tx = Tables.events(s, dir).select(col("user_id"), col("event_type"))
    Stats.assocRules(tx, "user_id", "event_type")
      .select(col("ante"), col("cons"), col("pair_n"), col("n_baskets"),
        Kit.microUnits(col("support")).as("supp_ppm"),
        Kit.microUnits(col("confidence")).as("conf_ppm"),
        Kit.microUnits(col("lift")).as("lift_micro"))
      .orderBy(col("ante"), col("cons"))
  }
  private val xAssocRulesSql =
    """WITH items AS (
      |  SELECT DISTINCT user_id AS basket, event_type AS item FROM events
      |), ic AS (
      |  SELECT item, CAST(count(*) AS BIGINT) AS item_n FROM items GROUP BY item
      |), nb AS (
      |  SELECT CAST(count(DISTINCT basket) AS BIGINT) AS n_baskets FROM items
      |), pr AS (
      |  SELECT a.item AS ia, b.item AS ib, CAST(count(*) AS BIGINT) AS pair_n
      |  FROM items a JOIN items b ON a.basket = b.basket AND a.item < b.item
      |  GROUP BY a.item, b.item
      |), dir AS (
      |  SELECT ia AS ante, ib AS cons, pair_n FROM pr
      |  UNION ALL
      |  SELECT ib AS ante, ia AS cons, pair_n FROM pr
      |)
      |SELECT ante, cons, pair_n, n_baskets,
      |  CAST(round((CAST(pair_n AS DOUBLE) / CAST(n_baskets AS DOUBLE))
      |             * 1000000, 0) AS BIGINT) AS supp_ppm,
      |  CAST(round((CAST(pair_n AS DOUBLE) / CAST(ca.item_n AS DOUBLE))
      |             * 1000000, 0) AS BIGINT) AS conf_ppm,
      |  CAST(round(((CAST(pair_n AS DOUBLE) * CAST(n_baskets AS DOUBLE)) /
      |              (CAST(ca.item_n AS DOUBLE) * CAST(cc.item_n AS DOUBLE)))
      |             * 1000000, 0) AS BIGINT) AS lift_micro
      |FROM dir
      |JOIN ic ca ON dir.ante = ca.item
      |JOIN ic cc ON dir.cons = cc.item
      |CROSS JOIN nb
      |ORDER BY ante, cons""".stripMargin

  // ── kNN majority-vote classification over embeddings ────────────────────
  // Leave-one-out: each query (every 25th vector) takes the majority label
  // of its 5 nearest OTHER vectors by cosine; ties → smallest label.
  private val simKnn: Q = (s, dir) => {
    val em = Tables.embeddings(s, dir)
    val queries = em.filter(col("vec_id") % 25 === 0)
    Similarity.knnClassify(em, queries, k = 5)
      .select(col("query_id"), col("pred_label").cast("long").as("pred_label"),
        col("votes"), col("n_neighbors"))
      .orderBy(col("query_id"))
  }
  private val simKnnSql =
    """WITH v AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      |), q AS (
      |  SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id % 25 = 0
      |), s AS (
      |  SELECT q.query_id, v.vec_id AS neighbor_id, v.label,
      |    list_sum(list_transform(range(1, 65), i -> v.e[i] * q.qe[i])) /
      |      (sqrt(list_sum(list_transform(v.e, x -> x * x))) *
      |       sqrt(list_sum(list_transform(q.qe, x -> x * x)))) AS cos
      |  FROM v, q WHERE v.vec_id <> q.query_id
      |), r AS (
      |  SELECT query_id, label,
      |    row_number() OVER (PARTITION BY query_id
      |                       ORDER BY cos DESC, neighbor_id) AS rank
      |  FROM s
      |), votes AS (
      |  SELECT query_id, label, CAST(count(*) AS BIGINT) AS votes
      |  FROM r WHERE rank <= 5 GROUP BY query_id, label
      |), winner AS (
      |  SELECT query_id, label, votes,
      |    row_number() OVER (PARTITION BY query_id
      |                       ORDER BY votes DESC, label) AS wr,
      |    CAST(sum(votes) OVER (PARTITION BY query_id) AS BIGINT) AS n_neighbors
      |  FROM votes
      |)
      |SELECT query_id, CAST(label AS BIGINT) AS pred_label, votes, n_neighbors
      |FROM winner WHERE wr = 1 ORDER BY query_id""".stripMargin

  // ── synchronous label-propagation communities ───────────────────────────
  // Same supplier→customer→nation graph as x_pagerank, symmetrized; two
  // deterministic rounds (most-frequent neighbor label, ties → min label)
  // unrolled in the oracle.
  private val xLpa: Q = (s, dir) => {
    val ship = GraphFixtures.shipEdges(s, dir) // cached distinct fixture
    val residence = Tables.customer(s, dir).select(
      (col("c_custkey") + 1000000L).as("src"),
      (col("c_nationkey") + 2000000L).as("dst"))
    Graph.labelPropagation(ship.unionByName(residence),
        "src", "dst", rounds = 2)
      .orderBy(col("node"))
  }
  private val xLpaSql = {
    def round(prev: String, votes: String, cur: String) =
      s"""$votes AS (
         |  SELECT e.b AS node, l.label, CAST(count(*) AS BIGINT) AS c
         |  FROM ed e JOIN $prev l ON e.a = l.node GROUP BY e.b, l.label
         |), $cur AS (
         |  SELECT node, label FROM (
         |    SELECT node, label,
         |      row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
         |    FROM $votes) WHERE rn = 1
         |)""".stripMargin
    s"""WITH und AS (
       |  SELECT DISTINCT l.l_suppkey AS a, o.o_custkey + 1000000 AS b
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  UNION
       |  SELECT c_custkey + 1000000 AS a, c_nationkey + 2000000 AS b
       |  FROM customer
       |), ed AS (
       |  SELECT DISTINCT a, b FROM (
       |    SELECT a, b FROM und UNION ALL SELECT b AS a, a AS b FROM und)
       |  WHERE a <> b
       |), l0 AS (SELECT DISTINCT a AS node, a AS label FROM ed),
       |${round("l0", "v1", "l1")},
       |${round("l1", "v2", "l2")}
       |SELECT node, label FROM l2 ORDER BY node""".stripMargin
  }

  // ── nearest-centroid (Rocchio) classification ───────────────────────────
  private val simCentroid: Q = (s, dir) => {
    val em = Tables.embeddings(s, dir)
    val queries = em.filter(col("vec_id") % 25 === 0)
    Similarity.nearestCentroidClassify(em, queries)
      .select(col("query_id"), col("pred_label").cast("long").as("pred_label"),
        Kit.microUnits(col("cos")).as("cos_micro"))
      .orderBy(col("query_id"))
  }
  private val simCentroidSql =
    """WITH v AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      |), comp AS (
      |  SELECT label, t.i AS pos,
      |    CAST(round(e[t.i] * 1000000, 0) AS BIGINT) AS q
      |  FROM v, range(1, 65) t(i)
      |), dims AS (
      |  SELECT label, pos, CAST(sum(q) AS BIGINT) AS s,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM comp GROUP BY label, pos
      |), cent AS (
      |  SELECT label,
      |    list(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) ORDER BY pos) AS cv
      |  FROM dims GROUP BY label
      |), q AS (
      |  SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id % 25 = 0
      |), sc AS (
      |  SELECT q.query_id, c.label,
      |    list_sum(list_transform(range(1, 65), i -> q.qe[i] * c.cv[i])) /
      |      (sqrt(list_sum(list_transform(q.qe, x -> x * x))) *
      |       sqrt(list_sum(list_transform(c.cv, x -> x * x)))) AS cos
      |  FROM q, cent c
      |), r AS (
      |  SELECT query_id, label, cos,
      |    row_number() OVER (PARTITION BY query_id
      |                       ORDER BY cos DESC, label) AS rn
      |  FROM sc
      |)
      |SELECT query_id, CAST(label AS BIGINT) AS pred_label,
      |  CAST(round(cos * 1000000, 0) AS BIGINT) AS cos_micro
      |FROM r WHERE rn = 1 ORDER BY query_id""".stripMargin

  // ── bloom-filter point-lookup file skipping ─────────────────────────────
  // The layout is range-partitioned by SHIP DATE, so a `l_orderkey = v`
  // lookup gets nothing from min/max envelopes (every file spans the key
  // space) — the per-file bloom manifest prunes it instead. Gate asserts
  // the pruned scan returns exactly the full-scan answer AND that files
  // were actually skipped.
  private val xBloomSkip: Q = (s, dir) => {
    import org.apache.spark.sql.types.TimestampType
    val tmp = java.nio.file.Files.createTempDirectory("graft_bloom").toString
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), Kit.cents(col("l_extendedprice")).as("price_c"),
        unix_micros(col("l_shipdate").cast(TimestampType)).as("ship_us"))
      .repartitionByRange(12, col("ship_us"))
      .sortWithinPartitions(col("ship_us"))
      .write.mode("overwrite").parquet(tmp)
    val probe = Tables.lineitem(s, dir)
      .agg(min(col("l_orderkey"))).collect()(0).getLong(0)
    val manifest = graft.sources.Layout.bloomManifest(s, tmp, "l_orderkey")
      .cache()
    val (scan, kept, total) = graft.sources.Layout.bloomSkippingRead(
      s, tmp, manifest, "l_orderkey", lit(probe))
    manifest.unpersist()
    val pruned = scan.agg(count(lit(1)).as("n"),
      sum(col("price_c")).as("sum_price_c"))
    val full = s.read.parquet(tmp).filter(col("l_orderkey") === probe)
      .agg(count(lit(1)).as("fn"), sum(col("price_c")).as("fsum"))
    pruned.crossJoin(full)
      .select(col("n"), col("sum_price_c"), lit(total).as("files_total"),
        lit(kept < total).as("pruned"),
        (col("n") === col("fn") && col("sum_price_c") === col("fsum"))
          .as("matches_full"))
  }
  private val xBloomSkipSql =
    """SELECT CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
      |    AS sum_price_c,
      |  CAST(12 AS BIGINT) AS files_total, true AS pruned, true AS matches_full
      |FROM lineitem
      |WHERE l_orderkey = (SELECT min(l_orderkey) FROM lineitem)""".stripMargin

  // ── distributed dense-id assignment (scalable zipWithIndex) ─────────────
  private val xDenseIds: Q = (s, dir) => {
    graft.sources.Layout.denseIds(
        Tables.orders(s, dir).select(col("o_orderkey")),
        Seq("o_orderkey"), nParts = 8)
      .orderBy(col("o_orderkey"))
  }
  private val xDenseIdsSql =
    """SELECT o_orderkey,
      |  row_number() OVER (ORDER BY o_orderkey) - 1 AS dense_id
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ── sampled-key join-cardinality estimation ─────────────────────────────
  // Gate pattern as for heavy hitters: the exact size is oracle-replayed,
  // the (xxhash64-sampled, not SQL-replayable) estimate is pinned by an
  // in-engine accuracy assertion — deterministic, so it either always
  // holds on this data or never does.
  private val xJoinEstimate: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    val est = Stats.joinSizeEstimate(li, li, "l_partkey", rate = 8)
    val exact = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("c"))
      .agg(sum(col("c") * col("c")).as("true_rows"))
    est.crossJoin(exact).select(
      col("true_rows"),
      (col("sampled_keys") > 0).as("sampled_pos"),
      (abs(col("est_rows").cast("double") / col("true_rows").cast("double")
        - 1.0) <= 0.25).as("est_within_25pct"))
  }
  private val xJoinEstimateSql =
    """SELECT CAST(sum(c * c) AS BIGINT) AS true_rows,
      |  true AS sampled_pos, true AS est_within_25pct
      |FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_partkey)""".stripMargin

  // ── incremental regression maintenance: moments IVM + closed-form finish
  // Simulated snapshot churn (deletes, x/y updates, group reassignment,
  // late inserts), moments maintained from the deltas alone, regression
  // finished from the maintained sums; the oracle rebuilds the after
  // snapshot and runs the FRESH aggregate through the same formula — the
  // gate IS the maintenance law.
  private val xIvmRegression: Q = (s, dir) => {
    // events: event_id IS unique (lineitem's (orderkey, linenumber) is
    // not in this testdata — a composite "id" built from it would explode
    // the snapshot key join). x = second-of-day, y = value cents: the
    // maintained state powers a diurnal-trend regression per event type.
    val ev = Tables.events(s, dir).select(
      col("event_id").as("id"), col("event_type").as("g"),
      (expr("(ts div 1000000000) % 86400")).as("x"),
      Kit.cents(col("value")).as("y"))
    val before = ev.filter(col("id") % 5 =!= 1)
    val after = ev.filter(col("id") % 5 =!= 1 && col("id") % 7 =!= 0)
      .select(col("id"),
        when(col("id") % 11 === 0, lit("X")).otherwise(col("g")).as("g"),
        when(col("id") % 3 === 0, col("x") + 60L).otherwise(col("x")).as("x"),
        when(col("id") % 4 === 0, col("y") + 500L).otherwise(col("y")).as("y"))
      .unionByName(ev.filter(col("id") % 5 === 1 && col("id") % 2 === 0))
    val prevAgg = before.groupBy(col("g")).agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
      sum(col("x") * col("y")).as("sxy"))
    val m = graft.ops.Cdc.maintainMoments(prevAgg, before, after,
      Seq("id"), "g", "x", "y")
    def dd(c: String) = col(c).cast("double")
    val cov = dd("n") * dd("sxy") - dd("sx") * dd("sy")
    val varx = dd("n") * dd("sxx") - dd("sx") * dd("sx")
    val vary = dd("n") * dd("syy") - dd("sy") * dd("sy")
    m.select(col("g"), col("n"),
        Kit.microUnits(cov / varx).as("slope_micro"),
        Kit.microUnits((dd("sy") - (cov / varx) * dd("sx")) / dd("n"))
          .as("intercept_micro"),
        Kit.microUnits((cov * cov) / (varx * vary)).as("r2_ppm"))
      .orderBy(col("g"))
  }
  private val xIvmRegressionSql =
    """WITH ev AS (
      |  SELECT event_id AS id, event_type AS g,
      |    (epoch_ns(ts) // 1000000000) % 86400 AS x,
      |    CAST(round(value * 100, 0) AS BIGINT) AS y
      |  FROM events
      |), after_s AS (
      |  SELECT id,
      |    CASE WHEN id % 11 = 0 THEN 'X' ELSE g END AS g,
      |    CASE WHEN id % 3 = 0 THEN x + 60 ELSE x END AS x,
      |    CASE WHEN id % 4 = 0 THEN y + 500 ELSE y END AS y
      |  FROM ev WHERE id % 5 <> 1 AND id % 7 <> 0
      |  UNION ALL
      |  SELECT id, g, x, y FROM ev WHERE id % 5 = 1 AND id % 2 = 0
      |), m AS (
      |  SELECT g, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx,
      |    CAST(sum(y * y) AS BIGINT) AS syy,
      |    CAST(sum(x * y) AS BIGINT) AS sxy
      |  FROM after_s GROUP BY g
      |), f AS (
      |  SELECT g, n,
      |    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov,
      |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS varx,
      |    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vary,
      |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
      |  FROM m
      |)
      |SELECT g, n,
      |  CAST(round((cov / varx) * 1000000, 0) AS BIGINT) AS slope_micro,
      |  CAST(round(((syd - (cov / varx) * sxd) / CAST(n AS DOUBLE))
      |             * 1000000, 0) AS BIGINT) AS intercept_micro,
      |  CAST(round(((cov * cov) / (varx * vary)) * 1000000, 0) AS BIGINT)
      |    AS r2_ppm
      |FROM f ORDER BY g""".stripMargin

  // ── skew-safe top-k per group (bounded-heap Aggregator, no window sort)
  private val xTopkAgg: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    graft.ops.TopK.topKPerGroup(o, "o_custkey",
        Kit.cents(col("o_totalprice")), col("o_orderkey"), k = 3)
      .select(col("group").as("o_custkey"), col("payload").as("o_orderkey"),
        col("ord").as("price_c"), col("rank"))
      .orderBy(col("o_custkey"), col("rank"))
  }
  private val xTopkAggSql =
    """SELECT o_custkey, o_orderkey,
      |  CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c,
      |  CAST(row_number() OVER (
      |    PARTITION BY o_custkey
      |    ORDER BY round(o_totalprice * 100, 0) DESC, o_orderkey) AS INT)
      |    AS rank
      |FROM orders
      |QUALIFY rank <= 3
      |ORDER BY o_custkey, rank""".stripMargin

  // ── incremental distinct counting with persistable HLL sketches ─────────
  // Per-shard sketches built independently (the incremental/partitioned
  // shape: each ingest batch materializes a KB sketch), then union-merged
  // and estimated. The estimate is pinned by an in-engine error assertion
  // against the oracle-replayed exact count (lgConfigK=14 → ~0.4% stderr;
  // 5% bound).
  private val xHllIncremental: Q = (s, dir) => {
    val e = Tables.events(s, dir).select(col("event_type"), col("user_id"),
      (col("event_id") % 8).as("shard"))
    val perShard = e.groupBy(col("event_type"), col("shard"))
      .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
    val merged = perShard.groupBy(col("event_type"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
    val exact = e.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_n"))
    merged.join(exact, Seq("event_type"))
      .select(col("event_type"), col("exact_n"),
        (abs(col("est").cast("double") / col("exact_n").cast("double") - 1.0)
          <= 0.05).as("within_5pct"))
      .orderBy(col("event_type"))
  }
  private val xHllIncrementalSql =
    """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_n,
      |  true AS within_5pct
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ── metadata-only count(*): custom planner strategy + SparkPlan ─────────
  // Gate: rewrite a rewritten-layout lineitem count through
  // FooterCountExec (pin asserts the custom node actually planned and its
  // answer is used), oracle replays the exact count.
  private val xFooterCount: Q = (s, dir) => {
    val tmp = java.nio.file.Files.createTempDirectory("graft_footer").toString
    Tables.lineitem(s, dir).select(col("l_orderkey"))
      .repartition(6).write.mode("overwrite").parquet(tmp)
    s.conf.set("spark.graft.footerCount.enabled", "true")
    try {
      val agg = s.read.parquet(tmp).agg(count(lit(1)).as("n"))
      val usedFooter =
        agg.queryExecution.executedPlan.toString.contains("FooterCount")
      val n = agg.collect()(0).getLong(0)
      s.range(1).select(lit(n).as("n"), lit(usedFooter).as("used_footer"))
    } finally s.conf.unset("spark.graft.footerCount.enabled")
  }
  private val xFooterCountSql =
    """SELECT CAST(count(*) AS BIGINT) AS n, true AS used_footer
      |FROM lineitem""".stripMargin

  // ── materialized-view rollup rewrite: Catalyst rule, oracle-gated ───────
  // MV at (priority, status) grain; the query rolls up to priority only —
  // served from the MV via sum(sum)/sum(cnt). Pin asserts the executed
  // plan actually scanned the MV, oracle recomputes from the fact table.
  private val xMvRewrite: Q = (s, dir) => {
    val factDir = java.nio.file.Files.createTempDirectory("graft_mv_fact").toString
    val mvDir = java.nio.file.Files.createTempDirectory("graft_mv_mv").toString
    Tables.orders(s, dir)
      .select(col("o_orderpriority"), col("o_orderstatus"),
        Kit.cents(col("o_totalprice")).as("price_c"))
      .write.mode("overwrite").parquet(factDir)
    s.read.parquet(factDir).groupBy(col("o_orderpriority"), col("o_orderstatus"))
      .agg(sum(col("price_c")).as("sum_price_c"), count(lit(1)).as("cnt"))
      .write.mode("overwrite").parquet(mvDir)
    s.conf.set(graft.spark.MvRewriteRule.ConfKey,
      s"$factDir::$mvDir::o_orderpriority,o_orderstatus::price_c")
    try {
      val q = s.read.parquet(factDir).groupBy(col("o_orderpriority"))
        .agg(sum(col("price_c")).as("sum_price_c"), count(lit(1)).as("n"))
      val usedMv = q.queryExecution.executedPlan.toString
        .contains(new java.io.File(mvDir).getName)
      q.select(col("o_orderpriority"), col("sum_price_c"), col("n"),
          lit(usedMv).as("used_mv"))
        .orderBy(col("o_orderpriority"))
        .localCheckpoint(true) // materialize while the MV conf is still set
    } finally s.conf.unset(graft.spark.MvRewriteRule.ConfKey)
  }
  private val xMvRewriteSql =
    """SELECT o_orderpriority,
      |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
      |    AS sum_price_c,
      |  CAST(count(*) AS BIGINT) AS n, true AS used_mv
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ── incremental MV maintenance (ops/Mv) ─────────────────────────────────
  // Build the aggregate view on the base fact, refresh it with a signed
  // delta (every 10th orderkey inserted, every 7th of the base retracted),
  // and the refreshed view must equal the direct aggregate over the
  // effective fact — which the oracle computes from scratch. Refresh cost
  // is O(|MV| + |delta|); the gate proves it lands on the same answer as
  // the O(|fact|) rebuild it replaces.
  private val xMvIncremental: Q = (s, dir) => {
    val mvDir = java.nio.file.Files.createTempDirectory("graft_mv_inc").toString
    val o = Tables.orders(s, dir).select(col("o_orderkey"),
      col("o_orderpriority"), col("o_orderstatus"),
      Kit.cents(col("o_totalprice")).as("price_c"))
    val keys = Seq("o_orderpriority", "o_orderstatus")
    val base = o.filter(col("o_orderkey") % 10 =!= 0)
    val inserts = o.filter(col("o_orderkey") % 10 === 0)
      .withColumn("__s", lit(1L))
    val deletes = base.filter(col("o_orderkey") % 7 === 0)
      .withColumn("__s", lit(-1L))
    graft.ops.Mv.build(base.drop("o_orderkey"), mvDir, keys, Seq("price_c"))
    graft.ops.Mv.refresh(s, mvDir,
      inserts.unionByName(deletes).drop("o_orderkey"),
      keys, Seq("price_c"), version = 1L, signCol = Some("__s"))
    graft.ops.Mv.read(s, mvDir)
      .select(col("o_orderpriority"), col("o_orderstatus"),
        col("price_c_sum").as("sum_price_c"), col("__cnt").as("cnt"))
      .orderBy(col("o_orderpriority"), col("o_orderstatus"))
  }
  private val xMvIncrementalSql =
    """WITH eff AS (
      |  SELECT o_orderpriority, o_orderstatus,
      |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c
      |  FROM orders
      |  WHERE (o_orderkey % 10 <> 0 AND o_orderkey % 7 <> 0)
      |     OR o_orderkey % 10 = 0
      |)
      |SELECT o_orderpriority, o_orderstatus,
      |  CAST(sum(price_c) AS BIGINT) AS sum_price_c,
      |  CAST(count(*) AS BIGINT) AS cnt
      |FROM eff GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ── Hilbert-curve clustering value (native expression) ──────────────────
  // Same gate shape as x_zorder: bucketed aggregates over the index pin
  // every row's value; the oracle replays the 16-round xy2d walk as
  // generated unrolled CTEs (a Column chain would re-inline to a 4^16-node
  // tree — why this is a native codegen'd expression).
  private val xHilbert: Q = (s, dir) => {
    val h = graft.functions.HilbertKit.hilbert2(
      (col("l_orderkey") % 65536).cast("long"),
      (col("l_partkey") % 65536).cast("long"))
    Tables.lineitem(s, dir).select(h.as("d"))
      .groupBy(shiftright(col("d"), 26).as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("d")).as("sum_d"),
        min(col("d")).as("min_d"), max(col("d")).as("max_d"))
      .orderBy(col("bucket"))
  }
  private val xHilbertSql = {
    val rounds = (0 until 16).map { i =>
      val S = 1L << (15 - i)
      s"r${i + 1} AS (SELECT " +
        s"CASE WHEN (y & $S) = 0 THEN (CASE WHEN (x & $S) > 0 " +
        s"THEN $S - 1 - y ELSE y END) ELSE x END AS x, " +
        s"CASE WHEN (y & $S) = 0 THEN (CASE WHEN (x & $S) > 0 " +
        s"THEN $S - 1 - x ELSE x END) ELSE y END AS y, " +
        s"d + $S * $S * xor(3 * (CASE WHEN (x & $S) > 0 THEN 1 ELSE 0 END), " +
        s"(CASE WHEN (y & $S) > 0 THEN 1 ELSE 0 END)) AS d " +
        s"FROM r$i)"
    }
    "WITH r0 AS (SELECT l_orderkey % 65536 AS x, l_partkey % 65536 AS y, " +
      "CAST(0 AS BIGINT) AS d FROM lineitem),\n" +
      rounds.mkString(",\n") + "\n" +
      "SELECT d >> 26 AS bucket, CAST(count(*) AS BIGINT) AS n, " +
      "CAST(sum(d) AS BIGINT) AS sum_d, CAST(min(d) AS BIGINT) AS min_d, " +
      "CAST(max(d) AS BIGINT) AS max_d " +
      "FROM r16 GROUP BY bucket ORDER BY bucket"
  }

  // ── custom DataSource V2 connector, pushdown-pinned ─────────────────────
  // The graft-docs synthetic table is pure id arithmetic, so DuckDB can
  // replay the connector's CONTENT exactly — gating the connector itself.
  // Pin asserts the doc_id range reached the scan (filter pushdown).
  private val s9CustomSource: Q = (s, dir) => {
    val d = s.read.format("graft.sources.v2.GraftDocsSource")
      .option("rows", "5000").load()
      .filter(col("doc_id") >= 100 && col("doc_id") < 2000)
    val pushed = d.queryExecution.executedPlan.toString
      .contains("range=[100,1999]")
    d.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(length(col("text"))).as("chars"))
      .select(col("lang"), col("n"), col("chars"), lit(pushed).as("pushed"))
      .orderBy(col("lang"))
  }
  private val s9CustomSourceSql =
    """WITH d AS (
      |  SELECT i AS doc_id,
      |    ['en','de','fr','es','pt'][CAST(i % 5 AS INT) + 1] AS lang,
      |    'tok' || CAST(i % 97 AS VARCHAR) || ' tok'
      |      || CAST((i * 7) % 89 AS VARCHAR) || ' tok'
      |      || CAST((i * 13) % 83 AS VARCHAR) AS text
      |  FROM range(100, 2000) t(i)
      |)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(length(text)) AS BIGINT) AS chars, true AS pushed
      |FROM d GROUP BY lang ORDER BY lang""".stripMargin

  val all: Map[String, Q] = Map(
    "s9_custom_source" -> s9CustomSource,
    "x_ttest" -> xTtest,
    "x_bootstrap" -> xBootstrap,
    "x_hilbert" -> xHilbert,
    "x_mv_rewrite" -> xMvRewrite,
    "x_mv_incremental" -> xMvIncremental,
    "x_footer_count" -> xFooterCount,
    "x_topk_agg" -> xTopkAgg,
    "x_hll_incremental" -> xHllIncremental,
    "x_ivm_regression" -> xIvmRegression,
    "x_join_estimate" -> xJoinEstimate,
    "x_dense_ids" -> xDenseIds,
    "x_bloom_skipping" -> xBloomSkip,
    "x_lpa" -> xLpa,
    "sim_centroid_classify" -> simCentroid,
    "x_corr_matrix" -> xCorr,
    "x_regression" -> xRegression,
    "x_outliers" -> xOutliers,
    "x_chisq" -> xChisq,
    "x_geo_join" -> xGeoJoin,
    "x_assoc_rules" -> xAssocRules,
    "sim_knn_classify" -> simKnn)

  val oracles: Map[String, String] = Map(
    "s9_custom_source" -> s9CustomSourceSql,
    "x_ttest" -> xTtestSql,
    "x_bootstrap" -> xBootstrapSql,
    "x_hilbert" -> xHilbertSql,
    "x_mv_rewrite" -> xMvRewriteSql,
    "x_mv_incremental" -> xMvIncrementalSql,
    "x_footer_count" -> xFooterCountSql,
    "x_topk_agg" -> xTopkAggSql,
    "x_hll_incremental" -> xHllIncrementalSql,
    "x_ivm_regression" -> xIvmRegressionSql,
    "x_join_estimate" -> xJoinEstimateSql,
    "x_dense_ids" -> xDenseIdsSql,
    "x_bloom_skipping" -> xBloomSkipSql,
    "x_lpa" -> xLpaSql,
    "sim_centroid_classify" -> simCentroidSql,
    "x_corr_matrix" -> xCorrSql,
    "x_regression" -> xRegressionSql,
    "x_outliers" -> xOutliersSql,
    "x_chisq" -> xChisqSql,
    "x_geo_join" -> xGeoJoinSql,
    "x_assoc_rules" -> xAssocRulesSql,
    "sim_knn_classify" -> simKnnSql)
}
