package graft.queries

import graft.functions.Kit
import graft.ops.{Cdc, Fuzzy, Graph, RangeJoin}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Engine extensions beyond the reference's surface (SURVEY §2.12): analytic
 * window functions, rollup, set ops, multi-format timestamp parsing — all
 * Spark builtins re-exported through the engine, each oracle-checked.
 */
object ExtensionQueries {
  type Q = (SparkSession, String) => DataFrame

  // ── analytic window: top-3 orders per customer ──────────────────────────
  private val xRank: Q = (s, dir) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, dir)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("rnk").cast("long").as("rnk"),
        Kit.cents(col("o_totalprice")).as("price_c"))
      .orderBy(col("o_custkey"), col("rnk"))
  }
  private val xRankSql =
    """SELECT o_custkey, o_orderkey,
      |  row_number() OVER (PARTITION BY o_custkey
      |                     ORDER BY o_totalprice DESC, o_orderkey) AS rnk,
      |  CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c
      |FROM orders
      |QUALIFY rnk <= 3
      |ORDER BY o_custkey, rnk""".stripMargin

  // ── Z-order (Morton) clustering value ───────────────────────────────────
  // The bit-exact interleave behind Layout.writeZOrdered: low 16 bits of
  // each key spread by the magic-number shift/mask chain. The oracle replays
  // the identical chain with DuckDB's bitwise operators; bucketed aggregates
  // (count/sum/min/max per high-6-bit Z-prefix) pin every row's value.
  private val xZorder: Q = (s, dir) => {
    val z = graft.sources.Layout.zValue2(
      col("l_orderkey").mod(lit(65536)), col("l_partkey").mod(lit(65536)))
    Tables.lineitem(s, dir)
      .select(z.as("z"))
      .groupBy(shiftright(col("z"), 26).as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("z")).as("sum_z"),
        min(col("z")).as("min_z"), max(col("z")).as("max_z"))
      .orderBy(col("bucket"))
  }
  private val xZorderSql =
    """WITH k AS (
      |  SELECT l_orderkey % 65536 AS x, l_partkey % 65536 AS y FROM lineitem
      |), s2 AS (
      |  SELECT ((x | (x << 8)) & 16711935) AS x1,
      |         ((y | (y << 8)) & 16711935) AS y1 FROM k
      |), s3 AS (
      |  SELECT ((x1 | (x1 << 4)) & 252645135) AS x2,
      |         ((y1 | (y1 << 4)) & 252645135) AS y2 FROM s2
      |), s4 AS (
      |  SELECT ((x2 | (x2 << 2)) & 858993459) AS x3,
      |         ((y2 | (y2 << 2)) & 858993459) AS y3 FROM s3
      |), s5 AS (
      |  SELECT ((x3 | (x3 << 1)) & 1431655765) AS x4,
      |         ((y3 | (y3 << 1)) & 1431655765) AS y4 FROM s4
      |), z AS (
      |  SELECT (x4 | (y4 << 1)) AS z FROM s5
      |)
      |SELECT z >> 26 AS bucket, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(z) AS BIGINT) AS sum_z, CAST(min(z) AS BIGINT) AS min_z,
      |  CAST(max(z) AS BIGINT) AS max_z
      |FROM z GROUP BY bucket ORDER BY bucket""".stripMargin

  // ── N-column Z-order (native ZValueN) ───────────────────────────────────
  // The variadic Morton interleave behind OPTIMIZE ZORDER BY (c1..cN):
  // bit i of column j lands at result bit i*n+j (for n=2 this is exactly
  // the magic-number chain above — pinned by a spec). 3 columns × 8 bits
  // here; the oracle replays the spread as explicit shift/mask sums.
  private val xZvalue3: Q = (s, dir) => {
    val z = graft.functions.ZValueKit.zValueN(
      Seq(col("l_orderkey") % 256, col("l_partkey") % 256,
        col("l_suppkey") % 256), bits = 8)
    Tables.lineitem(s, dir)
      .select(z.as("z"))
      .groupBy(shiftright(col("z"), 18).as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("z")).as("sum_z"),
        min(col("z")).as("min_z"), max(col("z")).as("max_z"))
      .orderBy(col("bucket"))
  }
  private val xZvalue3Sql: String = {
    def spread(v: String): String =
      (0 until 8).map(i => s"((($v >> $i) & 1) << ${3 * i})").mkString(" | ")
    s"""WITH k AS (
       |  SELECT l_orderkey % 256 AS x, l_partkey % 256 AS y,
       |         l_suppkey % 256 AS w FROM lineitem
       |), z AS (
       |  SELECT (${spread("x")})
       |       | ((${spread("y")}) << 1)
       |       | ((${spread("w")}) << 2) AS z FROM k
       |)
       |SELECT z >> 18 AS bucket, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(z) AS BIGINT) AS sum_z, CAST(min(z) AS BIGINT) AS min_z,
       |  CAST(max(z) AS BIGINT) AS max_z
       |FROM z GROUP BY bucket ORDER BY bucket""".stripMargin
  }

  // ── analytic offsets: lag/lead/ntile + per-user inter-event gaps ────────
  // The remaining analytic-window family members (x_rank covers ranking):
  // offset functions and quartile bucketing over a per-user event timeline.
  // Ordering is (ts_ms, event_id) — unique, so every function is
  // deterministic in both engines.
  private val xLeadLag: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("event_id"))
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"),
        Kit.nanosToMillis("ts").as("ts_ms"))
      .select(col("user_id"), col("event_id"),
        lag(col("event_id"), 1).over(w).as("prev_id"),
        lead(col("event_id"), 1).over(w).as("next_id"),
        ntile(4).over(w).cast("long").as("quartile"),
        (col("ts_ms") - lag(col("ts_ms"), 1).over(w)).as("gap_ms"))
      .orderBy(col("user_id"), col("event_id"))
  }
  private val xLeadLagSql =
    """SELECT user_id, event_id,
      |  lag(event_id) OVER w AS prev_id,
      |  lead(event_id) OVER w AS next_id,
      |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
      |  ts_ms - lag(ts_ms) OVER w AS gap_ms
      |FROM (SELECT event_id, user_id, epoch_ns(ts) // 1000000 AS ts_ms
      |      FROM events)
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
      |ORDER BY user_id, event_id""".stripMargin

  // ── funnel: signup → first subsequent purchase per user ─────────────────
  // The behavioral-analytics staple: per signed-up user, the first signup
  // time, the first purchase AT OR AFTER it, and the conversion gap. Two
  // min-aggregations and one join — no window, no ordering; at scale the
  // signup side is users-sized and AQE broadcasts it.
  private val xFunnel: Q = (s, dir) => {
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        Kit.nanosToMillis("ts").as("ts_ms"))
    val signup = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts_ms")).as("signup_ms"))
    val purch = e.filter(col("event_type") === "purchase")
      .join(signup, Seq("user_id"))
      .filter(col("ts_ms") >= col("signup_ms"))
      .groupBy(col("user_id")).agg(min(col("ts_ms")).as("purchase_ms"))
    signup.join(purch, Seq("user_id"), "left")
      .select(col("user_id"), col("signup_ms"), col("purchase_ms"),
        col("purchase_ms").isNotNull.as("converted"),
        (col("purchase_ms") - col("signup_ms")).as("gap_ms"))
      .orderBy(col("user_id"))
  }
  private val xFunnelSql =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_ns(ts) // 1000000 AS ts_ms
      |  FROM events
      |), s AS (
      |  SELECT user_id, min(ts_ms) AS signup_ms FROM e
      |  WHERE event_type = 'signup' GROUP BY user_id
      |), p AS (
      |  SELECT e.user_id, min(e.ts_ms) AS purchase_ms
      |  FROM e JOIN s USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ts_ms >= s.signup_ms
      |  GROUP BY e.user_id
      |)
      |SELECT s.user_id, s.signup_ms, p.purchase_ms,
      |  p.purchase_ms IS NOT NULL AS converted,
      |  p.purchase_ms - s.signup_ms AS gap_ms
      |FROM s LEFT JOIN p USING (user_id) ORDER BY s.user_id""".stripMargin

  // ── data-quality constraint report ──────────────────────────────────────
  // Five column constraints in ONE scan (violation predicates folded into
  // a single aggregate row, stack-unpivoted) plus a composite-key
  // uniqueness check; the discount cap is deliberately tight so the report
  // exercises the failing path too. The oracle recomputes every count.
  private val xQualityReport: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    val checks = Seq(
      "accepted(l_returnflag)" -> !col("l_returnflag").isin("A", "N", "R"),
      "max(l_discount,0.05)" -> (col("l_discount") > 0.05),
      "not_null(l_orderkey)" -> col("l_orderkey").isNull,
      "positive(l_extendedprice)" -> (col("l_extendedprice") <= 0),
      "range(l_quantity,1,50)" -> !col("l_quantity").between(1, 50))
    graft.ops.Quality.report(li, checks,
        uniqueKeys = Seq(Seq("l_orderkey", "l_linenumber")))
      .orderBy(col("constraint"))
  }
  private val xQualityReportSql =
    """WITH t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem),
      |c AS (
      |  SELECT 'accepted(l_returnflag)' AS constraint,
      |    CAST(count(*) FILTER (WHERE l_returnflag NOT IN ('A','N','R'))
      |      AS BIGINT) AS violations FROM lineitem
      |  UNION ALL
      |  SELECT 'max(l_discount,0.05)',
      |    CAST(count(*) FILTER (WHERE l_discount > 0.05) AS BIGINT)
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'not_null(l_orderkey)',
      |    CAST(count(*) FILTER (WHERE l_orderkey IS NULL) AS BIGINT)
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'positive(l_extendedprice)',
      |    CAST(count(*) FILTER (WHERE l_extendedprice <= 0) AS BIGINT)
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'range(l_quantity,1,50)',
      |    CAST(count(*) FILTER (WHERE l_quantity NOT BETWEEN 1 AND 50)
      |      AS BIGINT)
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'unique(l_orderkey,l_linenumber)',
      |    CAST((SELECT count(*) FROM lineitem) -
      |      (SELECT count(*) FROM
      |        (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem))
      |      AS BIGINT)
      |)
      |SELECT c.constraint, c.violations, t.n AS total,
      |  c.violations = 0 AS passed
      |FROM c CROSS JOIN t ORDER BY c.constraint""".stripMargin

  // ── robust outliers: discrete median + MAD per event type ───────────────
  // Inverted-CDF medians over (group, value) histograms — exact integer
  // parity, no interpolation, no raw-data sort; the oracle replays the
  // identical ⌈n/2⌉ threshold arithmetic.
  private val xMad: Q = (s, dir) => {
    val e = Tables.events(s, dir)
      .select(col("event_type"), Kit.cents(col("value")).as("v"))
    graft.ops.Quality.madOutlierStats(e, "event_type", "v", k = 5)
      .orderBy(col("event_type"))
  }
  private val xMadSql =
    """WITH e AS (
      |  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS v
      |  FROM events
      |), h AS (
      |  SELECT event_type, v, count(*) AS c FROM e GROUP BY 1, 2
      |), cum AS (
      |  SELECT event_type, v, sum(c) OVER (PARTITION BY event_type ORDER BY v
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc,
      |    sum(c) OVER (PARTITION BY event_type) AS n
      |  FROM h
      |), med AS (
      |  SELECT event_type, min(v) AS median FROM cum
      |  WHERE cc >= (n + 1) // 2 GROUP BY event_type
      |), d AS (
      |  SELECT e.event_type, abs(e.v - m.median) AS dv, m.median
      |  FROM e JOIN med m USING (event_type)
      |), h2 AS (
      |  SELECT event_type, dv, count(*) AS c FROM d GROUP BY 1, 2
      |), cum2 AS (
      |  SELECT event_type, dv, sum(c) OVER (PARTITION BY event_type
      |    ORDER BY dv ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc,
      |    sum(c) OVER (PARTITION BY event_type) AS n
      |  FROM h2
      |), mad AS (
      |  SELECT event_type, min(dv) AS mad FROM cum2
      |  WHERE cc >= (n + 1) // 2 GROUP BY event_type
      |)
      |SELECT d.event_type, CAST(count(*) AS BIGINT) AS n,
      |  CAST(min(d.median) AS BIGINT) AS median,
      |  CAST(min(mad.mad) AS BIGINT) AS mad,
      |  CAST(count(*) FILTER (WHERE d.dv > mad.mad * 5) AS BIGINT)
      |    AS n_outliers
      |FROM d JOIN mad USING (event_type)
      |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin

  // ── SCD2 interval construction from a change-event log ──────────────────
  // Consecutive same-type runs per user collapse into validity intervals
  // (valid_to = next run's start, null while current) — the warehouse
  // "value as of T" target built from an append-only log. Unique
  // (ts, event_id) ordering makes every run boundary deterministic.
  private val xScd2: Q = (s, dir) => {
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        Kit.nanosToMillis("ts").as("ts_ms"))
    graft.ops.Quality.scd2Intervals(e, "user_id", "ts_ms", "event_id",
        "event_type")
      .orderBy(col("user_id"), col("valid_from_ms"))
  }
  private val xScd2Sql =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type,
      |    epoch_ns(ts) // 1000000 AS ts_ms
      |  FROM events
      |), r AS (
      |  SELECT user_id, event_id, event_type, ts_ms,
      |    CASE WHEN lag(event_type) OVER w IS NULL
      |           OR lag(event_type) OVER w <> event_type
      |         THEN 1 ELSE 0 END AS chg
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
      |), s AS (
      |  SELECT user_id, event_type, ts_ms,
      |    sum(chg) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
      |  FROM r
      |), g AS (
      |  SELECT user_id, run, min(event_type) AS value,
      |    min(ts_ms) AS valid_from_ms, CAST(count(*) AS BIGINT) AS n_events
      |  FROM s GROUP BY user_id, run
      |)
      |SELECT user_id, value, valid_from_ms,
      |  lead(valid_from_ms) OVER (PARTITION BY user_id
      |    ORDER BY valid_from_ms) AS valid_to_ms,
      |  n_events
      |FROM g ORDER BY user_id, valid_from_ms""".stripMargin

  // ── grouping sets: the general form cube/rollup specialize ──────────────
  // gid derives from the NULL pattern (base columns are non-null), which is
  // engine-portable where grouping_id() bit conventions are not.
  private val xGroupingSets: Q = (s, dir) => {
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_xgs")
    s.sql("""
      SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        coalesce(l_linestatus, 'ALL') AS linestatus,
        CASE WHEN l_returnflag IS NULL THEN 3
             WHEN l_linestatus IS NULL THEN 1 ELSE 0 END AS gid,
        count(*) AS n,
        sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS qty_c
      FROM lineitem_xgs
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      ORDER BY gid, returnflag, linestatus
    """)
  }
  private val xGroupingSetsSql =
    """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
      |  coalesce(l_linestatus, 'ALL') AS linestatus,
      |  CASE WHEN l_returnflag IS NULL THEN 3
      |       WHEN l_linestatus IS NULL THEN 1 ELSE 0 END AS gid,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS BIGINT) AS qty_c
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      |ORDER BY gid, returnflag, linestatus""".stripMargin

  // ── rollup: grouped counts with subtotal rows ───────────────────────────
  private val xRollup: Q = (s, dir) => {
    Tables.orders(s, dir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), Kit.cents(sum(col("o_totalprice"))).as("total_c"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("total_c"))
      .orderBy(col("status"), col("priority"))
  }
  private val xRollupSql =
    """SELECT coalesce(o_orderstatus, 'ALL') AS status,
      |  coalesce(o_orderpriority, 'ALL') AS priority,
      |  count(*) AS n,
      |  CAST(round(sum(o_totalprice) * 100, 0) AS BIGINT) AS total_c
      |FROM orders
      |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      |ORDER BY status, priority""".stripMargin

  // ── set ops: INTERSECT / EXCEPT on user activity ────────────────────────
  private val xSetOps: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    val purchasers = e.filter(col("event_type") === "purchase")
      .select(col("user_id")).distinct()
    val signups = e.filter(col("event_type") === "signup")
      .select(col("user_id")).distinct()
    purchasers.intersect(signups).withColumn("op", lit("both"))
      .unionByName(purchasers.except(signups).withColumn("op", lit("purchase_only")))
      .select(col("op"), col("user_id"))
      .orderBy(col("op"), col("user_id"))
  }
  private val xSetOpsSql =
    """SELECT 'both' AS op, user_id FROM (
      |  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
      |  INTERSECT
      |  SELECT DISTINCT user_id FROM events WHERE event_type = 'signup'
      |)
      |UNION ALL
      |SELECT 'purchase_only' AS op, user_id FROM (
      |  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
      |  EXCEPT
      |  SELECT DISTINCT user_id FROM events WHERE event_type = 'signup'
      |)
      |ORDER BY op, user_id""".stripMargin

  // ── U4: multi-format timestamp parse (try-chain) ────────────────────────
  private val u4MultiTs: Q = (s, dir) => {
    val fmtd = Tables.orders(s, dir).select(col("o_orderkey"),
      when(col("o_orderkey") % 3 === 0, date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"))
        .when(col("o_orderkey") % 3 === 1, date_format(col("o_orderdate"), "dd/MM/yyyy"))
        .otherwise(date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss"))
        .as("ts_str"))
    fmtd.select(col("o_orderkey"),
      unix_millis(Kit.parseTsMulti(col("ts_str"),
        Seq("yyyy-MM-dd HH:mm:ss", "dd/MM/yyyy", "yyyy-MM-dd'T'HH:mm:ss")))
        .as("parsed_ms"))
      .orderBy(col("o_orderkey"))
  }
  private val u4MultiTsSql =
    """WITH f AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 3 = 0 THEN strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')
      |         WHEN o_orderkey % 3 = 1 THEN strftime(o_orderdate, '%d/%m/%Y')
      |         ELSE strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') END AS ts_str
      |  FROM orders
      |)
      |SELECT o_orderkey,
      |  epoch_ms(coalesce(
      |    try_strptime(ts_str, '%Y-%m-%d %H:%M:%S'),
      |    try_strptime(ts_str, '%d/%m/%Y'),
      |    try_strptime(ts_str, '%Y-%m-%dT%H:%M:%S'))) AS parsed_ms
      |FROM f ORDER BY o_orderkey""".stripMargin

  // ── U5/U8: window-name formatting + human duration over event windows ───
  private val u5u8TimeKit: Q = (s, dir) => {
    val e = Tables.events(s, dir)
      .withColumn("ts_ms", Kit.nanosToMillis("ts"))
      .withColumn("wstart_ms", Kit.tumblingStartMs("ts", 3600000L))
    e.select(col("event_id"),
        Kit.windowName(timestamp_millis(col("wstart_ms")),
          timestamp_millis(col("wstart_ms") + 3600000L)).as("window_name"),
        Kit.humanDuration(col("ts_ms") - col("wstart_ms")).as("offset_human"))
      .orderBy(col("event_id"))
  }
  private val u5u8TimeKitSql =
    """WITH t AS (
      |  SELECT event_id,
      |    epoch_ns(ts) // 1000000 AS ts_ms,
      |    (epoch_ns(ts) // 3600000000000) * 3600000 AS wstart_ms
      |  FROM events
      |)
      |SELECT event_id,
      |  strftime(make_timestamp(wstart_ms * 1000), '%Y%m%dT%H%M%S') || '_' ||
      |    strftime(make_timestamp((wstart_ms + 3600000) * 1000), '%H%M%S') AS window_name,
      |  ((ts_ms - wstart_ms) // 3600000)::VARCHAR || 'h ' ||
      |    (((ts_ms - wstart_ms) % 3600000) // 60000)::VARCHAR || 'm ' ||
      |    (((ts_ms - wstart_ms) % 60000) // 1000)::VARCHAR || 'sec' AS offset_human
      |FROM t ORDER BY event_id""".stripMargin

  // ── W8: session windows (absent in the reference — Beam windows are
  //    fixed/global only; Spark gives sessionization for free). Oracle =
  //    gaps-and-islands. Spark's session interval is half-open
  //    [start, last+gap): an event landing exactly at last+gap starts a NEW
  //    session, hence `diff >= gap` as the oracle's break condition. ──────
  private val w8Session: Q = (s, dir) => {
    Tables.events(s, dir)
      .withColumn("ts_ms", Kit.nanosToMillis("ts"))
      .withColumn("et", timestamp_millis(col("ts_ms")))
      .groupBy(col("user_id"), session_window(col("et"), "30 minutes"))
      .agg(count(lit(1)).as("n"),
        Kit.cents(sum(col("value"))).as("value_c"),
        max(col("ts_ms")).as("last_ms"))
      .select(col("user_id"),
        unix_millis(col("session_window.start")).as("session_start_ms"),
        col("last_ms"), col("n"), col("value_c"))
      .orderBy(col("user_id"), col("session_start_ms"))
  }
  private val w8SessionSql =
    """WITH e AS (
      |  SELECT user_id, epoch_ns(ts) // 1000000 AS ts_ms, value FROM events
      |), s AS (
      |  SELECT *, CASE WHEN lag(ts_ms) OVER w IS NULL
      |                   OR ts_ms - lag(ts_ms) OVER w >= 1800000
      |                 THEN 1 ELSE 0 END AS brk
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms)
      |), g AS (
      |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts_ms
      |                           ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM s
      |)
      |SELECT user_id, min(ts_ms) AS session_start_ms, max(ts_ms) AS last_ms,
      |  count(*) AS n, CAST(round(sum(value) * 100, 0) AS BIGINT) AS value_c
      |FROM g GROUP BY user_id, sid
      |ORDER BY user_id, session_start_ms""".stripMargin

  // ── cube: all grouping-set combinations ─────────────────────────────────
  private val xCube: Q = (s, dir) => {
    Tables.orders(s, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"), col("n"))
      .orderBy(col("status"), col("priority"))
  }
  private val xCubeSql =
    """SELECT coalesce(o_orderstatus, 'ALL') AS status,
      |  coalesce(o_orderpriority, 'ALL') AS priority, count(*) AS n
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY status, priority""".stripMargin

  // ── pivot via Spark's pivot API; oracle = conditional aggregation ───────
  private val xPivot: Q = (s, dir) => {
    Tables.orders(s, dir)
      .groupBy(col("o_orderpriority").as("priority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .select(col("priority"), col("F").as("n_f"), col("O").as("n_o"),
        col("P").as("n_p"))
      .orderBy(col("priority"))
  }
  private val xPivotSql =
    """SELECT o_orderpriority AS priority,
      |  count(*) FILTER (o_orderstatus = 'F') AS n_f,
      |  count(*) FILTER (o_orderstatus = 'O') AS n_o,
      |  count(*) FILTER (o_orderstatus = 'P') AS n_p
      |FROM orders GROUP BY 1 ORDER BY priority""".stripMargin

  // ── exact percentiles (linear interpolation both engines) ───────────────
  private val xPercentile: Q = (s, dir) => {
    Tables.orders(s, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        Kit.cents(expr("percentile(o_totalprice, 0.5)")).as("p50_c"),
        Kit.cents(expr("percentile(o_totalprice, 0.9)")).as("p90_c"),
        Kit.cents(expr("percentile(o_totalprice, 0.99)")).as("p99_c"))
      .orderBy(col("o_orderstatus"))
  }
  private val xPercentileSql =
    """SELECT o_orderstatus,
      |  CAST(round(quantile_cont(o_totalprice, 0.5)*100, 0) AS BIGINT) AS p50_c,
      |  CAST(round(quantile_cont(o_totalprice, 0.9)*100, 0) AS BIGINT) AS p90_c,
      |  CAST(round(quantile_cont(o_totalprice, 0.99)*100, 0) AS BIGINT) AS p99_c
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ── I2: Avro wire-codec round trip ──────────────────────────────────────
  // Encode a nullable multi-type struct per event to Avro binary (the
  // reference's toByteBuffer message shape) and decode it back in the same
  // plan; the oracle is the identity projection, so encode∘decode = id is
  // driver-gated across string/long/double/null values. Both codec
  // expressions are codegen'd reference-object calls (same pattern as
  // spark-avro's converters).
  private val i2AvroRoundtrip: Q = (s, dir) => {
    val wireDdl = "user_id BIGINT, event_type STRING, value DOUBLE, props STRING"
    Tables.events(s, dir)
      .select(col("event_id"),
        graft.functions.AvroKit.toAvro(struct(
          col("user_id"), col("event_type"), col("value"), col("props")))
          .as("wire"))
      .select(col("event_id"),
        graft.functions.AvroKit.fromAvro(col("wire"), wireDdl).as("rec"))
      .select(col("event_id"), col("rec.user_id").as("user_id"),
        col("rec.event_type").as("event_type"),
        Kit.cents(col("rec.value")).as("value_c"), col("rec.props").as("props"))
      .orderBy(col("event_id"))
  }
  private val i2AvroRoundtripSql =
    """SELECT event_id, user_id, event_type,
      |  CAST(round(value * 100, 0) AS BIGINT) AS value_c, props
      |FROM events ORDER BY event_id""".stripMargin

  // ── I2b: Avro schema EVOLUTION through single-object frames ─────────────
  // Half the events are encoded with the v1 writer schema (no `value`
  // field), half with the evolved v2 schema (added nullable `value`); every
  // frame carries its writer's fingerprint and the schemas live in a
  // filesystem registry, so ONE reader decodes both generations in one
  // pass via Avro writer/reader resolution — v1 frames surface the added
  // field as NULL (the reference's reader/writer-resolution behavior,
  // utils/core/AvroUtils.scala:43). The oracle replays the split as a CASE.
  private val i9AvroEvolution: Q = (s, dir) => {
    val reg = java.nio.file.Files.createTempDirectory("avroreg").toString
    val v1 = struct(col("user_id"), col("event_type"))
    val v2 = struct(col("user_id"), col("event_type"), col("value"))
    val readerDdl = "user_id BIGINT, event_type STRING, value DOUBLE"
    Tables.events(s, dir)
      .select(col("event_id"),
        when(col("event_id") % 2 === 0,
          graft.functions.AvroKit.toAvroEvolving(v1, reg))
          .otherwise(graft.functions.AvroKit.toAvroEvolving(v2, reg))
          .as("wire"))
      .select(col("event_id"),
        graft.functions.AvroKit.fromAvroEvolving(col("wire"), readerDdl, reg)
          .as("rec"))
      .select(col("event_id"), col("rec.user_id").as("user_id"),
        col("rec.event_type").as("event_type"),
        Kit.cents(col("rec.value")).as("value_c"))
      .orderBy(col("event_id"))
  }
  private val i9AvroEvolutionSql =
    """SELECT event_id, user_id, event_type,
      |  CASE WHEN event_id % 2 = 0 THEN NULL
      |       ELSE CAST(round(value * 100, 0) AS BIGINT) END AS value_c
      |FROM events ORDER BY event_id""".stripMargin

  // ── sliding (hopping) window: 1 h length, 15 min slide ──────────────────
  // Each event lands in exactly windowLen/slide = 4 windows; Spark's
  // `window(col, len, slide)` explodes that assignment inside the scan
  // (no join), and the aggregation shuffles once on (window, event_type) —
  // at 100 TB the 4× row amplification happens map-side and collapses in
  // the partial aggregate. The oracle replays the alignment arithmetic
  // (starts are slide-aligned: ((ts//slide) - i)·slide for i in 0..3).
  private val w2Sliding: Q = (s, dir) => {
    Tables.events(s, dir)
      .withColumn("et", timestamp_millis(Kit.nanosToMillis("ts")))
      .groupBy(window(col("et"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), Kit.cents(sum(col("value"))).as("value_c"))
      .select(unix_millis(col("window.start")).as("window_start_ms"),
        col("event_type"), col("n"), col("value_c"))
      .orderBy(col("window_start_ms"), col("event_type"))
  }
  private val w2SlidingSql =
    """WITH e AS (
      |  SELECT epoch_ns(ts) // 1000000 AS ts_ms, event_type, value FROM events
      |), w AS (
      |  SELECT ((ts_ms // 900000) - i) * 900000 AS window_start_ms,
      |    event_type, value
      |  FROM e CROSS JOIN (SELECT unnest(range(0, 4)) AS i)
      |)
      |SELECT window_start_ms, event_type, count(*) AS n,
      |  CAST(round(sum(value) * 100, 0) AS BIGINT) AS value_c
      |FROM w GROUP BY 1, 2 ORDER BY window_start_ms, event_type""".stripMargin

  // ── rolling time-range window: per-user trailing-1h count/sum ───────────
  // RANGE BETWEEN frame (peers by timestamp VALUE, not row position) — the
  // "trailing window per entity" shape rate-limiters and feature pipelines
  // run. Partitioned by user_id: no global ordering anywhere, so the 100 TB
  // plan is one hash shuffle on user and per-user in-partition sorts —
  // duplicate-timestamp peers share a frame identically in both engines,
  // keeping the output deterministic without a unique-key tiebreak.
  private val w3Rolling: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir).withColumn("ts_ms", Kit.nanosToMillis("ts"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"))
      .rangeBetween(-3600000L, 0L)
    e.select(col("event_id"), col("user_id"), col("ts_ms"),
        count(lit(1)).over(w).as("n_1h"),
        Kit.cents(sum(col("value")).over(w)).as("sum_1h_c"))
      .orderBy(col("event_id"))
  }
  private val w3RollingSql =
    """WITH e AS (
      |  SELECT event_id, user_id, epoch_ns(ts) // 1000000 AS ts_ms, value
      |  FROM events
      |)
      |SELECT event_id, user_id, ts_ms,
      |  count(*) OVER w AS n_1h,
      |  CAST(round(sum(value) OVER w * 100, 0) AS BIGINT) AS sum_1h_c
      |FROM e
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms
      |  RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  // ── JSONL wire roundtrip (the LLM-corpus interchange format) ────────────
  // Same gate shape as i2_avro_roundtrip: encode to the wire format and
  // decode back IN-PLAN (`to_json`/`from_json` — codegen'd Jackson, exact
  // double round-trip via shortest-representation), oracle replays the
  // projection from the original rows. Exercises the codec itself, not
  // file IO; the file-level JSONL read/write rides the same codec.
  private val i3JsonlRoundtrip: Q = (s, dir) => {
    val wireDdl = "user_id BIGINT, event_type STRING, value DOUBLE, props STRING"
    Tables.events(s, dir)
      .select(col("event_id"),
        to_json(struct(col("user_id"), col("event_type"), col("value"),
          col("props"))).as("wire"))
      .select(col("event_id"),
        from_json(col("wire"),
          org.apache.spark.sql.types.StructType.fromDDL(wireDdl)).as("rec"))
      .select(col("event_id"), col("rec.user_id").as("user_id"),
        col("rec.event_type").as("event_type"),
        Kit.cents(col("rec.value")).as("value_c"), col("rec.props").as("props"))
      .orderBy(col("event_id"))
  }
  private val i3JsonlRoundtripSql =
    """SELECT event_id, user_id, event_type,
      |  CAST(round(value * 100, 0) AS BIGINT) AS value_c, props
      |FROM events ORDER BY event_id""".stripMargin

  // ── CSV wire roundtrip (the third interchange codec: Avro, JSONL, CSV) ──
  // Quoting matters: props contains commas/quotes, so the roundtrip
  // exercises RFC-4180 escaping, not just happy-path joins.
  private val i4CsvRoundtrip: Q = (s, dir) => {
    val wireDdl = "user_id BIGINT, event_type STRING, value DOUBLE, props STRING"
    val opts = Map("header" -> "false")
    Tables.events(s, dir)
      .select(col("event_id"),
        to_csv(struct(col("user_id"), col("event_type"), col("value"),
          col("props"))).as("wire"))
      .select(col("event_id"),
        from_csv(col("wire"),
          org.apache.spark.sql.types.StructType.fromDDL(wireDdl), opts).as("rec"))
      .select(col("event_id"), col("rec.user_id").as("user_id"),
        col("rec.event_type").as("event_type"),
        Kit.cents(col("rec.value")).as("value_c"), col("rec.props").as("props"))
      .orderBy(col("event_id"))
  }
  private val i4CsvRoundtripSql =
    """SELECT event_id, user_id, event_type,
      |  CAST(round(value * 100, 0) AS BIGINT) AS value_c, props
      |FROM events ORDER BY event_id""".stripMargin

  // ── event-time disorder stats: the watermark-sizing input ───────────────
  // Per user: events arriving (by event_id order) with an event time behind
  // the running max are "late". This is the measurement that justifies a
  // watermark/allowed-lateness choice — the reference pins lateness to zero
  // by fiat; this query is how you validate that against real arrivals.
  // Windows are per-user (hash shuffle + per-user sort, no global order).
  private val w4OrderStats: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), Kit.nanosToMillis("ts").as("ts_ms"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    e.withColumn("__late",
        when(col("ts_ms") < max(col("ts_ms")).over(w), 1L).otherwise(0L))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("__late")).as("n_late"),
        max(col("ts_ms")).as("max_ts_ms"))
      .withColumn("late_permille", expr("(n_late * 1000) div n_events"))
      .orderBy(col("user_id"))
  }
  private val w4OrderStatsSql =
    """WITH e AS (
      |  SELECT event_id, user_id, epoch_ns(ts) // 1000000 AS ts_ms FROM events
      |), l AS (
      |  SELECT user_id, ts_ms,
      |    CASE WHEN ts_ms < max(ts_ms) OVER (PARTITION BY user_id
      |      ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      THEN 1 ELSE 0 END AS late
      |  FROM e
      |)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(late) AS BIGINT) AS n_late,
      |  CAST(max(ts_ms) AS BIGINT) AS max_ts_ms,
      |  CAST((sum(late) * 1000) // count(*) AS BIGINT) AS late_permille
      |FROM l GROUP BY user_id ORDER BY user_id""".stripMargin

  // ── fuzzy (edit-distance) entity-resolution join ────────────────────────
  // A dirty catalog (every p_name with its 8th char deleted) matched back
  // to the clean part table at Levenshtein distance ≤ 1 via symmetric-
  // deletion blocking (recall 1 by the SymSpell theorem) + exact verify.
  // DuckDB has the same levenshtein kernel, so the oracle is the literal
  // distance join with an exact length-band prune.
  private val xFuzzyJoin: Q = (s, dir) => {
    val clean = Tables.part(s, dir)
      .select(col("p_partkey").as("id"), col("p_name").as("name"))
    val dirty = clean.select((col("id") + 1000000L).as("id"),
      concat(col("name").substr(lit(1), lit(7)),
        col("name").substr(lit(9), length(col("name")))).as("name"))
    Fuzzy.editDistanceJoin(dirty, clean, "id", "name", "id", "name",
      maxDist = 1, maxBucketSize = Int.MaxValue)
      .select(col("id_l").as("dirty_id"), col("id_r").as("clean_id"),
        col("dist").cast("long").as("dist"))
      .orderBy("dirty_id", "clean_id")
  }
  private val xFuzzyJoinSql =
    """WITH clean AS (SELECT p_partkey AS id, p_name AS name FROM part),
      |dirty AS (SELECT p_partkey + 1000000 AS id,
      |  substr(p_name, 1, 7) || substr(p_name, 9) AS name FROM part)
      |SELECT d.id AS dirty_id, c.id AS clean_id,
      |  CAST(levenshtein(d.name, c.name) AS BIGINT) AS dist
      |FROM dirty d JOIN clean c ON abs(length(d.name) - length(c.name)) <= 1
      |  AND levenshtein(d.name, c.name) <= 1
      |ORDER BY dirty_id, clean_id""".stripMargin

  // ── Jaro-Winkler entity-resolution join ─────────────────────────────────
  // Dirty part names = char 8 dropped AND chars 10/11 swapped (two distinct
  // error modes, ed ≤ 2 total) linked back to the clean catalog; candidates
  // are the exact lev ≤ 2 envelope (symmetric deletion, recall 1), ranked
  // by the native Jaro-Winkler and kept at ≥ 0.9. The oracle replays the
  // identical envelope + score with DuckDB's own levenshtein /
  // jaro_winkler_similarity (fuzz-verified bit-parity, NativeFuzzySpec);
  // the double score is micro-quantized on both sides.
  private val xJaroWinkler: Q = (s, dir) => {
    val clean = Tables.part(s, dir)
      .select(col("p_partkey").as("id"), col("p_name").as("name"))
    val dirty = clean.select((col("id") + 1000000L).as("id"),
      concat(col("name").substr(lit(1), lit(7)),
        col("name").substr(lit(9), lit(1)),
        col("name").substr(lit(11), lit(1)),
        col("name").substr(lit(10), lit(1)),
        col("name").substr(lit(12), length(col("name")))).as("name"))
    Fuzzy.jaroWinklerJoin(dirty, clean, "id", "name", "id", "name",
        minSim = 0.9, maxDist = 2, maxBucketSize = Int.MaxValue)
      .select(col("id_l").as("dirty_id"), col("id_r").as("clean_id"),
        round(col("jw") * 1e6, 0).cast("long").as("jw_q"))
      .orderBy("dirty_id", "clean_id")
  }
  private val xJaroWinklerSql =
    """WITH clean AS (SELECT p_partkey AS id, p_name AS name FROM part),
      |dirty AS (
      |  SELECT id + 1000000 AS id,
      |    substr(name, 1, 7) || substr(name, 9, 1) || substr(name, 11, 1)
      |      || substr(name, 10, 1) || substr(name, 12) AS name
      |  FROM clean
      |)
      |SELECT d.id AS dirty_id, c.id AS clean_id,
      |  CAST(round(jaro_winkler_similarity(d.name, c.name) * 1000000, 0)
      |    AS BIGINT) AS jw_q
      |FROM dirty d JOIN clean c
      |  ON levenshtein(d.name, c.name) <= 2
      |  AND jaro_winkler_similarity(d.name, c.name) >= 0.9
      |ORDER BY dirty_id, clean_id""".stripMargin

  // ── Damerau-Levenshtein typo join ───────────────────────────────────────
  // Dirty names = chars 8/9 swapped — the classic fat-finger transposition
  // plain Levenshtein scores 2 but Damerau scores 1. Candidates via
  // deletion signatures at 2 (DL ≤ 1 ⟹ lev ≤ 2, recall 1), verified by
  // the native unrestricted-DL expression; oracle = DuckDB's
  // damerau_levenshtein on the cross join.
  private val xDamerauLev: Q = (s, dir) => {
    val clean = Tables.part(s, dir)
      .select(col("p_partkey").as("id"), col("p_name").as("name"))
    val dirty = clean.select((col("id") + 1000000L).as("id"),
      concat(col("name").substr(lit(1), lit(7)),
        col("name").substr(lit(9), lit(1)),
        col("name").substr(lit(8), lit(1)),
        col("name").substr(lit(10), length(col("name")))).as("name"))
    Fuzzy.damerauJoin(dirty, clean, "id", "name", "id", "name",
        maxBucketSize = Int.MaxValue)
      .select(col("id_l").as("dirty_id"), col("id_r").as("clean_id"),
        col("dl"))
      .orderBy("dirty_id", "clean_id")
  }
  private val xDamerauLevSql =
    """WITH clean AS (SELECT p_partkey AS id, p_name AS name FROM part),
      |dirty AS (
      |  SELECT id + 1000000 AS id,
      |    substr(name, 1, 7) || substr(name, 9, 1) || substr(name, 8, 1)
      |      || substr(name, 10) AS name
      |  FROM clean
      |)
      |SELECT d.id AS dirty_id, c.id AS clean_id,
      |  CAST(damerau_levenshtein(d.name, c.name) AS BIGINT) AS dl
      |FROM dirty d JOIN clean c ON damerau_levenshtein(d.name, c.name) <= 1
      |ORDER BY dirty_id, clean_id""".stripMargin

  // ── CDC changelog apply (lakehouse MERGE) ───────────────────────────────
  // A base snapshot plus a two-epoch changelog derived deterministically
  // from orders: epoch-1 updates/deletes over keys ≡0 (mod 3), epoch-2
  // updates/deletes over even keys. Exercises insert (keys absent from the
  // snapshot), update, delete, latest-wins override (both epochs touch
  // keys ≡0 mod 6), and resurrection (epoch-1 D overridden by epoch-2 U).
  // The oracle replays latest-wins with a QUALIFY row_number.
  private val xCdcApply: Q = (s, dir) => {
    val o = Tables.orders(s, dir).select(
      col("o_orderkey").as("id"), col("o_custkey").as("cust"),
      Kit.cents(col("o_totalprice")).as("price_c"),
      col("o_orderstatus").as("status"))
    val snapshot = o.filter(col("id") % 4 =!= 1)
    val epoch1 = o.filter(col("id") % 3 === 0).select(
      col("id"), lit(1L).as("seq"),
      when(col("id") % 5 === 0, "D").otherwise("U").as("op"),
      col("cust"), (col("price_c") + 111L).as("price_c"), col("status"))
    val epoch2 = o.filter(col("id") % 2 === 0).select(
      col("id"), lit(2L).as("seq"),
      when(col("id") % 7 === 0, "D").otherwise("U").as("op"),
      col("cust"), (col("price_c") + 222L).as("price_c"),
      lit("X").as("status"))
    Cdc.applyChangelog(snapshot, epoch1.unionByName(epoch2),
        Seq("id"), Seq("seq"))
      .orderBy("id")
  }
  private val xCdcApplySql =
    """WITH o AS (
      |  SELECT o_orderkey AS id, o_custkey AS cust,
      |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c,
      |    o_orderstatus AS status
      |  FROM orders
      |), snapshot AS (SELECT * FROM o WHERE id % 4 <> 1),
      |changes AS (
      |  SELECT id, 1 AS seq, CASE WHEN id % 5 = 0 THEN 'D' ELSE 'U' END AS op,
      |    cust, price_c + 111 AS price_c, status FROM o WHERE id % 3 = 0
      |  UNION ALL
      |  SELECT id, 2 AS seq, CASE WHEN id % 7 = 0 THEN 'D' ELSE 'U' END AS op,
      |    cust, price_c + 222 AS price_c, 'X' AS status FROM o WHERE id % 2 = 0
      |), latest AS (
      |  SELECT * FROM changes
      |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY seq DESC) = 1
      |)
      |SELECT s.id, s.cust, s.price_c, s.status FROM snapshot s
      |  ANTI JOIN latest l ON s.id = l.id
      |UNION ALL
      |SELECT id, cust, price_c, status FROM latest WHERE op <> 'D'
      |ORDER BY id""".stripMargin

  // ── 3-step sequential funnel (ordered event chain) ──────────────────────
  // signup → first click at-or-after it → first purchase at-or-after that
  // click, per user: a CHAIN of min-aggregations and joins (each stage
  // filters events against the previous stage's timestamp and takes the
  // min) — no windows, no per-user sort; every stage is one hash shuffle
  // and the per-user stage outputs are users-sized.
  private val xSequenceFunnel: Q = (s, dir) => {
    val e = Tables.events(s, dir).select(col("user_id"), col("event_type"),
      Kit.nanosToMillis("ts").as("ts_ms"))
    val s1 = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts_ms")).as("t1"))
    val s2 = e.filter(col("event_type") === "click").join(s1, Seq("user_id"))
      .filter(col("ts_ms") >= col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts_ms")).as("t2"))
    val s3 = e.filter(col("event_type") === "purchase").join(s2, Seq("user_id"))
      .filter(col("ts_ms") >= col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts_ms")).as("t3"))
    s1.join(s2.join(s3, Seq("user_id"), "left"), Seq("user_id"), "left")
      .select(col("user_id"), col("t1"), col("t2"), col("t3"),
        (col("t3") - col("t1")).as("total_ms"))
      .orderBy("user_id")
  }
  private val xSequenceFunnelSql =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_ns(ts) // 1000000 AS ts_ms
      |  FROM events
      |), s1 AS (
      |  SELECT user_id, min(ts_ms) AS t1 FROM e
      |  WHERE event_type = 'signup' GROUP BY user_id
      |), s2 AS (
      |  SELECT e.user_id, min(e.ts_ms) AS t2
      |  FROM e JOIN s1 USING (user_id)
      |  WHERE e.event_type = 'click' AND e.ts_ms >= s1.t1
      |  GROUP BY e.user_id
      |), s3 AS (
      |  SELECT e.user_id, min(e.ts_ms) AS t3
      |  FROM e JOIN s2 USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ts_ms >= s2.t2
      |  GROUP BY e.user_id
      |)
      |SELECT s1.user_id, s1.t1, s2.t2, s3.t3, s3.t3 - s1.t1 AS total_ms
      |FROM s1
      |LEFT JOIN s2 USING (user_id)
      |LEFT JOIN s3 USING (user_id)
      |ORDER BY s1.user_id""".stripMargin

  // ── bipartite co-occurrence projection (co-purchase graph) ──────────────
  // Items co-ordered by the same customer projected to weighted item-item
  // edges — the recommender/co-visitation prep. The self-join per customer
  // is quadratic in basket size, the classic hot-key hazard; the operator
  // path would cap baskets with sizeBandedBuckets (here uncapped so the
  // oracle — the plain pair join — is exact).
  private val xCopurchase: Q = (s, dir) => {
    val basket = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), (col("l_partkey") % 499).as("item"))
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("cust"), col("item")).distinct()
    basket.as("a").join(basket.as("b"), Seq("cust"))
      .filter(col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("item_a"), col("b.item").as("item_b"))
      .agg(count(lit(1)).as("n_cust"))
      .filter(col("n_cust") >= 3)
      .orderBy("item_a", "item_b")
  }
  private val xCopurchaseSql =
    """WITH basket AS (
      |  SELECT DISTINCT o_custkey AS cust, l_partkey % 499 AS item
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |)
      |SELECT a.item AS item_a, b.item AS item_b,
      |  CAST(count(*) AS BIGINT) AS n_cust
      |FROM basket a JOIN basket b ON a.cust = b.cust AND a.item < b.item
      |GROUP BY 1, 2 HAVING count(*) >= 3
      |ORDER BY item_a, item_b""".stripMargin

  // ── equi-width histogram (zone-map / optimizer stats shape) ─────────────
  // 20 fixed-width price buckets with per-bucket count + integer value
  // sum — the column-statistics build every engine's optimizer and every
  // data-profiling UI runs; integer bucket arithmetic on cents so both
  // engines bin identically.
  private val xHistogram: Q = (s, dir) => {
    Tables.orders(s, dir)
      .select(Kit.cents(col("o_totalprice")).as("p"))
      .select(least(expr("p div 3000000"), lit(19L)).as("bucket"), col("p"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("p")).as("sum_c"),
        min(col("p")).as("min_c"), max(col("p")).as("max_c"))
      .orderBy(col("bucket"))
  }
  private val xHistogramSql =
    """WITH t AS (
      |  SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS p FROM orders
      |)
      |SELECT least(p // 3000000, 19) AS bucket, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(p) AS BIGINT) AS sum_c, CAST(min(p) AS BIGINT) AS min_c,
      |  CAST(max(p) AS BIGINT) AS max_c
      |FROM t GROUP BY 1 ORDER BY bucket""".stripMargin

  // ── event-type transition matrix (Markov counts) ────────────────────────
  // Per-user timelines ordered by (ts, event_id); count every consecutive
  // (from_type → to_type) transition corpus-wide — the session-flow /
  // next-event-model sufficient statistics. One per-user window (user-
  // bounded) and one map-side-combined count.
  private val xTransitions: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        Kit.nanosToMillis("ts").as("ts_ms"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("from_type", "to_type")
  }
  private val xTransitionsSql =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type,
      |    epoch_ns(ts) // 1000000 AS ts_ms
      |  FROM events
      |), t AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts_ms, event_id) AS to_type
      |  FROM e
      |)
      |SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
      |FROM t WHERE to_type IS NOT NULL
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ── exact distributed moments (variance building blocks) ────────────────
  // Per return-flag: n, Σx, Σx² over cents-quantized prices — the abelian
  // sufficient statistics every downstream consumer derives mean/variance
  // from. Keeping the gate on INTEGER sums (not the float variance) is
  // the cross-engine-portable form: float var_samp is summation-order-
  // dependent and differs between engines by design.
  private val xMoments: Q = (s, dir) => {
    Tables.lineitem(s, dir)
      .select(col("l_returnflag"), Kit.cents(col("l_extendedprice")).as("p"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("p")).as("sum_c"),
        sum(col("p") * col("p")).as("sum_sq_c"))
      .orderBy(col("l_returnflag"))
  }
  private val xMomentsSql =
    """WITH t AS (
      |  SELECT l_returnflag,
      |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS p
      |  FROM lineitem
      |)
      |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(p) AS BIGINT) AS sum_c, CAST(sum(p * p) AS BIGINT) AS sum_sq_c
      |FROM t GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ── unpivot / melt (wide → long reshape) ────────────────────────────────
  // The inverse of x_pivot: per-lineitem monetary columns melted into
  // (measure, value_c) rows with Spark's native unpivot (no UNION of
  // scans — one pass emits all measures). Oracle = the UNION ALL form.
  private val xUnpivot: Q = (s, dir) => {
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        Kit.cents(col("l_extendedprice")).as("extendedprice_c"),
        Kit.cents(col("l_discount")).as("discount_c"),
        Kit.cents(col("l_tax")).as("tax_c"))
      .unpivot(
        ids = Array(col("l_orderkey"), col("l_linenumber")),
        values = Array(col("extendedprice_c"), col("discount_c"), col("tax_c")),
        variableColumnName = "measure",
        valueColumnName = "value_c")
      .orderBy("l_orderkey", "l_linenumber", "measure")
  }
  private val xUnpivotSql =
    """WITH w AS (
      |  SELECT l_orderkey, l_linenumber,
      |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS extendedprice_c,
      |    CAST(round(l_discount * 100, 0) AS BIGINT) AS discount_c,
      |    CAST(round(l_tax * 100, 0) AS BIGINT) AS tax_c
      |  FROM lineitem
      |)
      |SELECT l_orderkey, l_linenumber, 'extendedprice_c' AS measure,
      |  extendedprice_c AS value_c FROM w
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'discount_c', discount_c FROM w
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'tax_c', tax_c FROM w
      |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin

  // ── hierarchy resolution (pointer doubling) ─────────────────────────────
  // A synthetic ⌊id/2⌋ forest over the customer ids (root 1, depth
  // ~log₂ n): every node's root and depth via pointer doubling — ⌈log₂ d⌉
  // self-joins instead of a d-step parent walk. Oracle = recursive CTE
  // walking one parent per step, terminal rows at self-loop roots.
  private val xHierarchy: Q = (s, dir) => {
    val parents = Tables.customer(s, dir).select(
      col("c_custkey").as("child"),
      greatest(expr("c_custkey div 2"), lit(1L)).as("parent"))
    Graph.rootDepths(parents, "child", "parent").orderBy("node")
  }
  private val xHierarchySql =
    """WITH RECURSIVE p AS (
      |  SELECT c_custkey AS id, greatest(c_custkey // 2, 1) AS parent
      |  FROM customer
      |), walk(node, anc, d) AS (
      |  SELECT id, id, 0 FROM p
      |  UNION
      |  SELECT w.node, pp.parent, w.d + 1
      |  FROM walk w JOIN p pp ON pp.id = w.anc
      |  WHERE w.anc <> pp.parent
      |)
      |SELECT w.node, w.anc AS root, CAST(w.d AS BIGINT) AS depth
      |FROM walk w JOIN p r ON r.id = w.anc AND r.parent = r.id
      |ORDER BY w.node""".stripMargin

  // ── incremental aggregate maintenance (materialized-view upkeep) ────────
  // The per-customer (sum, count) aggregate of the BEFORE snapshot is
  // maintained to the AFTER state from snapshot deltas alone — the oracle
  // recomputes the aggregate from AFTER directly, so the gate IS the
  // maintenance law (maintained == fresh), covering value changes, group
  // reassignment (customer changes on id%11==0 rows), deletes, inserts.
  private val xIvm: Q = (s, dir) => {
    val o = Tables.orders(s, dir).select(
      col("o_orderkey").as("id"), col("o_custkey").as("cust"),
      Kit.cents(col("o_totalprice")).as("price_c"))
    val before = o.filter(col("id") % 4 =!= 1)
    val after = o.filter(col("id") % 4 =!= 1 && col("id") % 7 =!= 0)
      .select(col("id"),
        when(col("id") % 11 === 0, (col("cust") % 100) + 1L)
          .otherwise(col("cust")).as("cust"),
        when(col("id") % 3 === 0, col("price_c") + 500L)
          .otherwise(col("price_c")).as("price_c"))
      .unionByName(o.filter(col("id") % 4 === 1 && col("id") % 6 === 1))
    val prevAgg = before.groupBy(col("cust"))
      .agg(sum(col("price_c")).as("sum_v"), count(lit(1)).as("n"))
    Cdc.maintainSumCount(prevAgg, before, after, Seq("id"), "cust", "price_c")
      .orderBy("cust")
  }
  private val xIvmSql =
    """WITH o AS (
      |  SELECT o_orderkey AS id, o_custkey AS cust,
      |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c
      |  FROM orders
      |), after_s AS (
      |  SELECT id,
      |    CASE WHEN id % 11 = 0 THEN (cust % 100) + 1 ELSE cust END AS cust,
      |    CASE WHEN id % 3 = 0 THEN price_c + 500 ELSE price_c END AS price_c
      |  FROM o WHERE id % 4 <> 1 AND id % 7 <> 0
      |  UNION ALL
      |  SELECT id, cust, price_c FROM o WHERE id % 4 = 1 AND id % 6 = 1
      |)
      |SELECT cust, CAST(sum(price_c) AS BIGINT) AS sum_v,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM after_s GROUP BY cust ORDER BY cust""".stripMargin

  // ── cohort retention matrix ─────────────────────────────────────────────
  // Users cohorted by the week of their first signup; for each cohort ×
  // week-offset, how many distinct users were active (any event). Weeks
  // are integer epoch-ms divisions — no calendar/timezone semantics to
  // diverge between engines. Two aggregations and one join; the cohort
  // side is users-sized (AQE broadcasts it).
  private val xCohortRetention: Q = (s, dir) => {
    val wk = 604800000L // 7 * 24 * 3600 * 1000
    val e = Tables.events(s, dir).select(col("user_id"),
      col("event_type"), Kit.nanosToMillis("ts").as("ts_ms"))
    val cohort = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(expr(s"min(ts_ms) div $wk").as("cohort_week"))
    e.join(cohort, Seq("user_id"))
      .select(col("user_id"), col("cohort_week"),
        (expr(s"ts_ms div $wk") - col("cohort_week")).as("week_offset"))
      .filter(col("week_offset") >= 0)
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count_distinct(col("user_id")).as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }
  private val xCohortRetentionSql =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_ns(ts) // 1000000 AS ts_ms
      |  FROM events
      |), cohort AS (
      |  SELECT user_id, min(ts_ms) // 604800000 AS cohort_week
      |  FROM e WHERE event_type = 'signup' GROUP BY user_id
      |)
      |SELECT c.cohort_week, e.ts_ms // 604800000 - c.cohort_week AS week_offset,
      |  count(DISTINCT e.user_id) AS n_users
      |FROM e JOIN cohort c USING (user_id)
      |WHERE e.ts_ms // 604800000 - c.cohort_week >= 0
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ── snapshot diff → change-data feed ────────────────────────────────────
  // Two deterministic snapshot states of the orders projection; emit the
  // I/U/D changelog between them (deletes carry the before image, the CDC
  // convention). Oracle = FULL OUTER JOIN with column-wise IS DISTINCT
  // FROM classification.
  private val xCdcDiff: Q = (s, dir) => {
    val o = Tables.orders(s, dir).select(
      col("o_orderkey").as("id"), col("o_custkey").as("cust"),
      Kit.cents(col("o_totalprice")).as("price_c"),
      col("o_orderstatus").as("status"))
    val before = o.filter(col("id") % 4 =!= 1)
    val after = o.filter(col("id") % 4 =!= 1 && col("id") % 7 =!= 0)
      .select(col("id"), col("cust"),
        when(col("id") % 3 === 0, col("price_c") + 500L)
          .otherwise(col("price_c")).as("price_c"), col("status"))
      .unionByName(o.filter(col("id") % 4 === 1 && col("id") % 6 === 1))
    Cdc.diffSnapshots(before, after, Seq("id"))
      .orderBy("id")
  }
  private val xCdcDiffSql =
    """WITH o AS (
      |  SELECT o_orderkey AS id, o_custkey AS cust,
      |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c,
      |    o_orderstatus AS status
      |  FROM orders
      |), before_s AS (SELECT * FROM o WHERE id % 4 <> 1),
      |after_s AS (
      |  SELECT id, cust,
      |    CASE WHEN id % 3 = 0 THEN price_c + 500 ELSE price_c END AS price_c,
      |    status
      |  FROM o WHERE id % 4 <> 1 AND id % 7 <> 0
      |  UNION ALL
      |  SELECT id, cust, price_c, status FROM o
      |  WHERE id % 4 = 1 AND id % 6 = 1
      |)
      |SELECT coalesce(b.id, a.id) AS id,
      |  coalesce(a.cust, b.cust) AS cust,
      |  coalesce(a.price_c, b.price_c) AS price_c,
      |  coalesce(a.status, b.status) AS status,
      |  CASE WHEN b.id IS NULL THEN 'I'
      |       WHEN a.id IS NULL THEN 'D' ELSE 'U' END AS op
      |FROM before_s b FULL JOIN after_s a ON b.id = a.id
      |WHERE b.id IS NULL OR a.id IS NULL
      |   OR a.cust IS DISTINCT FROM b.cust
      |   OR a.price_c IS DISTINCT FROM b.price_c
      |   OR a.status IS DISTINCT FROM b.status
      |ORDER BY id""".stripMargin

  // ── integer-arithmetic PageRank (domain-authority ranking) ──────────────
  // A two-layer graph from the star schema: supplier → customer edges for
  // every distinct shipping relationship, customer → nation residence
  // edges (namespaced +1M / +2M so the id spaces cannot collide). Three
  // power-iteration rounds in exact fixed-point integer arithmetic — the
  // oracle replays each round as an unrolled CTE with DuckDB's integer
  // division, bit-for-bit.
  private val xPagerank: Q = (s, dir) => {
    val ship = GraphFixtures.shipEdges(s, dir) // cached distinct fixture
    val residence = Tables.customer(s, dir).select(
      (col("c_custkey") + 1000000L).as("src"),
      (col("c_nationkey") + 2000000L).as("dst"))
    // union of the distinct fixture with per-primary-key layers in
    // disjoint id namespaces is already distinct — no extra shuffle
    Graph.pageRank(ship.unionByName(residence), "src", "dst",
        iters = 3)
      .orderBy("node")
  }
  private val xPagerankSql = {
    def round(prev: String, cur: String) =
      s"""$cur AS (SELECT n.node,
         |  CAST(150000 + (85 * coalesce(c.s, 0)) // 100 AS BIGINT) AS rank
         |FROM nodes n LEFT JOIN (
         |  SELECT ed.dst, sum(r.rank // ed.deg) AS s
         |  FROM ed JOIN $prev r ON ed.src = r.node GROUP BY ed.dst) c
         |ON n.node = c.dst)""".stripMargin
    s"""WITH e AS (
       |  SELECT DISTINCT l_suppkey AS src, o_custkey + 1000000 AS dst
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  UNION
       |  SELECT c_custkey + 1000000, c_nationkey + 2000000 FROM customer
       |), deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
       |ed AS (SELECT e.src, e.dst, d.deg FROM e JOIN deg d ON e.src = d.src),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
       |${round("r0", "r1")},
       |${round("r1", "r2")},
       |${round("r2", "r3")}
       |SELECT node, rank FROM r3 ORDER BY node""".stripMargin
  }

  // ── interval OVERLAP join (attribution window intersection) ─────────────
  // Per user, every view's 6 h activity window against every purchase's
  // 8 h window; overlapping pairs once each with the overlap width. The
  // operator meets each pair in possibly several time buckets and keeps
  // only the bucket holding max(starts) — the oracle is the plain
  // quadratic predicate join, so any duplicate or dropped pair
  // hash-mismatches.
  private val xIntervalJoin: Q = (s, dir) => {
    val e = Tables.events(s, dir).select(col("event_id"), col("user_id"),
      col("event_type"), Kit.nanosToMillis("ts").as("ts_ms"))
    val a = e.filter(col("event_type") === "view")
      .select(col("event_id").as("a_id"), col("user_id"),
        col("ts_ms").as("a_start"), (col("ts_ms") + 21600000L).as("a_end"))
    val b = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("b_id"), col("user_id"),
        col("ts_ms").as("b_start"), (col("ts_ms") + 28800000L).as("b_end"))
    RangeJoin.intervalOverlap(a, b, Seq("user_id"),
        "a_start", "a_end", "b_start", "b_end", bucketMs = 21600000L)
      .select(col("a_id"), col("b_id"),
        (least(col("a_end"), col("b_end")) -
          greatest(col("a_start"), col("b_start"))).as("overlap_ms"))
      .orderBy("a_id", "b_id")
  }
  private val xIntervalJoinSql =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type,
      |    epoch_ns(ts) // 1000000 AS ts_ms
      |  FROM events
      |), a AS (
      |  SELECT event_id AS a_id, user_id, ts_ms AS a_start,
      |    ts_ms + 21600000 AS a_end FROM e WHERE event_type = 'view'
      |), b AS (
      |  SELECT event_id AS b_id, user_id, ts_ms AS b_start,
      |    ts_ms + 28800000 AS b_end FROM e WHERE event_type = 'purchase'
      |)
      |SELECT a_id, b_id,
      |  least(a_end, b_end) - greatest(a_start, b_start) AS overlap_ms
      |FROM a JOIN b USING (user_id)
      |WHERE a_start < b_end AND b_start < a_end
      |ORDER BY a_id, b_id""".stripMargin

  // ── time-series interpolation at grid points ────────────────────────────
  // Per user, the click-value series resampled at five fixed weekly grid
  // timestamps: linear interpolation between the bracketing observations,
  // flat one-sided fills, null when the user never clicked. Observations
  // are pre-aggregated to one per (user, ts) (max value, deterministic);
  // the oracle recomputes prev/next via min/max-filtered joins and the
  // IDENTICAL double arithmetic, micro-quantized.
  private val xInterpolate: Q = (s, dir) => {
    val gridTs = Seq(1704500000000L, 1705000000000L, 1705500000000L,
      1706000000000L, 1706500000000L)
    val e = Tables.events(s, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id"), Kit.nanosToMillis("ts").as("ot"), col("value"))
      .groupBy(col("user_id"), col("ot")).agg(max(col("value")).as("v"))
    val grid = Tables.events(s, dir).select(col("user_id")).distinct()
      .select(col("user_id"), explode(lit(gridTs.toArray)).as("gt"))
    graft.ops.Asof.interpolateAt(grid, e, "user_id", "gt", "ot", "v")
      .select(col("user_id"), col("gt"), col("prev_t"), col("next_t"),
        Kit.microUnits(col("value")).as("value_micro"))
      .orderBy("user_id", "gt")
  }
  private val xInterpolateSql =
    """WITH obs AS (
      |  SELECT user_id, epoch_ns(ts) // 1000000 AS ot, max(value) AS v
      |  FROM events WHERE event_type = 'click' GROUP BY user_id, ot
      |), grid AS (
      |  SELECT DISTINCT user_id, g.gt
      |  FROM events CROSS JOIN (SELECT unnest([1704500000000, 1705000000000,
      |    1705500000000, 1706000000000, 1706500000000]) AS gt) g
      |), prev AS (
      |  SELECT g.user_id, g.gt, max(o.ot) AS prev_t
      |  FROM grid g LEFT JOIN obs o
      |    ON o.user_id = g.user_id AND o.ot <= g.gt
      |  GROUP BY g.user_id, g.gt
      |), nxt AS (
      |  SELECT g.user_id, g.gt, min(o.ot) AS next_t
      |  FROM grid g LEFT JOIN obs o
      |    ON o.user_id = g.user_id AND o.ot >= g.gt
      |  GROUP BY g.user_id, g.gt
      |), j AS (
      |  SELECT p.user_id, p.gt, p.prev_t, n.next_t, pv.v AS pv, nv.v AS nv
      |  FROM prev p
      |  JOIN nxt n ON n.user_id = p.user_id AND n.gt = p.gt
      |  LEFT JOIN obs pv ON pv.user_id = p.user_id AND pv.ot = p.prev_t
      |  LEFT JOIN obs nv ON nv.user_id = p.user_id AND nv.ot = n.next_t
      |)
      |SELECT user_id, gt, prev_t, next_t,
      |  CAST(round(CASE
      |    WHEN prev_t IS NULL THEN nv
      |    WHEN next_t IS NULL THEN pv
      |    WHEN next_t = prev_t THEN pv
      |    ELSE pv + (nv - pv) * (CAST(gt - prev_t AS DOUBLE)
      |      / CAST(next_t - prev_t AS DOUBLE))
      |  END * 1000000, 0) AS BIGINT) AS value_micro
      |FROM j ORDER BY user_id, gt""".stripMargin

  // ── semi-structured JSON extraction + aggregation ───────────────────────
  // The events payload column is a JSON string; extract a typed field two
  // ways in one plan — path extraction (get_json_object) and schema'd
  // parse (from_json) — assert they agree in-plan (raise_error on any
  // disagreement row would fail the query), and aggregate per event type.
  private val xJsonExtract: Q = (s, dir) => {
    val parsed = Tables.events(s, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k_path"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
          .getField("k").as("k_schema"))
      .select(col("event_type"),
        when(col("k_path") <=> col("k_schema"), col("k_path"))
          .otherwise(raise_error(lit("json decode disagreement"))).as("k"))
    parsed.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy(col("event_type"))
  }
  private val xJsonExtractSql =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
      |    AS sum_k,
      |  CAST(min(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
      |    AS min_k,
      |  CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
      |    AS max_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ── XML wire roundtrip (to_xml → from_xml) ──────────────────────────────
  // Same shape as the Avro/JSONL/CSV roundtrips: encode the payload struct
  // to an XML fragment in-plan, decode with the explicit schema, reproject.
  // Exercises XML escaping (props carries JSON with quotes/braces) both
  // ways; the float column is cents-quantized like every roundtrip so the
  // gate checks values, not formatter trivia.
  private val i5XmlRoundtrip: Q = (s, dir) => {
    val wireDdl = "user_id BIGINT, event_type STRING, value DOUBLE, props STRING"
    Tables.events(s, dir)
      .select(col("event_id"),
        to_xml(struct(col("user_id"), col("event_type"), col("value"),
          col("props"))).as("wire"))
      .select(col("event_id"),
        from_xml(col("wire"),
          org.apache.spark.sql.types.StructType.fromDDL(wireDdl)).as("rec"))
      .select(col("event_id"), col("rec.user_id").as("user_id"),
        col("rec.event_type").as("event_type"),
        Kit.cents(col("rec.value")).as("value_c"), col("rec.props").as("props"))
      .orderBy(col("event_id"))
  }
  private val i5XmlRoundtripSql =
    """SELECT event_id, user_id, event_type,
      |  CAST(round(value * 100, 0) AS BIGINT) AS value_c, props
      |FROM events ORDER BY event_id""".stripMargin

  // ── ORC file roundtrip ──────────────────────────────────────────────────
  // The columnar-interchange sink/source the reference's file layer maps
  // to when the peer system is Hive/Trino-shaped: write the projected
  // table to ORC, read it back, verify values against the parquet-derived
  // oracle. (Unlike the in-plan codecs this exercises the actual file
  // format datasource both directions.)
  private val i6OrcRoundtrip: Q = (s, dir) => {
    val tmp = java.nio.file.Files.createTempDirectory("graft_orc")
      .resolve("events_orc").toString
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        Kit.cents(col("value")).as("value_c"), col("props"))
      .write.mode("overwrite").orc(tmp)
    s.read.orc(tmp).orderBy(col("event_id"))
  }
  private val i6OrcRoundtripSql =
    """SELECT event_id, user_id, event_type,
      |  CAST(round(value * 100, 0) AS BIGINT) AS value_c, props
      |FROM events ORDER BY event_id""".stripMargin

  // ── schema evolution on read (mergeSchema) ──────────────────────────────
  // The lakehouse reality that files written before a column existed must
  // stay readable: an old-schema batch (no `value_c`) and a new-schema
  // batch land in one dataset dir; `mergeSchema` unions the schemas and
  // back-fills nulls. Oracle = the equivalent UNION with a NULL column.
  private val i7SchemaEvolution: Q = (s, dir) => {
    val tmp = java.nio.file.Files.createTempDirectory("graft_evo")
      .resolve("events_evo").toString
    val e = Tables.events(s, dir)
    e.filter(col("event_id") % 2 === 0)
      .select(col("event_id"), col("user_id"), col("event_type"))
      .write.parquet(s"$tmp/old")
    e.filter(col("event_id") % 2 =!= 0)
      .select(col("event_id"), col("user_id"), col("event_type"),
        Kit.cents(col("value")).as("value_c"))
      .write.parquet(s"$tmp/new")
    s.read.option("mergeSchema", "true")
      .parquet(s"$tmp/old", s"$tmp/new")
      .orderBy(col("event_id"))
  }
  private val i7SchemaEvolutionSql =
    """SELECT event_id, user_id, event_type, CAST(NULL AS BIGINT) AS value_c
      |FROM events WHERE event_id % 2 = 0
      |UNION ALL
      |SELECT event_id, user_id, event_type,
      |  CAST(round(value * 100, 0) AS BIGINT)
      |FROM events WHERE event_id % 2 <> 0
      |ORDER BY event_id""".stripMargin

  // ── nested higher-order-function processing ─────────────────────────────
  // Per user: the click-value series packed into ONE sorted array-of-struct
  // row, consecutive deltas via zip_with over shifted slices, each delta
  // micro-quantized BEFORE the in-array integer sums (associative → engine-
  // portable), then scalars out. Exercises the nested-type kit
  // (collect_list / sort_array / slice / zip_with / filter / aggregate)
  // that columnar-only engines lack.
  private val xNestedHof: Q = (s, dir) => {
    val packed = Tables.events(s, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id"), Kit.nanosToMillis("ts").as("ts_ms"),
        col("event_id"), col("value"))
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(
        struct(col("ts_ms"), col("event_id"), col("value")))).as("series"))
    packed
      .select(col("user_id"), col("series"))
      .withColumn("deltas", zip_with(
        slice(col("series"), lit(2), size(col("series")) - 1),
        slice(col("series"), lit(1), size(col("series")) - 1),
        (a, b) => Kit.microUnits(a.getField("value") - b.getField("value"))))
      .select(col("user_id"), size(col("series")).cast("long").as("n_clicks"),
        aggregate(filter(col("deltas"), d => d > 0L), lit(0L),
          (acc, d) => acc + d).as("sum_pos_delta_micro"),
        coalesce(aggregate(col("deltas"), lit(0L),
          (acc, d) => greatest(acc, abs(d))), lit(0L))
          .as("max_abs_delta_micro"))
      .orderBy(col("user_id"))
  }
  private val xNestedHofSql =
    """WITH packed AS (
      |  SELECT user_id,
      |    list(value ORDER BY epoch_ns(ts) // 1000000, event_id) AS vs
      |  FROM events WHERE event_type = 'click' GROUP BY user_id
      |), d AS (
      |  SELECT user_id, len(vs) AS n_clicks,
      |    [CAST(round((vs[i + 1] - vs[i]) * 1000000, 0) AS BIGINT)
      |     for i in range(1, len(vs))] AS deltas
      |  FROM packed
      |)
      |SELECT user_id, CAST(n_clicks AS BIGINT) AS n_clicks,
      |  CAST(coalesce(list_sum([x for x in deltas if x > 0]), 0) AS BIGINT)
      |    AS sum_pos_delta_micro,
      |  CAST(coalesce(list_max([abs(x) for x in deltas]), 0) AS BIGINT)
      |    AS max_abs_delta_micro
      |FROM d ORDER BY user_id""".stripMargin

  // ── raw text-lines roundtrip ────────────────────────────────────────────
  // The line-oriented corpus format (one document per line, the WET/LM
  // training staple): newlines flattened, written with the text
  // datasource, read back. Line files carry no keys or order, so the
  // gate compares the MULTISET of lines (count per md5) — exactly what
  // identity requires of an unordered line store.
  private val i8TextRoundtrip: Q = (s, dir) => {
    val tmp = java.nio.file.Files.createTempDirectory("graft_text")
      .resolve("docs_txt").toString
    val lines = Tables.documents(s, dir)
      .select(regexp_replace(col("text"), "[\\r\\n]+", " ").as("value"))
    lines.write.mode("overwrite").text(tmp)
    s.read.text(tmp)
      .groupBy(md5(col("value").cast("binary")).as("line_md5"))
      .agg(count(lit(1)).as("n"))
      .orderBy("line_md5")
  }
  private val i8TextRoundtripSql =
    """SELECT md5(regexp_replace(text, '[\r\n]+', ' ', 'g')) AS line_md5,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM documents GROUP BY 1 ORDER BY line_md5""".stripMargin

  // ── per-node triangle counting (degree-oriented) ────────────────────────
  // Co-occurrence graph folded onto 9973 residue-class nodes from lineitem's
  // (orderkey, partkey) pairs — sparse enough that the graph does NOT densify toward a
  // clique as SF grows (avg degree stays bounded), dense enough for
  // thousands of triangles. The oracle counts each triangle once via canonical a<b<c
  // edges and a 3-way self-join, then unpivots corners; the operator's
  // degree orientation must produce identical per-node counts.
  private val xTriangles: Q = (s, dir) => {
    val e = GraphFixtures.modEdges(s, dir) // cached fixture
    Graph.triangleCounts(e, "src", "dst").orderBy("node")
  }
  private val xTrianglesSql =
    """WITH raw AS (
      |  SELECT l_orderkey % 9973 AS a, l_partkey % 9973 AS b FROM lineitem
      |  WHERE l_orderkey % 9973 <> l_partkey % 9973
      |), e AS (
      |  SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM raw
      |), t AS (
      |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |  FROM e e1
      |  JOIN e e2 ON e2.a = e1.b
      |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
      |)
      |SELECT node, CAST(count(*) AS BIGINT) AS tri_cnt
      |FROM (SELECT x AS node FROM t UNION ALL SELECT y FROM t
      |      UNION ALL SELECT z FROM t)
      |GROUP BY node ORDER BY node""".stripMargin

  // ── multi-source BFS hop distance (crawl frontier) ──────────────────────
  // Three-layer reachability: seed suppliers → customers they shipped to →
  // the customers' nations → regions (namespaced id spaces), minimum hop
  // distance within 3 hops. Oracle = recursive CTE with UNION dedup and a
  // final min() per node.
  private val xBfs: Q = (s, dir) => {
    val ship = GraphFixtures.shipEdges(s, dir) // cached distinct fixture
    val residence = Tables.customer(s, dir).select(
      (col("c_custkey") + 1000000L).as("src"),
      (col("c_nationkey") + 2000000L).as("dst"))
    val location = Tables.nation(s, dir).select(
      (col("n_nationkey") + 2000000L).as("src"),
      (col("n_regionkey") + 3000000L).as("dst"))
    val seeds = Tables.supplier(s, dir)
      .filter(col("s_suppkey") % 10 === 0).select(col("s_suppkey").as("id"))
    Graph.bfsHops(ship.unionByName(residence).unionByName(location),
        seeds, "src", "dst", "id", maxHops = 3)
      .orderBy("node")
  }
  private val xBfsSql =
    """WITH RECURSIVE e AS (
      |  SELECT DISTINCT l_suppkey AS src, o_custkey + 1000000 AS dst
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  UNION
      |  SELECT c_custkey + 1000000, c_nationkey + 2000000 FROM customer
      |  UNION
      |  SELECT n_nationkey + 2000000, n_regionkey + 3000000 FROM nation
      |), seeds AS (
      |  SELECT s_suppkey AS node FROM supplier WHERE s_suppkey % 10 = 0
      |), reach(node, dist) AS (
      |  SELECT node, 0 FROM seeds
      |  UNION
      |  SELECT e.dst, r.dist + 1 FROM reach r
      |  JOIN e ON e.src = r.node WHERE r.dist < 3
      |)
      |SELECT node, CAST(min(dist) AS BIGINT) AS dist
      |FROM reach GROUP BY node ORDER BY node""".stripMargin

  // ── bounded weighted shortest paths (Bellman-Ford rounds) ───────────────
  // Same layered graph as x_bfs plus direct supplier→nation edges, with
  // integer costs chosen so the cheap 2-hop route beats the direct edge
  // for some nodes and loses for others; 3 relaxation rounds, oracle =
  // the identical rounds unrolled as min-union CTEs.
  private val xShortestPath: Q = (s, dir) => {
    val ship = GraphFixtures.shipEdges(s, dir) // cached distinct fixture
      .withColumn("w", lit(4L))
    val residence = Tables.customer(s, dir).select(
      (col("c_custkey") + 1000000L).as("src"),
      (col("c_nationkey") + 2000000L).as("dst"), lit(2L).as("w"))
    val location = Tables.nation(s, dir).select(
      (col("n_nationkey") + 2000000L).as("src"),
      (col("n_regionkey") + 3000000L).as("dst"), lit(1L).as("w"))
    val direct = Tables.supplier(s, dir).select(
      col("s_suppkey").as("src"),
      (col("s_nationkey") + 2000000L).as("dst"), lit(3L).as("w"))
    val seeds = Tables.supplier(s, dir)
      .filter(col("s_suppkey") % 10 === 0).select(col("s_suppkey").as("id"))
    Graph.shortestPaths(
        ship.unionByName(residence).unionByName(location).unionByName(direct),
        seeds, "src", "dst", "w", "id", rounds = 3)
      .orderBy("node")
  }
  private val xShortestPathSql = {
    def round(prev: String, cur: String) =
      s"""$cur AS (
         |  SELECT node, min(d) AS dist FROM (
         |    SELECT node, dist AS d FROM $prev
         |    UNION ALL
         |    SELECT e.dst, r.dist + e.w FROM $prev r JOIN e ON e.src = r.node
         |  ) GROUP BY node)""".stripMargin
    s"""WITH e AS (
       |  SELECT DISTINCT l_suppkey AS src, o_custkey + 1000000 AS dst, 4 AS w
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  UNION
       |  SELECT c_custkey + 1000000, c_nationkey + 2000000, 2 FROM customer
       |  UNION
       |  SELECT n_nationkey + 2000000, n_regionkey + 3000000, 1 FROM nation
       |  UNION
       |  SELECT s_suppkey, s_nationkey + 2000000, 3 FROM supplier
       |), r0 AS (
       |  SELECT s_suppkey AS node, CAST(0 AS BIGINT) AS dist FROM supplier
       |  WHERE s_suppkey % 10 = 0
       |),
       |${round("r0", "r1")},
       |${round("r1", "r2")},
       |${round("r2", "r3")}
       |SELECT node, CAST(dist AS BIGINT) AS dist FROM r3
       |ORDER BY node""".stripMargin
  }

  // ── k-core extraction (iterative peel) ──────────────────────────────────
  // The 10-core of the residue-class graph: converges in 4 peel rounds at
  // sf0.01; the engine exits early on a stable node count while the
  // oracle unrolls 6 MATERIALIZED rounds (the fixed point is unique, so
  // extra rounds are identity — without MATERIALIZED, DuckDB's CTE
  // inlining re-evaluates the chain exponentially).
  private val xKcore: Q = (s, dir) => {
    val e = GraphFixtures.modEdges(s, dir) // cached fixture
    Graph.kCore(e, "src", "dst", k = 10).orderBy("n")
      .select(col("n").as("node"), col("deg"))
  }
  private val xKcoreSql = {
    val rounds = (1 to 6).map { i =>
      val prev = if (i == 1) "e0" else s"e${i - 1}"
      s"""k$i AS MATERIALIZED (
         |  SELECT n FROM (SELECT a AS n FROM $prev UNION ALL SELECT b FROM $prev)
         |  GROUP BY n HAVING count(*) >= 10
         |), e$i AS MATERIALIZED (
         |  SELECT e.a, e.b FROM $prev e
         |  JOIN k$i x ON e.a = x.n JOIN k$i y ON e.b = y.n
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH raw AS (
       |  SELECT l_orderkey % 9973 AS a, l_partkey % 9973 AS b FROM lineitem
       |  WHERE l_orderkey % 9973 <> l_partkey % 9973
       |), e0 AS MATERIALIZED (
       |  SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM raw
       |),
       |$rounds
       |SELECT n AS node, CAST(count(*) AS BIGINT) AS deg
       |FROM (SELECT a AS n FROM e6 UNION ALL SELECT b FROM e6)
       |GROUP BY n HAVING count(*) >= 10 ORDER BY node""".stripMargin
  }

  // ── personalized PageRank (seed-relative authority) ─────────────────────
  // Same two-layer graph as x_pagerank, teleport restricted to the seed
  // suppliers (every 10th): authority relative to trusted sources. Oracle
  // unrolls the integer rounds with a seed-membership CASE.
  private val xPpr: Q = (s, dir) => {
    val ship = GraphFixtures.shipEdges(s, dir) // cached distinct fixture
    val residence = Tables.customer(s, dir).select(
      (col("c_custkey") + 1000000L).as("src"),
      (col("c_nationkey") + 2000000L).as("dst"))
    val seeds = Tables.supplier(s, dir)
      .filter(col("s_suppkey") % 10 === 0).select(col("s_suppkey").as("id"))
    Graph.personalizedPageRank(ship.unionByName(residence),
        seeds, "src", "dst", "id", iters = 3)
      .orderBy("node")
  }
  private val xPprSql = {
    def round(prev: String, cur: String) =
      s"""$cur AS (SELECT n.node,
         |  CAST(n.seed * 150000 + (85 * coalesce(c.s, 0)) // 100 AS BIGINT)
         |    AS rank
         |FROM n2 n LEFT JOIN (
         |  SELECT ed.dst, sum(r.rank // ed.deg) AS s
         |  FROM ed JOIN $prev r ON ed.src = r.node GROUP BY ed.dst) c
         |ON n.node = c.dst)""".stripMargin
    s"""WITH e AS (
       |  SELECT DISTINCT l_suppkey AS src, o_custkey + 1000000 AS dst
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  UNION
       |  SELECT c_custkey + 1000000, c_nationkey + 2000000 FROM customer
       |), deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
       |ed AS (SELECT e.src, e.dst, d.deg FROM e JOIN deg d ON e.src = d.src),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |sd AS (SELECT s_suppkey AS node FROM supplier WHERE s_suppkey % 10 = 0),
       |n2 AS (
       |  SELECT n.node, CASE WHEN sd.node IS NULL THEN 0 ELSE 1 END AS seed
       |  FROM nodes n LEFT JOIN sd ON sd.node = n.node
       |),
       |r0 AS (SELECT node, CAST(seed * 1000000 AS BIGINT) AS rank FROM n2),
       |${round("r0", "r1")},
       |${round("r1", "r2")},
       |${round("r2", "r3")}
       |SELECT node, rank FROM r3 ORDER BY node""".stripMargin
  }

  // ── HITS hubs & authorities (integer, unnormalized) ─────────────────────
  // Two mutual-recursion rounds over the supplier→customer→nation graph;
  // integer scores are exact and engine-replayable, oracle = the same two
  // rounds unrolled (auth from incoming hubs, hub from the NEW auths).
  private val xHits: Q = (s, dir) => {
    val ship = GraphFixtures.shipEdges(s, dir) // cached distinct fixture
    val residence = Tables.customer(s, dir).select(
      (col("c_custkey") + 1000000L).as("src"),
      (col("c_nationkey") + 2000000L).as("dst"))
    Graph.hits(ship.unionByName(residence), "src", "dst", iters = 2)
      .orderBy("node")
  }
  private val xHitsSql = {
    def auth(prevHub: String, cur: String) =
      s"""$cur AS (
         |  SELECT n.node, coalesce(x.a, 0) AS auth
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, sum(s.hub) AS a
         |    FROM e JOIN $prevHub s ON s.node = e.src GROUP BY e.dst
         |  ) x USING (node))""".stripMargin
    def hub(curAuth: String, cur: String) =
      s"""$cur AS (
         |  SELECT n.node, coalesce(y.h, 0) AS hub
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.src AS node, sum(a.auth) AS h
         |    FROM e JOIN $curAuth a ON a.node = e.dst GROUP BY e.src
         |  ) y USING (node))""".stripMargin
    s"""WITH e AS (
       |  SELECT DISTINCT l_suppkey AS src, o_custkey + 1000000 AS dst
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  UNION
       |  SELECT c_custkey + 1000000, c_nationkey + 2000000 FROM customer
       |), nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |s0 AS (SELECT node, CAST(1 AS BIGINT) AS hub FROM nodes),
       |${auth("s0", "a1")},
       |${hub("a1", "h1")},
       |${auth("h1", "a2")},
       |${hub("a2", "h2")}
       |SELECT n.node, CAST(h2.hub AS BIGINT) AS hub,
       |  CAST(a2.auth AS BIGINT) AS auth
       |FROM nodes n JOIN h2 USING (node) JOIN a2 USING (node)
       |ORDER BY n.node""".stripMargin
  }

  // ── 2-D skyline: Pareto-best customers by (total spend, order count) ────
  // Distributed exact frontier (ops/Skyline.scala): per-x reduction +
  // bucketed prefix-max — no global sort, no all-pairs join. The oracle IS
  // the all-pairs NOT EXISTS dominance definition, so the gate proves the
  // scalable shape equals the textbook semantics.
  private val xSkyline: Q = (s, dir) => {
    val perCust = Tables.orders(s, dir)
      .groupBy(col("o_custkey").as("custkey"))
      .agg(sum(Kit.cents(col("o_totalprice"))).as("spend_c"),
        count(lit(1)).as("n_orders"))
    graft.ops.Skyline.skyline2D(perCust, "spend_c", "n_orders",
        c => shiftright(c, 22))
      .orderBy(col("spend_c").desc, col("custkey"))
  }
  private val xSkylineSql =
    """WITH p AS (
      |  SELECT o_custkey AS custkey,
      |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
      |      AS spend_c,
      |    CAST(count(*) AS BIGINT) AS n_orders
      |  FROM orders GROUP BY o_custkey
      |)
      |SELECT custkey, spend_c, n_orders FROM p a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM p b
      |  WHERE b.spend_c >= a.spend_c AND b.n_orders >= a.n_orders
      |    AND (b.spend_c > a.spend_c OR b.n_orders > a.n_orders))
      |ORDER BY spend_c DESC, custkey""".stripMargin

  // ── heavy hitters: exact report cross-checked by a count-min sketch ─────
  // ops/Sketches.scala: the sketch side is the 100 TB path (KB-sized,
  // mergeable, one pass, no key shuffle); the exact side gates it. Gate
  // columns: est_ge_exact is the CMS one-sided-error theorem, within_eps
  // the eps*n bound realized deterministically by the fixed seed.
  private val xHeavyHitters: Q = (s, dir) => {
    graft.ops.Sketches.heavyHittersChecked(
        s, Tables.orders(s, dir), "o_custkey", minCount = 15L)
      .withColumnRenamed("key", "custkey")
  }
  private val xHeavyHittersSql =
    """SELECT o_custkey AS custkey, CAST(count(*) AS BIGINT) AS n_exact,
      |  true AS est_ge_exact, true AS within_eps
      |FROM orders GROUP BY o_custkey HAVING count(*) > 15
      |ORDER BY custkey""".stripMargin

  // ── link prediction: neighborhood Jaccard over the purchase bipartite ───
  // ops/Graph.neighborJaccard: "customers who bought X also bought Y" —
  // candidate pairs only through shared customers (no all-pairs), hub
  // customers CAPPED BY DEFAULT (maxLeftDegree = 1000; the deg²-per-hub
  // self-join is the one quadratic in the repo, and an uncapped default
  // means one celebrity customer dominates a stage at 100× data). The
  // cap is SQL-replayable, so the oracle carries it too — the gate pins
  // the capped semantics exactly, not just "same when the cap is idle"
  // (testdata max degree is 105, so here the capped output equals the
  // uncapped one; x_link_predict_capped below forces the cap to FIRE).
  // jac_micro = integer ratio of two exact counts over the capped graph,
  // so the hash gate is exact.
  private val xLinkPredict: Q = (s, dir) => {
    val e = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_partkey").as("part"))
    graft.ops.Graph.neighborJaccard(e, "cust", "part", minCommon = 5L)
      .withColumnRenamed("r1", "part1").withColumnRenamed("r2", "part2")
      .orderBy(col("jac_micro").desc, col("part1"), col("part2"))
  }
  private def linkPredictSql(cap: Long, minCommon: Long) =
    s"""WITH e0 AS (
       |  SELECT DISTINCT o_custkey AS cust, l_partkey AS part
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |), cdeg AS (SELECT cust, count(*) AS dl FROM e0 GROUP BY cust),
       |e AS (
       |  SELECT e0.* FROM e0 JOIN cdeg ON e0.cust = cdeg.cust
       |  WHERE cdeg.dl <= $cap
       |), deg AS (SELECT part, count(*) AS d FROM e GROUP BY part),
       |pairs AS (
       |  SELECT a.part AS part1, b.part AS part2,
       |    CAST(count(*) AS BIGINT) AS common
       |  FROM e a JOIN e b ON a.cust = b.cust AND a.part < b.part
       |  GROUP BY 1, 2 HAVING count(*) >= $minCommon
       |)
       |SELECT part1, part2, common,
       |  CAST(round(common * 1000000.0 / (d1.d + d2.d - common), 0) AS BIGINT)
       |    AS jac_micro
       |FROM pairs
       |JOIN deg d1 ON d1.part = part1 JOIN deg d2 ON d2.part = part2
       |ORDER BY jac_micro DESC, part1, part2""".stripMargin
  private val xLinkPredictSql = linkPredictSql(cap = 1000L, minCommon = 5L)

  // the cap actually FIRING: maxLeftDegree = 50 drops the top ~25% of
  // customers (degree median 39, p99 77 in this data), and the oracle
  // replays the drop relationally — degrees, pairs, and Jaccard all over
  // the capped graph. This is the 100 TB posture under test, not idle.
  private val xLinkPredictCapped: Q = (s, dir) => {
    val e = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_partkey").as("part"))
    graft.ops.Graph.neighborJaccard(e, "cust", "part", minCommon = 3L,
        maxLeftDegree = 50L)
      .withColumnRenamed("r1", "part1").withColumnRenamed("r2", "part2")
      .orderBy(col("jac_micro").desc, col("part1"), col("part2"))
  }
  private val xLinkPredictCappedSql = linkPredictSql(cap = 50L, minCommon = 3L)

  // ── data skipping: per-file min/max manifest prunes a range scan ────────
  // sources/Layout.statsManifest + skippingRead: lineitem is range-written
  // on ship time into 12 files (each owns a contiguous time slice, so
  // per-file min/max envelopes are tight), the manifest then serves a
  // 1-year predicate from metadata. Gate: the pruned scan's aggregate must
  // equal the full filtered scan (matches_full), and it must actually have
  // skipped files (pruned). The oracle replays the aggregate over the raw
  // table plus the assertion literals.
  private val xFileSkipping: Q = (s, dir) => {
    import org.apache.spark.sql.types.TimestampType
    val tmp = java.nio.file.Files.createTempDirectory("graft_skip").toString
    val lo = 852076800000000L // 1997-01-01T00:00:00Z in epoch micros
    val hi = 883612799999999L // end of 1997
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), Kit.cents(col("l_extendedprice")).as("price_c"),
        unix_micros(col("l_shipdate").cast(TimestampType)).as("ship_us"))
      .repartitionByRange(12, col("ship_us"))
      .sortWithinPartitions(col("ship_us"))
      .write.mode("overwrite").parquet(tmp)
    val manifest = graft.sources.Layout.statsManifest(s, tmp, Seq("ship_us"))
    val (scan, kept, total) = graft.sources.Layout.skippingRead(
      s, tmp, manifest, "ship_us", lit(lo), lit(hi))
    val pruned = scan.agg(count(lit(1)).as("n"), sum(col("price_c")).as("sum_price_c"))
    val full = s.read.parquet(tmp)
      .filter(col("ship_us").between(lo, hi))
      .agg(count(lit(1)).as("fn"), sum(col("price_c")).as("fsum"))
    pruned.crossJoin(full)
      .select(col("n"), col("sum_price_c"), lit(total).as("files_total"),
        lit(kept < total).as("pruned"),
        (col("n") === col("fn") && col("sum_price_c") === col("fsum"))
          .as("matches_full"))
  }
  private val xFileSkippingSql =
    """SELECT CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
      |    AS sum_price_c,
      |  CAST(12 AS BIGINT) AS files_total, true AS pruned, true AS matches_full
      |FROM lineitem
      |WHERE epoch_us(l_shipdate) BETWEEN 852076800000000 AND 883612799999999""".stripMargin

  // ── ranking-window kit: ntile / percent_rank / cume_dist ────────────────
  // The remaining analytic window family in one query. percent_rank and
  // cume_dist are integer-ratio doubles ((rank-1)/(n-1), peers/n) computed
  // from a total order (price, orderkey), so micro-quantization is exact
  // cross-engine. Note the 5-value partition key is a deliberate
  // demo skew: a production partition-less ranking runs through
  // repartitionByRange + per-partition ranks (see Corpus.writeShuffled).
  private val xWindowKit: Q = (s, dir) => {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, dir)
      .select(col("o_orderpriority"), col("o_orderkey"),
        ntile(4).over(w).cast("long").as("quartile"),
        Kit.microUnits(percent_rank().over(w)).as("pct_rank_micro"),
        Kit.microUnits(cume_dist().over(w)).as("cume_micro"))
      .orderBy(col("o_orderpriority"), col("o_orderkey"))
  }
  private val xWindowKitSql =
    """SELECT o_orderpriority, o_orderkey,
      |  ntile(4) OVER w AS quartile,
      |  CAST(round(percent_rank() OVER w * 1000000, 0) AS BIGINT)
      |    AS pct_rank_micro,
      |  CAST(round(cume_dist() OVER w * 1000000, 0) AS BIGINT) AS cume_micro
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderpriority
      |             ORDER BY o_totalprice, o_orderkey)
      |ORDER BY o_orderpriority, o_orderkey""".stripMargin

  // ── approx percentile with a rank-error gate ────────────────────────────
  // percentile_approx (Greenwald–Khanna style) at accuracy A guarantees the
  // returned element's rank is within n/A of the target rank. The gate
  // computes the TRUE rank of each approx value with one exact pass and
  // asserts the bound — the same assertion-row pattern as t_approx_distinct
  // (sketch values themselves are engine-specific, their rank contract is
  // not). At 100 TB the sketch is the only viable percentile: mergeable,
  // one pass, KB-sized; the exact rank check here is the gate, not the op.
  private val xApproxPercentile: Q = (s, dir) => {
    import s.implicits._
    val qs = Seq(0.5, 0.9, 0.99)
    val li = Tables.lineitem(s, dir)
      .select(Kit.cents(col("l_extendedprice")).as("p"))
    val vs = li.agg(percentile_approx(col("p"),
        array(qs.map(lit): _*), lit(1000)).as("v"))
      .head.getSeq[Long](0)
    val aggCols = count(lit(1)).as("n") +: vs.zipWithIndex.map {
      case (v, i) => sum(when(col("p") <= v, 1L).otherwise(0L)).as(s"r$i")
    }
    val ranks = li.agg(aggCols.head, aggCols.tail: _*).head
    val n = ranks.getLong(0)
    val slack = n / 1000 + 1
    val rows = qs.zipWithIndex.map { case (q, i) =>
      val trueRank = ranks.getLong(i + 1)
      ((q * 10000).round, n, math.abs(trueRank - q * n) <= slack)
    }
    rows.toDF("q_bps", "n", "within_bound").orderBy(col("q_bps"))
  }
  private val xApproxPercentileSql =
    """SELECT q_bps, (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n,
      |  true AS within_bound
      |FROM (VALUES (CAST(5000 AS BIGINT)), (9000), (9900)) AS t(q_bps)
      |ORDER BY q_bps""".stripMargin

  // ── range join via the injected Catalyst rule ───────────────────────────
  // The SAME naive non-equi join the optimizer would plan as
  // BroadcastNestedLoopJoin, written naively — graft.spark.
  // RangeJoinChunkRule (conf-gated, injected by GraftExtensions) rewrites
  // it transparently into a chunked equi-join. rule_applied pins that the
  // executed plan really went through the rewrite, so the gate can't pass
  // on the nested-loop fallback.
  private val xRangeJoinRule: Q = (s, dir) => {
    s.conf.set(graft.spark.RangeJoinChunkRule.ConfKey, "10800000") // 3 h
    val l = Tables.events(s, dir)
      .select(col("event_id"), Kit.nanosToMillis("ts").as("ts_ms"))
    val r = s.range(100).select(
      (lit(1704067200000L) + col("id") * 21600000L).as("w_start"))
      .withColumn("w_end", col("w_start") + 10800000L)
    val joined = l.join(r,
      col("ts_ms") >= col("w_start") && col("ts_ms") < col("w_end"))
    val applied = joined.queryExecution.executedPlan.toString
      .contains("__graft_chunk")
    // materialize under the conf, then restore the session so the rewrite
    // stays scoped to this query
    val out = joined.groupBy(col("event_id"))
      .agg(count(lit(1)).as("n_windows"), min(col("w_start")).as("first_w_ms"))
      .withColumn("rule_applied", lit(applied))
      .orderBy(col("event_id"))
      .localCheckpoint(eager = true)
    s.conf.unset(graft.spark.RangeJoinChunkRule.ConfKey)
    out
  }
  private val xRangeJoinRuleSql =
    """WITH l AS (
      |  SELECT event_id, epoch_ns(ts) // 1000000 AS ts_ms FROM events
      |), r AS (
      |  SELECT 1704067200000 + range * 21600000 AS w_start,
      |         1704067200000 + range * 21600000 + 10800000 AS w_end
      |  FROM range(100)
      |)
      |SELECT l.event_id, CAST(count(*) AS BIGINT) AS n_windows,
      |  min(r.w_start) AS first_w_ms, true AS rule_applied
      |FROM l JOIN r ON l.ts_ms >= r.w_start AND l.ts_ms < r.w_end
      |GROUP BY l.event_id
      |ORDER BY l.event_id""".stripMargin

  // ── recursive CTE: calendar-spine gap fill ──────────────────────────────
  // Spark 4's WITH RECURSIVE on the engine's SQL surface: an 80-iteration
  // month spine (bounded, driver-cheap — the spine is metadata-scale; the
  // fact-side aggregate below it is the only data-scale work) left-joined
  // with per-month order counts so empty months surface as explicit zeros.
  // Same SQL text runs on both engines.
  private val xRecursiveCte: Q = (s, dir) => {
    Tables.orders(s, dir).createOrReplaceTempView("orders_rcte")
    s.sql(
      """WITH RECURSIVE spine(m) AS (
        |  SELECT 23941
        |  UNION ALL
        |  SELECT m + 1 FROM spine WHERE m < 24020
        |), per_month AS (
        |  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS m,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
        |      AS sum_c
        |  FROM orders_rcte GROUP BY 1
        |)
        |SELECT spine.m AS month_num, coalesce(n, CAST(0 AS BIGINT)) AS n_orders,
        |  coalesce(sum_c, CAST(0 AS BIGINT)) AS spend_c
        |FROM spine LEFT JOIN per_month ON spine.m = per_month.m
        |ORDER BY month_num""".stripMargin)
  }
  private val xRecursiveCteSql =
    """WITH RECURSIVE spine(m) AS (
      |  SELECT 23941
      |  UNION ALL
      |  SELECT m + 1 FROM spine WHERE m < 24020
      |), per_month AS (
      |  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS m,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
      |      AS sum_c
      |  FROM orders GROUP BY 1
      |)
      |SELECT spine.m AS month_num, coalesce(n, CAST(0 AS BIGINT)) AS n_orders,
      |  coalesce(sum_c, CAST(0 AS BIGINT)) AS spend_c
      |FROM spine LEFT JOIN per_month ON spine.m = per_month.m
      |ORDER BY month_num""".stripMargin

  // ── bucketed co-located join: zero-shuffle join via table layout ────────
  // Both sides written bucketBy(8) on the join key: the join (and the
  // downstream group-by on the same key) plans with NO shuffle exchange —
  // the bucketed-layout contract that makes a daily 100 TB fact-to-dim
  // join shuffle-free forever after one write. Broadcast is disabled for
  // the probe so the gate pins the SortMergeJoin-without-Exchange shape
  // (`colocated`), not a trivial broadcast.
  private val xBucketedJoin: Q = (s, dir) => {
    val wh = java.nio.file.Files.createTempDirectory("graft_bucket").toString
    s.sql("DROP TABLE IF EXISTS graft_b_orders")
    s.sql("DROP TABLE IF EXISTS graft_b_cust")
    Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .write.mode("overwrite").option("path", s"$wh/o")
      .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("graft_b_orders")
    Tables.customer(s, dir).select(col("c_custkey"), col("c_mktsegment"))
      .write.mode("overwrite").option("path", s"$wh/c")
      .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable("graft_b_cust")
    val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val agg = s.table("graft_b_orders")
      .join(s.table("graft_b_cust"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(Kit.cents(col("o_totalprice"))).as("spend_c"))
    val plan = agg.queryExecution.executedPlan.toString
    val colocated = !plan.contains("ShuffleExchange") &&
      plan.contains("SortMergeJoin")
    val out = agg.withColumn("colocated", lit(colocated))
      .orderBy(col("c_mktsegment"))
      .localCheckpoint(eager = true)
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    out
  }
  private val xBucketedJoinSql =
    """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
      |    AS spend_c,
      |  true AS colocated
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ── EWMA smoothing (truncated horizon, exact integer arithmetic) ────────
  // Exponential smoothing with alpha = 1/2 truncated at 8 lags: the scaled
  // sum Σ_{j<8} value_c(t-j)·2^(7-j) is exact integer arithmetic, so the
  // gate is bit-exact. The truncation IS the scale story: the recursive
  // EWMA is inherently sequential per key, while the k-lag form is one
  // per-user window pass (hash shuffle on user, per-user sort) — and 2^-8
  // of residual weight is below any practical signal.
  private val xEwma: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("event_id"))
    val lags = (0 until 8).map(j =>
      coalesce(lag(col("v_c"), j).over(w), lit(0L)) * lit(1L << (7 - j)))
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"),
        Kit.nanosToMillis("ts").as("ts_ms"), Kit.cents(col("value")).as("v_c"))
      .withColumn("ewma_s", lags.reduce(_ + _))
      .select(col("event_id"), col("user_id"), col("ewma_s"))
      .orderBy(col("event_id"))
  }
  private val xEwmaSql = {
    val terms = (0 until 8).map(j =>
      s"coalesce(lag(v_c, $j) OVER w, 0) * ${1L << (7 - j)}").mkString(" + ")
    s"""WITH e AS (
       |  SELECT event_id, user_id, epoch_ns(ts) // 1000000 AS ts_ms,
       |    CAST(round(value * 100, 0) AS BIGINT) AS v_c
       |  FROM events
       |)
       |SELECT event_id, user_id, $terms AS ewma_s
       |FROM e
       |WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
       |ORDER BY event_id""".stripMargin
  }

  // ── KLL quantile sketch via a typed Aggregator (custom-UDAF surface) ────
  // ops/Sketches.KllAgg: DataSketches KLL wrapped as an Aggregator —
  // per-partition sketches update in place, merge at the exchange, one KB
  // image reaches the driver. KLL compaction is randomized, so the gate
  // asserts every returned quantile's true rank within 3× the sketch's own
  // normalized error envelope (not a pinned value).
  private val xKllQuantiles: Q = (s, dir) => {
    graft.ops.Sketches.kllQuantilesChecked(
      s, Tables.events(s, dir), "value", Seq(0.25, 0.5, 0.75, 0.95))
  }
  private val xKllQuantilesSql =
    """SELECT q_bps, (SELECT CAST(count(*) AS BIGINT) FROM events) AS n,
      |  true AS within_bound
      |FROM (VALUES (CAST(2500 AS BIGINT)), (5000), (7500), (9500)) AS t(q_bps)
      |ORDER BY q_bps""".stripMargin

  val all: Map[String, Q] = Map(
    "x_kll_quantiles" -> xKllQuantiles,
    "x_bucketed_join" -> xBucketedJoin,
    "x_ewma" -> xEwma,
    "x_recursive_cte" -> xRecursiveCte,
    "x_range_join_rule" -> xRangeJoinRule,
    "x_window_kit" -> xWindowKit,
    "x_approx_percentile" -> xApproxPercentile,
    "x_heavy_hitters" -> xHeavyHitters,
    "x_file_skipping" -> xFileSkipping,
    "x_link_predict" -> xLinkPredict,
    "x_link_predict_capped" -> xLinkPredictCapped,
    "x_skyline" -> xSkyline,
    "x_hits" -> xHits,
    "x_ppr" -> xPpr,
    "x_kcore" -> xKcore,
    "x_shortest_path" -> xShortestPath,
    "i5_xml_roundtrip" -> i5XmlRoundtrip,
    "i6_orc_roundtrip" -> i6OrcRoundtrip,
    "i7_schema_evolution" -> i7SchemaEvolution,
    "i8_text_roundtrip" -> i8TextRoundtrip,
    "x_nested_hof" -> xNestedHof,
    "x_interval_join" -> xIntervalJoin,
    "x_json_extract" -> xJsonExtract,
    "x_interpolate" -> xInterpolate,
    "x_triangles" -> xTriangles,
    "x_bfs" -> xBfs,
    "x_jaro_winkler" -> xJaroWinkler,
    "x_damerau_lev" -> xDamerauLev,
    "x_cdc_apply" -> xCdcApply,
    "x_cdc_diff" -> xCdcDiff,
    "x_cohort_retention" -> xCohortRetention,
    "x_ivm" -> xIvm,
    "x_sequence_funnel" -> xSequenceFunnel,
    "x_copurchase" -> xCopurchase,
    "x_hierarchy" -> xHierarchy,
    "x_unpivot" -> xUnpivot,
    "x_moments" -> xMoments,
    "x_transitions" -> xTransitions,
    "x_histogram" -> xHistogram,
    "x_pagerank" -> xPagerank,
    "i2_avro_roundtrip" -> i2AvroRoundtrip,
    "i9_avro_evolution" -> i9AvroEvolution,
    "i3_jsonl_roundtrip" -> i3JsonlRoundtrip,
    "i4_csv_roundtrip" -> i4CsvRoundtrip,
    "w4_order_stats" -> w4OrderStats,
    "w2_sliding_window" -> w2Sliding,
    "w3_rolling_window" -> w3Rolling,
    "x_cube" -> xCube,
    "x_pivot" -> xPivot,
    "x_percentile" -> xPercentile,
    "x_rank_window" -> xRank,
    "x_rollup" -> xRollup,
    "x_set_ops" -> xSetOps,
    "x_zorder" -> xZorder,
    "x_zvalue3" -> xZvalue3,
    "x_funnel" -> xFunnel,
    "x_quality_report" -> xQualityReport,
    "x_scd2" -> xScd2,
    "x_mad" -> xMad,
    "x_fuzzy_join" -> xFuzzyJoin,
    "x_lead_lag" -> xLeadLag,
    "x_grouping_sets" -> xGroupingSets,
    "u4_multiformat_ts" -> u4MultiTs,
    "u5_u8_time_kit" -> u5u8TimeKit,
    "w8_session_window" -> w8Session)

  val oracles: Map[String, String] = Map(
    "x_kll_quantiles" -> xKllQuantilesSql,
    "x_bucketed_join" -> xBucketedJoinSql,
    "x_ewma" -> xEwmaSql,
    "x_recursive_cte" -> xRecursiveCteSql,
    "x_range_join_rule" -> xRangeJoinRuleSql,
    "x_window_kit" -> xWindowKitSql,
    "x_approx_percentile" -> xApproxPercentileSql,
    "x_heavy_hitters" -> xHeavyHittersSql,
    "x_file_skipping" -> xFileSkippingSql,
    "x_link_predict" -> xLinkPredictSql,
    "x_link_predict_capped" -> xLinkPredictCappedSql,
    "x_skyline" -> xSkylineSql,
    "x_hits" -> xHitsSql,
    "x_ppr" -> xPprSql,
    "x_kcore" -> xKcoreSql,
    "x_shortest_path" -> xShortestPathSql,
    "i5_xml_roundtrip" -> i5XmlRoundtripSql,
    "i6_orc_roundtrip" -> i6OrcRoundtripSql,
    "i7_schema_evolution" -> i7SchemaEvolutionSql,
    "i8_text_roundtrip" -> i8TextRoundtripSql,
    "x_nested_hof" -> xNestedHofSql,
    "x_interval_join" -> xIntervalJoinSql,
    "x_json_extract" -> xJsonExtractSql,
    "x_interpolate" -> xInterpolateSql,
    "x_triangles" -> xTrianglesSql,
    "x_bfs" -> xBfsSql,
    "x_jaro_winkler" -> xJaroWinklerSql,
    "x_damerau_lev" -> xDamerauLevSql,
    "x_cdc_apply" -> xCdcApplySql,
    "x_cdc_diff" -> xCdcDiffSql,
    "x_cohort_retention" -> xCohortRetentionSql,
    "x_ivm" -> xIvmSql,
    "x_sequence_funnel" -> xSequenceFunnelSql,
    "x_copurchase" -> xCopurchaseSql,
    "x_hierarchy" -> xHierarchySql,
    "x_unpivot" -> xUnpivotSql,
    "x_moments" -> xMomentsSql,
    "x_transitions" -> xTransitionsSql,
    "x_histogram" -> xHistogramSql,
    "x_pagerank" -> xPagerankSql,
    "i2_avro_roundtrip" -> i2AvroRoundtripSql,
    "i9_avro_evolution" -> i9AvroEvolutionSql,
    "i3_jsonl_roundtrip" -> i3JsonlRoundtripSql,
    "i4_csv_roundtrip" -> i4CsvRoundtripSql,
    "w4_order_stats" -> w4OrderStatsSql,
    "w2_sliding_window" -> w2SlidingSql,
    "w3_rolling_window" -> w3RollingSql,
    "x_cube" -> xCubeSql,
    "x_pivot" -> xPivotSql,
    "x_percentile" -> xPercentileSql,
    "x_rank_window" -> xRankSql,
    "x_rollup" -> xRollupSql,
    "x_set_ops" -> xSetOpsSql,
    "x_zorder" -> xZorderSql,
    "x_zvalue3" -> xZvalue3Sql,
    "x_funnel" -> xFunnelSql,
    "x_quality_report" -> xQualityReportSql,
    "x_scd2" -> xScd2Sql,
    "x_mad" -> xMadSql,
    "x_fuzzy_join" -> xFuzzyJoinSql,
    "x_lead_lag" -> xLeadLagSql,
    "x_grouping_sets" -> xGroupingSetsSql,
    "u4_multiformat_ts" -> u4MultiTsSql,
    "u5_u8_time_kit" -> u5u8TimeKitSql,
    "w8_session_window" -> w8SessionSql)
}
