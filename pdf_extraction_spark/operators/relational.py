"""Relational operators over the TPC-H-ish driver tables.

Each operator is the idiomatic-Spark rebuild of a reference dataflow stage
(SURVEY.md §2 ids in each docstring), expressed on the driver's star schema
so a DuckDB oracle can verify values exactly.

Physical notes (the 100 TB story): every groupBy here partial-aggregates
map-side; the self-joins shuffle on their equi keys (url/page analog →
orderkey/user_id); the stopword/dimension sides are broadcast; window
operators sort within hash partitions only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .common import tbl


# -- A3/A4-style aggregation (partial+final) ------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped rollup (A3/A4 count rollups:
    hybrid_docling_gpt4_processor.py:511-516). Map-side combine does the
    partial aggregation automatically."""
    from .textops import _HALF_AWAY_DIV

    li = tbl(spark, sf_dir, "lineitem")
    # money/discount columns are fixed-decimal (cents / percent): recover
    # the integers (round is exact) and sum THOSE — integer sums are
    # order-independent across partitionings and engines, where a double
    # sum's last-ulp depends on accumulation order and can flip the
    # rounded cent at a .005 midpoint (the quality_score fragility class).
    # The revenue product and its sum run in DECIMAL(38,0): a BIGINT sum
    # overflows past 9.2e18 1e-4-dollar units (ARITHMETIC_OVERFLOW under
    # ANSI) where DuckDB's sum(BIGINT) promotes to HUGEINT
    dec = "decimal(38,0)"
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .select(
            "l_returnflag", "l_linestatus",
            F.col("l_quantity"),
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("price_c"),
            F.round(F.col("l_discount") * 100).cast("long").alias("disc_p"),
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.sum(F.col("price_c").cast(dec) * (100 - F.col("disc_p")).cast(dec))
            .alias("rev_u"),
            F.sum("disc_p").alias("disc_sum"),
            F.count("*").alias("n_rows"),
        )
        .select(
            "l_returnflag", "l_linestatus", "sum_qty",
            # rev_u is in 1e-4 dollars; round to cents exactly
            (F.expr(_HALF_AWAY_DIV.format(t="rev_u", d="100")) / 100.0)
            .alias("revenue"),
            # avg_disc at 4dp: 1e4 * (disc_sum/100) / n = 100*disc_sum / n
            (F.expr(_HALF_AWAY_DIV.format(t="100 * disc_sum", d="n_rows"))
             / 10000.0).alias("avg_disc"),
            "n_rows",
        )
    )


def _sql_money(t: str, d: str, scale: str) -> str:
    """DuckDB twin of the integer money rounding above."""
    from .textops import _sql_half_away

    return f"{_sql_half_away(t, d)} / {scale}"


def _pricing_sql() -> str:
    return f"""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       {_sql_money("sum(CAST(round(l_extendedprice * 100) AS BIGINT)"
                   " * (100 - CAST(round(l_discount * 100) AS BIGINT)))",
                   "100", "100.0")} AS revenue,
       {_sql_money("100 * sum(CAST(round(l_discount * 100) AS BIGINT))",
                   "count(*)", "10000.0")} AS avg_disc,
       count(*) AS n_rows
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


SQL_PRICING_SUMMARY = _pricing_sql()


# -- A1: median aggregation --------------------------------------------------------------


def q_group_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median per group (A1 'median font size per page',
    advanced_layout_extractor.py:302-313) + the derived 1.2× threshold used
    by the TITLE rule (343-349)."""
    li = tbl(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("median_qty"),
        F.round(F.expr("percentile(l_quantity, 0.5)") * 1.2, 4).alias("title_threshold"),
        F.max("l_quantity").alias("max_qty"),
    )


SQL_GROUP_MEDIAN = """
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
       round(quantile_cont(l_quantity, 0.5) * 1.2, 4) AS title_threshold,
       max(l_quantity) AS max_qty
FROM lineitem GROUP BY l_returnflag
"""


# -- W1: 1-D gap sessionization ------------------------------------------------------------


SESSION_GAP_S = 1800


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization (W1, table_figure_classifier.py:136-153: sort
    centers, chain-break when gap > tolerance, count clusters): lag → gap
    flag → running sum = session id."""
    ev = tbl(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_timestamp("ts").alias("t")
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    flagged = ev.withColumn(
        "new_s",
        F.when(
            (F.col("t") - F.lag("t").over(w)) > SESSION_GAP_S, F.lit(1)
        ).otherwise(F.lit(0)),
    )
    sess = flagged.withColumn(
        "session_id", F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    per_session = sess.groupBy("user_id", "session_id").agg(F.count("*").alias("n_ev"))
    return per_session.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.max("n_ev").alias("max_session_events"),
        F.sum("n_ev").alias("n_events"),
    )


SQL_SESSIONIZE_EVENTS = f"""
WITH ev AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events
),
flagged AS (
  SELECT user_id, event_id, t,
         CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) > {SESSION_GAP_S}
              THEN 1 ELSE 0 END AS new_s
  FROM ev
),
sess AS (
  SELECT user_id,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
),
per_session AS (
  SELECT user_id, session_id, count(*) AS n_ev FROM sess GROUP BY 1, 2
)
SELECT user_id, count(*) AS n_sessions, max(n_ev) AS max_session_events,
       CAST(sum(n_ev) AS BIGINT) AS n_events
FROM per_session GROUP BY user_id
"""


# -- J1: theta self-join (spatial relations) ---------------------------------------------------


def q_theta_selfjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-pair theta self-join (J1, advanced_layout_extractor.py:487-538:
    all pairs on same page with i<j, emit relation). Here: lineitem pairs
    within an order; relation from quantity comparison. Equi part
    (l_orderkey) hash-partitions; theta part evaluates post-shuffle."""
    li = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
    a, b = li.alias("a"), li.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_linenumber") < F.col("b.l_linenumber")),
    )
    rel = (
        F.when(F.col("a.l_quantity") > F.col("b.l_quantity"), F.lit("above"))
        .when(F.col("a.l_quantity") < F.col("b.l_quantity"), F.lit("below"))
        .otherwise(F.lit("same"))
    )
    return pairs.select(rel.alias("relation")).groupBy("relation").agg(
        F.count("*").alias("n_pairs")
    )


SQL_THETA_SELFJOIN = """
SELECT CASE WHEN a.l_quantity > b.l_quantity THEN 'above'
            WHEN a.l_quantity < b.l_quantity THEN 'below'
            ELSE 'same' END AS relation,
       count(*) AS n_pairs
FROM lineitem a JOIN lineitem b
  ON a.l_orderkey = b.l_orderkey AND a.l_linenumber < b.l_linenumber
GROUP BY 1
"""


# -- J2: validation semi-join -------------------------------------------------------------------


def q_semi_join_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi validation join (J2, hybrid_docling_gpt4_processor.py:380-406:
    keep layout table iff docling saw one on the page OR high confidence):
    orders kept iff a heavy lineitem exists OR own total is high."""
    orders = tbl(spark, sf_dir, "orders")
    heavy = tbl(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45).select(
        F.col("l_orderkey").alias("o_orderkey")
    )
    validated = orders.join(heavy, "o_orderkey", "left_semi")
    high_conf = orders.filter(F.col("o_totalprice") > 300000)
    return (
        validated.unionByName(high_conf)
        .dropDuplicates(["o_orderkey"])
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            # integer-cent sum: exact and order-independent (see
            # q_pricing_summary), displayed in dollars
            (F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0)
            .alias("total"),
        )
    )


SQL_SEMI_JOIN_VALIDATION = """
WITH kept AS (
  SELECT * FROM orders o
  WHERE EXISTS (SELECT 1 FROM lineitem l
                WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
     OR o.o_totalprice > 300000
)
SELECT o_orderstatus, count(*) AS n_orders,
       sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS total
FROM kept GROUP BY o_orderstatus
"""


# -- J6: band join (caption proximity) ------------------------------------------------------------


def q_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proximity band join (J6, table_figure_classifier.py:155-192: captions
    matched to regions by coordinate nearness): click→purchase pairs of the
    same user within a 1-hour band. Equi on user_id, band as theta filter."""
    ev = tbl(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.unix_timestamp("ts").alias("t_click")
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.unix_timestamp("ts").alias("t_buy")
    )
    pairs = clicks.join(buys, "user_id").filter(
        (F.col("t_buy") >= F.col("t_click")) & (F.col("t_buy") - F.col("t_click") <= 3600)
    )
    return pairs.groupBy("user_id").agg(F.count("*").alias("n_pairs"))


SQL_BAND_JOIN = """
SELECT c.user_id, count(*) AS n_pairs
FROM (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t_click FROM events WHERE event_type = 'click') c
JOIN (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t_buy FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
WHERE p.t_buy >= c.t_click AND p.t_buy - c.t_click <= 3600
GROUP BY c.user_id
"""


# -- J7: as-of (nearest prior) join ------------------------------------------------------------------


def q_asof_nearest_prior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (J7, pdf_vector_utils.py:220-248: snap to nearest line
    within tolerance): for each purchase, the latest strictly-prior 'view'
    timestamp of the same user — a windowed conditional max, no cross join."""
    ev = tbl(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_timestamp("ts").alias("t")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    with_prev = ev.withColumn(
        "prev_view_t",
        F.max(F.when(F.col("event_type") == "view", F.col("t"))).over(w),
    )
    return (
        with_prev.filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.coalesce(F.col("prev_view_t"), F.lit(-1)).alias("prev_view_t"),
            F.coalesce(F.col("t") - F.col("prev_view_t"), F.lit(-1)).alias("gap_s"),
        )
    )


SQL_ASOF_NEAREST_PRIOR = """
WITH ev AS (
  SELECT user_id, event_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events
),
with_prev AS (
  SELECT *, max(CASE WHEN event_type = 'view' THEN t END)
              OVER (PARTITION BY user_id ORDER BY t, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_view_t
  FROM ev
)
SELECT event_id, user_id,
       coalesce(prev_view_t, -1) AS prev_view_t,
       coalesce(t - prev_view_t, -1) AS gap_s
FROM with_prev WHERE event_type = 'purchase'
"""


# -- J3: interval-overlap dedup ------------------------------------------------------------------------


def q_interval_overlap_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlap dedup (J3, advanced_layout_extractor.py:1073-1114 IoU greedy
    keep-first): keep an interval iff no lower-id interval of the same type
    overlaps it (anti-join form of the greedy pass)."""
    ev = tbl(spark, sf_dir, "events").select(
        "event_type", "event_id", F.col("value").alias("lo"), (F.col("value") + 0.5).alias("hi")
    )
    a, b = ev.alias("a"), ev.alias("b")
    overlapped = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("b.event_id") < F.col("a.event_id"))
        & (F.col("b.lo") < F.col("a.hi"))
        & (F.col("a.lo") < F.col("b.hi")),
        "left_semi",
    )
    kept = ev.join(overlapped.select("event_id"), "event_id", "left_anti")
    return kept.groupBy("event_type").agg(
        F.count("*").alias("n_kept"), F.min("event_id").alias("first_kept")
    )


SQL_INTERVAL_OVERLAP_DEDUP = """
WITH iv AS (
  SELECT event_type, event_id, value AS lo, value + 0.5 AS hi FROM events
),
kept AS (
  SELECT * FROM iv a
  WHERE NOT EXISTS (
    SELECT 1 FROM iv b
    WHERE b.event_type = a.event_type AND b.event_id < a.event_id
      AND b.lo < a.hi AND a.lo < b.hi)
)
SELECT event_type, count(*) AS n_kept, min(event_id) AS first_kept
FROM kept GROUP BY event_type
"""


# -- W1 variant: 1-D coordinate clustering (grid score) ---------------------------------------------------


def q_grid_cluster_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D coordinate clustering (W1, table_figure_classifier.py:100-153):
    sorted distinct part sizes per brand, chain-break on gap > 2, cluster
    count capped at 8 (the reference's min(x_clusters, 8) grid score)."""
    parts = tbl(spark, sf_dir, "part").select("p_brand", "p_size").distinct()
    w = Window.partitionBy("p_brand").orderBy("p_size")
    flagged = parts.withColumn(
        "brk",
        F.when((F.col("p_size") - F.lag("p_size").over(w)) > 2, F.lit(1)).otherwise(F.lit(0)),
    )
    return flagged.groupBy("p_brand").agg(
        (F.sum("brk") + 1).alias("n_clusters"),
        F.least(F.sum("brk") + 1, F.lit(8)).alias("grid_score"),
        F.count("*").alias("n_sizes"),
    )


SQL_GRID_CLUSTER_1D = """
WITH sizes AS (SELECT DISTINCT p_brand, p_size FROM part),
flagged AS (
  SELECT p_brand, p_size,
         CASE WHEN p_size - lag(p_size) OVER (PARTITION BY p_brand ORDER BY p_size) > 2
              THEN 1 ELSE 0 END AS brk
  FROM sizes
)
SELECT p_brand, CAST(sum(brk) + 1 AS BIGINT) AS n_clusters,
       CAST(least(sum(brk) + 1, 8) AS BIGINT) AS grid_score, count(*) AS n_sizes
FROM flagged GROUP BY p_brand
"""


# -- L-series: ordering + limit ------------------------------------------------------------------------------


def q_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic top-10 (L1/L2 limits + W5 top-k shape)."""
    orders = tbl(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"))
    )


SQL_TOP_ORDERS = """
SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
"""


# -- rollup with grouping sets ----------------------------------------------------------------------------------


def q_rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation (A3 'element-count summaries' generalized):
    per (returnflag, linestatus), per returnflag, and grand total."""
    li = tbl(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
            "n",
            "qty",
        )
    )


SQL_ROLLUP_COUNTS = """
SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
       coalesce(l_linestatus, 'ALL') AS l_linestatus,
       count(*) AS n, round(sum(l_quantity), 2) AS qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


# -- broadcast dimension join -------------------------------------------------------------------------------------


def q_broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-dimension broadcast join chain (SURVEY.md §2.3 note: dimension
    sides broadcast; Catalyst keeps the big side shuffle-free)."""
    cust = tbl(spark, sf_dir, "customer")
    nation = tbl(spark, sf_dir, "nation")
    region = tbl(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_customers"),
            # integer-cent sum (see q_pricing_summary)
            (F.sum(F.round(F.col("c_acctbal") * 100).cast("long")) / 100.0)
            .alias("total_balance"),
        )
    )


SQL_BROADCAST_DIM_JOIN = """
SELECT r_name, count(*) AS n_customers,
       sum(CAST(round(c_acctbal * 100) AS BIGINT)) / 100.0 AS total_balance
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


# -- A12: weighted-evidence classifier -----------------------------------------------------------------------------


# the reference's evidence weights (table_figure_classifier.py:17-24)
EVIDENCE_WEIGHTS = {
    "cross_pts": 1.0,
    "orth_line_density": 0.8,
    "gridy_text": 0.6,
    "caption": 1.2,
    "texture": -0.7,
}
EVIDENCE_THRESHOLD = 0.8


def q_evidence_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted-evidence linear classifier (A12,
    table_figure_classifier.py:17-24, 244-251: score = sum(w_i * f_i),
    'table' iff score >= 0.8). Features are per-user event aggregates
    normalized to [0,1]-ish ranges; the exact weights and threshold are the
    reference's. Pure column arithmetic over one groupBy."""
    ev = tbl(spark, sf_dir, "events")
    feats = ev.groupBy("user_id").agg(
        F.least(F.count(F.when(F.col("event_type") == "click", 1)) / 10.0, F.lit(1.0)).alias("cross_pts"),
        F.least(F.count(F.when(F.col("event_type") == "view", 1)) / 20.0, F.lit(1.0)).alias("orth_line_density"),
        F.least(F.count(F.when(F.col("event_type") == "purchase", 1)) / 5.0, F.lit(1.0)).alias("gridy_text"),
        F.max(F.when(F.col("event_type") == "signup", 1).otherwise(0)).cast("double").alias("caption"),
        # coalesce before the division: Spark's least() skips NULLs, so an
        # all-NULL group would otherwise yield texture=1.0 while the oracle
        # coalesces to 0 (ADVICE r1 latent divergence)
        F.least(
            F.coalesce(F.stddev_pop("value"), F.lit(0.0)) / 100.0, F.lit(1.0)
        ).alias("texture"),
    )
    score = sum(F.col(k) * w for k, w in EVIDENCE_WEIGHTS.items())
    return feats.select(
        "user_id",
        F.round(score, 4).alias("evidence_score"),
        F.when(F.round(score, 4) >= EVIDENCE_THRESHOLD, F.lit("table")).otherwise(F.lit("figure")).alias("label"),
    )


SQL_EVIDENCE_CLASSIFIER = f"""
WITH feats AS (
  SELECT user_id,
         least(count(CASE WHEN event_type = 'click' THEN 1 END) / 10.0, 1.0) AS cross_pts,
         least(count(CASE WHEN event_type = 'view' THEN 1 END) / 20.0, 1.0) AS orth_line_density,
         least(count(CASE WHEN event_type = 'purchase' THEN 1 END) / 5.0, 1.0) AS gridy_text,
         CAST(max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS DOUBLE) AS caption,
         least(coalesce(stddev_pop(value), 0) / 100.0, 1.0) AS texture
  FROM events GROUP BY user_id
)
SELECT user_id,
       round(1.0 * cross_pts + 0.8 * orth_line_density + 0.6 * gridy_text
             + 1.2 * caption - 0.7 * texture, 4) AS evidence_score,
       CASE WHEN round(1.0 * cross_pts + 0.8 * orth_line_density + 0.6 * gridy_text
                       + 1.2 * caption - 0.7 * texture, 4) >= {EVIDENCE_THRESHOLD}
            THEN 'table' ELSE 'figure' END AS label
FROM feats
"""
