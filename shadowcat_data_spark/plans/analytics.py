"""Composite analytics plans: classic warehouse query shapes exercised
end-to-end (SQL-string API, correlated subqueries, statistical aggregates,
cohort/retention, sessionization, SCD-style merge).

The SQL-string queries here go through ``spark.sql`` over temp views on
purpose — same Catalyst plan as the DataFrame API (SURVEY.md §3.3), and it
proves the engine's second query surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..registry import query
from ..session import load_table, materialize

# ---------------------------------------------------------------------------
# TPC-H Q3 shape — via the SQL-string API
# ---------------------------------------------------------------------------


@query(
    "q3_shipping_priority",
    oracle="""
SELECT o_orderkey, o_orderdate,
       CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
         / 1000000.0 AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey
LIMIT 10
""",
    category="plan",
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 open-revenue orders for one segment (TPC-H Q3 shape), written
    as a SQL string — identical plan to the DataFrame formulation."""
    for t in ("customer", "orders", "lineitem"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
SELECT o_orderkey, o_orderdate,
       CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
         / 1000000.0 AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""
    )


# ---------------------------------------------------------------------------
# TPC-H Q4 shape — correlated EXISTS
# ---------------------------------------------------------------------------


@query(
    "q4_late_shipments",
    oracle="""
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
GROUP BY o_orderpriority
""",
    category="plan",
)
def late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS (Catalyst decorrelates to a left-semi join)."""
    for t in ("orders", "lineitem"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
GROUP BY o_orderpriority
"""
    )


# ---------------------------------------------------------------------------
# Statistical aggregates (stddev/var/corr) — rounded: merge order differs
# ---------------------------------------------------------------------------


@query(
    "stat_aggregates",
    oracle="""
SELECT l_returnflag,
       round(stddev_samp(l_quantity), 6) AS sd_qty,
       round(var_samp(l_discount), 6) AS var_disc,
       round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr
FROM lineitem GROUP BY l_returnflag
""",
    category="aggregate",
)
def stat_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welford-style moments; partial-merge order differs across engines →
    rounded to 6 dp (tolerance asserted, not bit-equality)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        F.round(F.var_samp("l_discount"), 6).alias("var_disc"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
    )


@query(
    "exact_median",
    oracle="""
SELECT l_returnflag,
       quantile_cont(l_extendedprice, 0.5) AS median_price,
       quantile_cont(l_quantity, 0.25) AS q1_qty
FROM lineitem GROUP BY l_returnflag
""",
    category="aggregate",
)
def exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (not the sketch): Spark percentile ≡
    DuckDB quantile_cont, both (a+b)/2-interpolate — bit-identical."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.median("l_extendedprice").alias("median_price"),
        F.percentile("l_quantity", F.lit(0.25)).alias("q1_qty"),
    )


# ---------------------------------------------------------------------------
# Event analytics: DAU, retention cohorts, sessionization
# ---------------------------------------------------------------------------


@query(
    "dau_daily_active",
    oracle="""
SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY 1
""",
    category="plan",
)
def dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users + event volume."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.countDistinct("user_id").alias("dau"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "retention_cohorts",
    oracle="""
WITH firsts AS (
  SELECT user_id, MIN(date_trunc('day', CAST(ts AS TIMESTAMP))) AS cohort
  FROM events GROUP BY user_id
), acts AS (
  SELECT DISTINCT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day FROM events
)
SELECT cohort, CAST(date_diff('day', cohort, day) AS INTEGER) AS day_offset,
       CAST(COUNT(*) AS BIGINT) AS n_active
FROM firsts JOIN acts USING (user_id)
GROUP BY cohort, day_offset
""",
    category="plan",
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort retention triangle: first-seen day x activity-day offset.

    One narrow shuffle on user_id (both sides pre-aggregated) then a
    cohort-grain aggregate — no row explosion."""
    e = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    firsts = e.groupBy("user_id").agg(F.min(day).alias("cohort"))
    acts = e.select("user_id", day.alias("day")).distinct()
    return (
        firsts.join(acts, "user_id")
        .select("cohort", F.datediff(F.col("day"), F.col("cohort")).alias("day_offset"))
        .groupBy("cohort", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


def sessionize(
    df: DataFrame, key: str, ts: str, gap_minutes: int, tiebreak: str | None = None
) -> DataFrame:
    """Batch sessionization: lag + cumulative-sum of gap breaks. One window
    over (key, ts) — the canonical scalable formulation.

    ``tiebreak`` must be a unique column whenever (key, ts) can repeat:
    the lag pass and the cumsum pass are separate window evaluations, and
    an engine is free to order equal-ts rows differently in each — if the
    row carrying the break lands mid-tie in the second pass, a spurious
    session splits off (observed on DuckDB with duplicate timestamps; the
    repo-wide rule is that every window orders by a unique tuple)."""
    order = [ts] if tiebreak is None else [ts, tiebreak]
    w = W.partitionBy(key).orderBy(*order)
    # µs integer arithmetic: cast-to-long truncates to seconds, which shifts
    # session boundaries for sub-second gaps
    gap = F.unix_micros(F.col(ts)) - F.lag(F.unix_micros(F.col(ts))).over(w)
    brk = F.when(gap.isNull() | (gap >= gap_minutes * 60 * 1_000_000), 1).otherwise(0)
    return df.withColumn("__brk", brk).withColumn(
        "session_id",
        F.sum("__brk").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    ).drop("__brk")


@query(
    "batch_sessionize",
    oracle="""
WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events),
g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800000000 THEN 1 ELSE 0 END AS brk
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM g
)
SELECT user_id, CAST(sid AS BIGINT) AS session_id,
       MIN(ts) AS session_start,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000 AS duration_sec
FROM s GROUP BY user_id, sid
""",
    category="plan",
)
def batch_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session stats per (user, session) — same data as t3_session_window
    but an independent definition with an OPEN boundary: a gap of exactly
    30 min STARTS a new session here, while Spark's session_window (t3)
    merges the exact-gap event. Each query is oracle-consistent with its
    own rule; don't treat the two as interchangeable on boundary events."""
    e = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    s = sessionize(e, "user_id", "ts", 30, tiebreak="event_id")
    return s.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.count(F.lit(1)).alias("n_events"),
        F.expr("(unix_micros(max(ts)) - unix_micros(min(ts))) DIV 1000000").alias(
            "duration_sec"
        ),
    )


# ---------------------------------------------------------------------------
# TPC-H Q5 shape — local supplier volume (6-way join, co-location predicate)
# ---------------------------------------------------------------------------


@query(
    "q5_local_supplier_volume",
    oracle="""
SELECT n_name,
       CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
         / 1000000.0 AS revenue
FROM customer JOIN orders   ON c_custkey   = o_custkey
              JOIN lineitem ON l_orderkey  = o_orderkey
              JOIN supplier ON l_suppkey   = s_suppkey AND c_nationkey = s_nationkey
              JOIN nation   ON s_nationkey = n_nationkey
              JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""",
    category="plan",
)
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by supplier nation where customer and supplier are in the
    same nation (TPC-H Q5 shape). Same scale-ordered plan as j6_star_join:
    the region-filtered supplier dimension broadcasts against lineitem
    FIRST (semi-reduces the fact ~5× before any shuffle), then the two
    fact-side shuffles run on survivors only."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    rev = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1000000.0 + 0.5
    ).cast("long")
    s_asia = (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    o_window = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    return (
        li.join(F.broadcast(s_asia), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o_window, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            c,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg((F.sum(rev).cast("double") / 1000000.0).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


# ---------------------------------------------------------------------------
# TPC-H Q10 shape — returned-item revenue per customer (top 20)
# ---------------------------------------------------------------------------


@query(
    "q10_returned_items",
    oracle="""
SELECT c_custkey, c_name, n_name,
       CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
         / 1000000.0 AS revenue
FROM customer JOIN orders   ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
              JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
    category="plan",
)
def returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers who returned the most revenue (TPC-H Q10 shape). The
    returnflag filter is pushed to the lineitem scan; top-20 runs as
    TakeOrdered, never a global sort."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    rev = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1000000.0 + 0.5
    ).cast("long")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg((F.sum(rev).cast("double") / 1000000.0).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# TPC-H Q18 shape — large-quantity orders (agg → HAVING → join back)
# ---------------------------------------------------------------------------


@query(
    "q18_large_orders",
    oracle="""
WITH big AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(FLOOR(l_quantity * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
           / 1000000.0 AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(FLOOR(l_quantity * 1000000.0 + 0.5) AS BIGINT)) > 150 * 1000000
)
SELECT c_custkey, c_name, o_orderkey, o_orderdate, total_qty
FROM big JOIN orders   ON o_orderkey = l_orderkey
         JOIN customer ON c_custkey = o_custkey
ORDER BY total_qty DESC, o_orderkey
LIMIT 50
""",
    category="plan",
)
def large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose total quantity exceeds a threshold, with their customer
    (TPC-H Q18 shape): pre-aggregate the fact ONCE, filter with HAVING, and
    only then join — the join input shrinks from |lineitem| to |big orders|."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.floor(F.col("l_quantity") * 1000000.0 + 0.5).cast("long")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qty).alias("q6"))
        .filter(F.col("q6") > 150 * 1000000)
        .select("l_orderkey", (F.col("q6").cast("double") / 1000000.0).alias("total_qty"))
    )
    return (
        big.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate", "total_qty")
        .orderBy(F.col("total_qty").desc(), "o_orderkey")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Hypertable-style multi-granularity time rollup (one pass, GROUPING SETS)
# ---------------------------------------------------------------------------


@query(
    "time_rollup_multigrain",
    oracle="""
WITH e AS (
  SELECT event_type,
         date_trunc('day',  CAST(ts AS TIMESTAMP)) AS day,
         date_trunc('week', CAST(ts AS TIMESTAMP)) AS week,
         value
  FROM events
)
SELECT * FROM (
  SELECT 'day' AS grain, day AS bucket, event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS total
  FROM e GROUP BY day, event_type
  UNION ALL
  SELECT 'week', week, event_type,
         CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0
  FROM e GROUP BY week, event_type
)
""",
    category="plan",
)
def time_rollup_multigrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate shape: day + week grains in ONE
    pass via GROUPING SETS (the Expand operator fans each row into its
    grains; one shuffle total instead of one per grain)."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.date_trunc("week", F.col("ts")).alias("week"),
        "value",
    )
    e.createOrReplaceTempView("events_grains")
    return spark.sql(
        """
SELECT CASE WHEN day IS NOT NULL THEN 'day' ELSE 'week' END AS grain,
       coalesce(day, week) AS bucket, event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS total
FROM events_grains
GROUP BY GROUPING SETS ((day, event_type), (week, event_type))
"""
    )


# ---------------------------------------------------------------------------
# SCD-style merge (upsert emulation: anti-join + union)
# ---------------------------------------------------------------------------


def merge_upsert(current: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """MERGE emulation without Delta: keep current rows not in updates,
    union the updates. At scale both sides shuffle once on the key; with
    bucketed tables the anti-join is shuffle-free."""
    kept = current.join(updates, key, "left_anti")
    return kept.unionByName(updates)


@query(
    "scd_merge_upsert",
    oracle="""
WITH updates AS (
  SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100.0 AS c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey % 10 = 0
)
SELECT * FROM (
  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey NOT IN (SELECT c_custkey FROM updates)
  UNION ALL
  SELECT * FROM updates
)
""",
    category="plan",
)
def scd_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert 10% modified customer rows into the dimension."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    updates = c.filter(F.col("c_custkey") % 10 == 0).withColumn(
        "c_acctbal", F.col("c_acctbal") + 100.0
    )
    return merge_upsert(c, updates, "c_custkey")


# ---------------------------------------------------------------------------
# TPC-H Q12 shape — join + conditional CASE aggregation
# ---------------------------------------------------------------------------

_Q12_SQL = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


@query("q12_priority_lines", oracle=_Q12_SQL, category="plan")
def priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lines shipped in 1996 split into high/low order-priority counts per
    linestatus (TPC-H Q12 shape without the fixture-absent shipmode column).
    The shipdate range prunes at the scan; the priority CASE folds into the
    partial aggregate, so the shuffle carries two ints per group."""
    for t in ("orders", "lineitem"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q12_SQL)


# ---------------------------------------------------------------------------
# TPC-H Q14 shape — conditional revenue ratio (promo share)
# ---------------------------------------------------------------------------


@query(
    "q14_promo_revenue",
    oracle="""
SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                 THEN CAST(FLOOR(l_extendedprice * (1 - l_discount) * 1000000.0 + 0.5) AS BIGINT)
                 ELSE 0 END) AS BIGINT)
             / CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
         AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
""",
    category="plan",
)
def promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of one month's revenue from PROMO parts (TPC-H Q14 shape): a
    single-row ratio of two conditionally-summed measures. Both sums are
    int64-quantized so the ratio is bit-identical across engines; part is
    broadcast, lineitem pruned to one month at the scan."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-03-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1000000.0 + 0.5
    ).cast("bigint")
    joined = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    return joined.agg(
        (
            100.0
            * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0)))
            / F.sum(rev)
        ).alias("promo_revenue_pct")
    )


# ---------------------------------------------------------------------------
# TPC-H Q19 shape — disjunction of conjunctive brand/size/quantity bands
# ---------------------------------------------------------------------------

_Q19_SQL = """
SELECT CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
         / 1000000.0 AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 10)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity >= 20)
   OR (p_type = 'PROMO' AND l_quantity < 5)
"""


@query("q19_disjunctive_bands", oracle=_Q19_SQL, category="plan")
def disjunctive_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue over an OR-of-ANDs predicate mixing columns from both join
    sides (TPC-H Q19 shape). Catalyst extracts the common single-side
    conjuncts from the disjunction and pushes them below the join; the
    residual mixed predicate evaluates post-join in codegen."""
    for t in ("lineitem", "part"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q19_SQL)


# ---------------------------------------------------------------------------
# TPC-H Q17 shape — per-key average threshold via pre-aggregated join
# ---------------------------------------------------------------------------


@query(
    "q17_small_quantity_revenue",
    oracle="""
WITH pq AS (
  SELECT l_partkey,
         CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sq,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(SUM(CAST(FLOOR(l_extendedprice * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
         / 7000000.0 AS avg_yearly
FROM lineitem JOIN part ON p_partkey = lineitem.l_partkey
              JOIN pq ON pq.l_partkey = lineitem.l_partkey
WHERE p_brand = 'Brand#1'
  AND 5 * CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT) * cnt < sq
""",
    category="plan",
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue lost to sub-20%-of-average-quantity orders for one brand
    (TPC-H Q17 shape). The textbook correlated AVG subquery is written as
    what it must become at scale anyway: one pre-aggregation per part key
    joined back to the fact. The threshold compare is integer
    cross-multiplication (5·q·cnt < Σq) — no double division anywhere, so
    the boundary rows match the oracle exactly."""
    li = load_table(spark, sf_dir, "lineitem")
    q100 = F.floor(F.col("l_quantity") * 100 + 0.5).cast("bigint")
    pq = li.groupBy("l_partkey").agg(
        F.sum(q100).cast("bigint").alias("sq"),
        F.count(F.lit(1)).alias("cnt"),
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    joined = (
        li.join(F.broadcast(p.select("p_partkey")), li["l_partkey"] == p["p_partkey"])
        .join(pq, "l_partkey")
        .filter(5 * q100 * F.col("cnt") < F.col("sq"))
    )
    return joined.agg(
        (
            F.sum(F.floor(F.col("l_extendedprice") * 1000000.0 + 0.5).cast("bigint"))
            .cast("double")
            / 7000000.0
        ).alias("avg_yearly")
    )


# ---------------------------------------------------------------------------
# TPC-H Q22 shape — anti-join against a global-average threshold
# ---------------------------------------------------------------------------


@query(
    "q22_idle_rich_customers",
    oracle="""
WITH avg_bal AS (
  SELECT CAST(SUM(CAST(FLOOR(c_acctbal * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
           / CAST(COUNT(*) AS BIGINT) AS a
  FROM customer WHERE c_acctbal > 0.0
)
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_cust,
       CAST(SUM(CAST(FLOOR(c_acctbal * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
         / 1000000.0 AS total_bal
FROM customer, avg_bal
WHERE CAST(FLOOR(c_acctbal * 1000000.0 + 0.5) AS BIGINT) > a
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
    category="plan",
)
def idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Above-average-balance customers with no urgent order, per segment
    (TPC-H Q22 shape adapted to fixture columns). Exercises a scalar
    aggregate subquery broadcast to every row plus an anti join; the
    balance threshold compares quantized int64 against the exact
    integer-sum average so boundary customers match the oracle."""
    c = load_table(spark, sf_dir, "customer")
    qbal = F.floor(F.col("c_acctbal") * 1000000.0 + 0.5).cast("bigint")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg((F.sum(qbal).cast("double") / F.count(F.lit(1))).alias("a"))
    )
    urgent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    rich = c.join(F.broadcast(avg_bal)).filter(qbal > F.col("a"))
    idle = rich.join(urgent, rich["c_custkey"] == urgent["o_custkey"], "left_anti")
    return (
        idle.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            (F.sum(qbal).cast("double") / 1000000.0).alias("total_bal"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# Trajectory assembly — per-user ordered event sequence as one nested row
# ---------------------------------------------------------------------------


@query(
    "trajectory_assembly",
    oracle="""
SELECT user_id,
       CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_events,
       MIN(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id) AS first_ts,
       MAX(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id) AS last_ts,
       CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY CAST(ts AS TIMESTAMP), event_id) AS INTEGER) - 1
         AS step_pos,
       CAST(ts AS TIMESTAMP) AS ts, event_id, event_type, value
FROM events
""",
    category="plan",
)
def trajectory_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assemble each user's full event stream into ONE ordered
    array<struct> row — the exact shape an agent-trajectory / session-replay
    training pipeline feeds a sequence model. ``collect_list`` gathers in
    arbitrary (partition) order, so the list is made deterministic with
    ``array_sort``, which orders structs lexicographically by field — the
    struct leads with the unique (ts, event_id) pair, making the sort a
    total order. One shuffle on user_id; per-user payload is bounded by a
    user's own event count (cap with a rank-filter upstream if a bot user
    could exceed executor memory at 100 TB).

    The comparison surface re-explodes the assembled array with its position
    (the grading comparator cannot sort struct cells) — so what is checked
    is exactly the assembled per-user ordering, element by element."""
    e = load_table(spark, sf_dir, "events")
    step = F.struct(
        F.col("ts").alias("ts"),
        F.col("event_id").alias("event_id"),
        F.col("event_type").alias("event_type"),
        F.col("value").alias("value"),
    )
    assembled = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.array_sort(F.collect_list(step)).alias("steps"),
    )
    return assembled.select(
        "user_id",
        "n_events",
        "first_ts",
        "last_ts",
        F.posexplode("steps").alias("step_pos", "step"),
    ).select("user_id", "n_events", "first_ts", "last_ts", "step_pos", "step.*")


# ---------------------------------------------------------------------------
# PageRank — fixed-iteration, integer-arithmetic (iterative algorithm demo)
# ---------------------------------------------------------------------------

_PR_ITERS = 3


def _pagerank_oracle(iters: int) -> str:
    its = []
    for k in range(iters):
        its.append(f"""it{k + 1} AS (
  SELECT n.node, CAST(150000 + COALESCE(c.contrib, 0) AS BIGINT) AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, SUM((85 * r.r) // (100 * d.outdeg)) AS contrib
    FROM edges e JOIN deg d USING (src) JOIN it{k} r ON r.node = e.src
    GROUP BY e.dst
  ) c USING (node)
)""")
    return f"""
WITH pairs AS (
  SELECT DISTINCT 'S' || CAST(l.l_suppkey AS VARCHAR) AS s,
                  'C' || CAST(o.o_custkey AS VARCHAR) AS c
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), edges AS (
  SELECT s AS src, c AS dst FROM pairs UNION ALL SELECT c, s FROM pairs
), nodes AS (
  SELECT DISTINCT src AS node FROM edges
), deg AS (
  SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src
), it0 AS (
  SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes
), {", ".join(its)}
SELECT node, r FROM it{iters}
"""


@query("graph_pagerank", oracle=_pagerank_oracle(_PR_ITERS), category="plan")
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 fixed iterations, damping 0.85) over the bipartite
    supplier↔customer trading graph derived from lineitem⋈orders — the
    iterative-algorithm pattern as a DataFrame loop. All arithmetic is
    scaled-integer (rank ×1e6, per-edge contribution ``(85*r) div
    (100*outdeg)``), so partial-sum merge order can't flip a single bit:
    the same query is exact on any cluster AND oracle-checkable, unlike a
    floating-point PageRank. Per iteration: one join to ranks + one
    groupBy(dst) shuffle. Lineage discipline matches
    ``pipeline.dedup.connected_components``: the edge⋈degree relation and
    the node list are localCheckpoint-ed ONCE (so no iteration re-derives
    the lineitem⋈orders subtree), and ranks are localCheckpoint-ed per
    iteration so the plan stays constant-size at any ``_PR_ITERS`` (on a
    cluster: ``checkpoint`` to durable storage instead)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("s"),
            F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias("c"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")).unionAll(
        pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
    )
    nodes = materialize(
        edges.select(F.col("src").alias("node")).distinct(), eager=True
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    edges_deg = materialize(edges.join(deg, "src"), eager=True)
    ranks = nodes.select("node", F.lit(1000000).cast("long").alias("r"))
    for _ in range(_PR_ITERS):
        contrib = (
            edges_deg.join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.sum(F.expr("(85 * r) div (100 * outdeg)")).alias("contrib"))
            .withColumnRenamed("dst", "node")
        )
        ranks = materialize(
            nodes.join(contrib, "node", "left").select(
                "node",
                (F.lit(150000) + F.coalesce(F.col("contrib"), F.lit(0)))
                .cast("long")
                .alias("r"),
            ),
            eager=True,
            iterative=True,
        )
    return ranks


# ---------------------------------------------------------------------------
# BFS k-hop reachability (iterative frontier expansion)
# ---------------------------------------------------------------------------

_BFS_HOPS = 3


@query(
    "graph_khop_reach",
    oracle=f"""
WITH pairs AS (
  SELECT DISTINCT 'S' || CAST(l.l_suppkey AS VARCHAR) AS s,
                  'C' || CAST(o.o_custkey AS VARCHAR) AS c
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), edges AS (
  SELECT s AS src, c AS dst FROM pairs UNION ALL SELECT c, s FROM pairs
), seeds AS (
  SELECT 'S' || CAST(s_suppkey AS VARCHAR) AS node FROM supplier WHERE s_suppkey <= 3
), h0 AS (SELECT node, 0 AS d FROM seeds),
h1 AS (
  SELECT node, MIN(d) AS d FROM (
    SELECT node, d FROM h0
    UNION ALL SELECT e.dst, 1 FROM edges e JOIN h0 ON h0.node = e.src
  ) GROUP BY node
),
h2 AS (
  SELECT node, MIN(d) AS d FROM (
    SELECT node, d FROM h1
    UNION ALL SELECT e.dst, h1.d + 1 FROM edges e JOIN h1 ON h1.node = e.src
  ) GROUP BY node
),
h3 AS (
  SELECT node, MIN(d) AS d FROM (
    SELECT node, d FROM h2
    UNION ALL SELECT e.dst, h2.d + 1 FROM edges e JOIN h2 ON h2.node = e.src
  ) GROUP BY node
)
SELECT CAST(d AS INTEGER) AS hop, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM h3 WHERE d <= {_BFS_HOPS} GROUP BY d
""",
    category="plan",
)
def graph_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS frontier expansion: how many graph nodes are within k hops of a
    seed set (suppliers 1-3) over the supplier↔customer trading graph.
    Per hop: frontier ⋈ edges → union → min-distance groupBy — the same
    iterative-DataFrame shape as PageRank/connected-components, with the
    distance label replacing the rank. Integer distances make every hop
    exact; the oracle unrolls the same k joins as CTEs. At scale the
    frontier is usually ≪ nodes, so the per-hop join broadcasts the
    frontier; lineage is cut per hop exactly like connected_components."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey")
    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("s"),
            F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias("c"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")).unionAll(
        pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
    )
    edges = materialize(edges, eager=True)  # reused every hop: cut lineage once
    dist = s.filter(F.col("s_suppkey") <= 3).select(
        F.concat(F.lit("S"), F.col("s_suppkey").cast("string")).alias("node"),
        F.lit(0).alias("d"),
    )
    for _ in range(_BFS_HOPS):
        expanded = edges.join(dist.withColumnRenamed("node", "src"), "src").select(
            F.col("dst").alias("node"), (F.col("d") + 1).alias("d")
        )
        dist = materialize(
            dist.unionByName(expanded).groupBy("node").agg(F.min("d").alias("d")),
            eager=True,
            iterative=True,
        )
    return (
        dist.filter(F.col("d") <= _BFS_HOPS)
        .groupBy(F.col("d").cast("int").alias("hop"))
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )


# ---------------------------------------------------------------------------
# Contingency table (df.stat.crosstab)
# ---------------------------------------------------------------------------


@query(
    "stat_crosstab",
    oracle="""
SELECT o_orderstatus AS o_orderstatus_o_orderpriority,
       CAST(COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT) AS "1-URGENT",
       CAST(COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS BIGINT) AS "2-HIGH",
       CAST(COUNT(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS BIGINT) AS "3-MEDIUM",
       CAST(COUNT(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS BIGINT) AS "4-NOT SPECIFIED",
       CAST(COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW') AS BIGINT) AS "5-LOW"
FROM orders GROUP BY o_orderstatus
""",
    category="aggregate",
)
def crosstab_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contingency table via df.stat.crosstab — status × priority counts
    with one column per (sorted) priority value. Same desugaring as pivot:
    a single groupBy with FILTER-ed counts, which is what the oracle spells
    out; at scale this is one partial-aggregated shuffle on the row key."""
    o = load_table(spark, sf_dir, "orders")
    ct = o.stat.crosstab("o_orderstatus", "o_orderpriority")
    counted = [c for c in ct.columns if c != "o_orderstatus_o_orderpriority"]
    return ct.select(
        "o_orderstatus_o_orderpriority",
        *[F.col(f"`{c}`").cast("long").alias(c) for c in counted],
    )


# ---------------------------------------------------------------------------
# Triangle counting (degree-oriented wedge join)
# ---------------------------------------------------------------------------


def _node_degrees(e: DataFrame) -> DataFrame:
    """(n, deg) for an undirected (u, v) edge list with each edge once."""
    return (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def oriented_triangles(e: DataFrame) -> DataFrame:
    """Every triangle of the undirected edge list, once, as (s, w1, w2):
    degree-oriented wedge join (see :func:`graph_triangle_count` for the
    scale rationale). The rank is a (degree, id) STRUCT — Catalyst orders
    structs lexicographically, so the comparison is collision-free for any
    id or degree magnitude (a packed deg*K+id long collides once ids reach
    K and silently drops wedges; the sf1 smoke's offset ids exceed 2^20).
    """
    deg = _node_degrees(e)
    rank = deg.select("n", F.struct(F.col("deg"), F.col("n").alias("id")).alias("rk"))
    ed = materialize(
        e.join(rank.withColumnRenamed("n", "u").withColumnRenamed("rk", "rku"), "u")
        .join(rank.withColumnRenamed("n", "v").withColumnRenamed("rk", "rkv"), "v")
        .select(
            F.when(F.col("rku") < F.col("rkv"), F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(F.col("rku") < F.col("rkv"), F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.greatest("rku", "rkv").alias("rk_dst"),
        ),
        # three consumers below (both wedge legs + the closing edge set):
        # materialize the oriented edges ONCE — unmaterialized, each leg
        # re-derives edges→degrees→rank→orient from scratch (the r11 plan
        # snapshot showed the whole edge subtree repeated per SMJ leg).
        # O(|E|) rows, the same budget the wedge join itself shuffles.
        eager=False,
    )
    e1 = ed.select(F.col("src").alias("s"), F.col("dst").alias("w1"), F.col("rk_dst").alias("r1"))
    e2 = ed.select(F.col("src").alias("s"), F.col("dst").alias("w2"), F.col("rk_dst").alias("r2"))
    wedges = e1.join(e2, "s").filter(F.col("r1") < F.col("r2"))
    closing = ed.select(F.col("src").alias("w1"), F.col("dst").alias("w2"))
    return wedges.join(closing, ["w1", "w2"]).select("s", "w1", "w2")


def triangle_count_from_edges(e: DataFrame) -> DataFrame:
    """Degree-oriented exact triangle count over an undirected edge list
    ``(u, v)`` with u < v, each edge once. This kernel is graph-agnostic
    and property-tested on constructed graphs (K_n, stars, cycles —
    including node ids far beyond any packing bound) in
    ``tests/test_properties.py``. Returns one row:
    (n_nodes, n_edges, n_triangles).

    The edge list is materialized ONCE up front (``localCheckpoint``; on
    a cluster: persist/checkpoint): it feeds five consumers (degrees,
    n_edges, and the three wedge-join legs via ``oriented_triangles``),
    and Catalyst has no cross-subtree reuse for DataFrame-built plans —
    the unmaterialized r11 plan recomputed the full lineitem→distinct→
    self-join→HAVING derivation 12× (36 parquet scans, 74 exchanges)."""
    e = materialize(e, eager=False)
    deg = _node_degrees(e)
    tri = oriented_triangles(e).agg(F.count(F.lit(1)).alias("n_triangles"))
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return n_nodes.crossJoin(n_edges).crossJoin(tri)


@query(
    "graph_triangle_count",
    oracle="""
WITH ps AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
), e AS (
  SELECT a.l_suppkey AS u, b.l_suppkey AS v
  FROM ps a JOIN ps b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 5
), nodes AS (
  SELECT DISTINCT n FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e)
), tri AS (
  SELECT COUNT(*) AS n
  FROM e e1 JOIN e e2 ON e2.u = e1.v
            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
)
SELECT CAST((SELECT COUNT(*) FROM nodes) AS BIGINT) AS n_nodes,
       CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
       CAST((SELECT n FROM tri) AS BIGINT) AS n_triangles
""",
    category="plan",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count over the supplier co-supply graph (suppliers
    are adjacent iff ≥5 orders contain lines from both).

    The min-support edge threshold is part of the operator, not a test
    convenience: one-mode projections of bipartite co-occurrence data
    (co-supply, co-purchase, co-citation) are notoriously dense — the
    sf1 smoke measured 454k edges over 1k suppliers WITHOUT the
    threshold, a near-complete graph whose ~1.6e8 triangles per replica
    no listing algorithm can avoid enumerating — while support ≥5 keeps
    the repeated-trading signal (48k edges, 1.3M oriented wedges at
    sf0.1). Density of the projection, not corpus size, is what to
    watch when sizing this at 100 TB.

    The Spark side uses the degree-oriented wedge join (Schank-Wagner /
    Cohen MapReduce form): orient every undirected edge from its
    lower-(degree, id) endpoint to the higher one, join oriented edges on
    their source to enumerate each wedge once (out-neighbors ordered by
    the same (degree, id) rank), then close the wedge with a third
    equi-join. Orientation bounds every node's out-degree by O(sqrt(|E|))
    on any graph, so the wedge fan-out — the quadratic term that kills
    naive triangle listing on skewed graphs (a hub with 1M neighbors =
    5*10^11 wedges) — stays bounded at 100 TB; all three steps are plain
    equi-joins, so AQE skew-split applies. The oracle counts the same
    triangles with the simpler id-ordering (a<b<c): triangle COUNT is
    orientation-invariant, so both sides agree exactly while the Spark
    plan keeps the scale-safe shape.

    Edge generation builds each order's supplier pairs in-row from the
    order's sorted distinct-supplier array (no self-join; see
    :func:`_cosupply_edges`) — quadratic only in lines-per-order, which
    the schema bounds (TPC-H ≤ 7 lines/order)."""
    return triangle_count_from_edges(_cosupply_edges(spark, sf_dir))


def _cosupply_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier co-supply edges (u < v, once) at min-support 5 — see
    :func:`graph_triangle_count` for why the support threshold is part of
    the graph definition.

    Shape (r12, VERDICT r11 #7): per-order supplier pairs are generated
    IN-ROW from each order's sorted distinct-supplier array — the same
    slice/transform pair kernel the LSH buckets use — instead of the
    distinct + self-join-on-order formulation. That deletes the join and
    one aggregate: 2 exchanges total (groupBy order with a partial-agg
    collect_set, then groupBy (u,v) count) where the join form paid the
    distinct's exchange, two join exchanges, and the pair-count exchange
    (plan: 4 Exchanges + SortMergeJoin → 2 Exchanges, no join; see
    plans/r12/graph_triangle_count_{before,after}.txt). The in-row pair
    fan-out is bounded by the schema (≤7 lines/order → ≤21 pairs), so no
    row can blow up a task at any corpus scale; collect_set dedups
    per-order suppliers exactly as the old DISTINCT did, and sort_array
    gives the u < v orientation, so the edge SET is identical (both
    graph oracles stay hash-green)."""
    # NULL order keys must not group into one phantom order: the join
    # formulation (and the oracle) never pairs lines on a NULL key
    ps = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .filter(F.col("l_orderkey").isNotNull())
    )
    sups = ps.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_suppkey")).alias("ss")
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("ss"),
            lambda x, i: F.transform(
                F.slice(F.col("ss"), i + 2, F.size(F.col("ss"))),
                lambda y: F.struct(x.alias("u"), y.alias("v")),
            ),
        )
    )
    return (
        sups.select(F.explode(pair_structs).alias("p"))
        .select("p.u", "p.v")
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 5)
        .select("u", "v")
    )


_TRI_EDGES_SQL = """
WITH ps AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
), e AS (
  SELECT a.l_suppkey AS u, b.l_suppkey AS v
  FROM ps a JOIN ps b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 5
)"""


@query(
    "graph_clustering_coeff",
    oracle=_TRI_EDGES_SQL
    + """,
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1 JOIN e e2 ON e2.u = e1.v
            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
), per_node AS (
  SELECT n, COUNT(*) AS t FROM (
    SELECT a AS n FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri
  ) GROUP BY n
), deg AS (
  SELECT n, COUNT(*) AS d FROM (
    SELECT u AS n FROM e UNION ALL SELECT v FROM e
  ) GROUP BY n
)
SELECT deg.n AS node, CAST(deg.d AS BIGINT) AS degree,
       CAST(COALESCE(per_node.t, 0) AS BIGINT) AS n_triangles,
       CAST(2.0 * COALESCE(per_node.t, 0) AS DOUBLE) / (deg.d * (deg.d - 1))
         AS clustering_coeff
FROM deg LEFT JOIN per_node ON deg.n = per_node.n
WHERE deg.d >= 2
""",
    category="plan",
)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node — 2·triangles(n)/(deg·(deg−1)),
    the community-density signal (how close each supplier's trading
    neighborhood is to a clique). Reuses the degree-oriented triangle
    kernel; the per-node rollup explodes each found triangle to its three
    corners and aggregates — one extra narrow shuffle over the triangle
    list, which the orientation already bounded. The coefficient is an
    int/int ratio → bit-identical to the id-ordered oracle.

    Edges materialized once (same rationale as
    :func:`triangle_count_from_edges`): the list feeds the triangle
    kernel AND the degree join below, and each reference would
    otherwise re-derive the full co-supply projection."""
    e = materialize(_cosupply_edges(spark, sf_dir), eager=False)
    tris = oriented_triangles(e)
    per_node = (
        tris.select(F.explode(F.array("s", "w1", "w2")).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    deg = _node_degrees(e)
    return (
        deg.join(per_node, "n", "left")
        .filter(F.col("deg") >= 2)
        .select(
            F.col("n").alias("node"),
            F.col("deg").alias("degree"),
            F.coalesce(F.col("t"), F.lit(0)).alias("n_triangles"),
            (
                (F.lit(2.0) * F.coalesce(F.col("t"), F.lit(0)))
                / (F.col("deg") * (F.col("deg") - 1))
            ).alias("clustering_coeff"),
        )
    )


# ---------------------------------------------------------------------------
# Label propagation (synchronous, fixed-iteration community detection)
# ---------------------------------------------------------------------------

_LPA_ITERS = 3


def _lpa_oracle(iters: int) -> str:
    its = []
    for k in range(iters):
        its.append(f"""it{k + 1} AS (
  SELECT node, label FROM (
    SELECT e.dst AS node, r.label AS label,
           ROW_NUMBER() OVER (PARTITION BY e.dst
                              ORDER BY COUNT(*) DESC, r.label) AS rk
    FROM edges e JOIN it{k} r ON r.node = e.src
    GROUP BY e.dst, r.label
  ) WHERE rk = 1
)""")
    return f"""
WITH pairs AS (
  SELECT DISTINCT 2 * l.l_suppkey AS s, 2 * o.o_custkey + 1 AS c
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), edges AS (
  SELECT s AS src, c AS dst FROM pairs UNION ALL SELECT c, s FROM pairs
), nodes AS (
  SELECT DISTINCT src AS node FROM edges
), it0 AS (
  SELECT node, node AS label FROM nodes
), {", ".join(its)}
SELECT CASE WHEN label % 2 = 0 THEN 'S' || CAST(label // 2 AS VARCHAR)
            ELSE 'C' || CAST(label // 2 AS VARCHAR) END AS community,
       CAST(COUNT(*) AS BIGINT) AS size,
       CASE WHEN MIN(node) % 2 = 0 THEN 'S' || CAST(MIN(node) // 2 AS VARCHAR)
            ELSE 'C' || CAST(MIN(node) // 2 AS VARCHAR) END AS min_node
FROM it{iters} GROUP BY label
"""


@query("graph_label_propagation", oracle=_lpa_oracle(_LPA_ITERS), category="plan")
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (3 fixed
    iterations) over the supplier↔customer trading graph. Each round every
    node adopts the MOST FREQUENT label among its neighbors, ties broken by
    smallest label — that tie rule plus the fixed iteration count makes the
    algorithm fully deterministic (classic async LPA is order-dependent and
    ungradeable), so the oracle can unroll the same rounds as CTEs.

    Nodes are encoded as LONGS (2·suppkey for suppliers, 2·custkey+1 for
    customers; the 'S…'/'C…' strings are formatted only in the final
    census, mirrored in the oracle) — the checkpointed edge list the
    rounds re-read shrank 15.2 GiB → ~4 GiB at sf10 and every round's
    join/agg shuffles longs instead of strings. The tie-break therefore
    orders by numeric id, not string collation — any total order is an
    equally valid LPA determinizer, and engine and oracle share it.

    Per iteration: one join of edges to current labels + one
    groupBy(node, label) count (partial-aggregable) + one per-node
    row_number pick — all equi-shuffles on node ids, no driver data motion.
    Lineage is localCheckpoint-ed per round like connected_components /
    pagerank, so the plan stays constant-size at any iteration count (on a
    real cluster: ``checkpoint`` to durable storage). At 100 TB the
    groupBy(node, label) pair count is bounded by the edge count, and a
    hub node's candidate labels partial-aggregate map-side before the
    shuffle — the same word-count shape as degree counting. The returned
    relation is the community census (label, size, min member), not the
    full node table, so the result stays small at any graph size."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            (F.lit(2) * F.col("l_suppkey")).alias("s"),
            (F.lit(2) * F.col("o_custkey") + F.lit(1)).alias("c"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")).unionAll(
        pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
    )
    labels = label_propagation(edges, _LPA_ITERS)

    def _fmt(col: Column) -> Column:
        # node ids are non-negative, so >> 1 is exact integer halving
        return F.concat(
            F.when(col % 2 == 0, F.lit("S")).otherwise(F.lit("C")),
            F.shiftright(col, 1).cast("string"),
        )

    return labels.groupBy("label").agg(
        F.count(F.lit(1)).alias("size"), F.min("node").alias("min_node_id")
    ).select(
        _fmt(F.col("label")).alias("community"),
        "size",
        _fmt(F.col("min_node_id")).alias("min_node"),
    )


def label_propagation(edges: DataFrame, iters: int) -> DataFrame:
    """The LPA kernel: (src, dst) directed-edge relation (pass each
    undirected edge BOTH ways) → (node, label) after ``iters`` synchronous
    rounds of most-frequent-neighbor-label with smallest-label tie-break.
    Graph-agnostic and property-tested on constructed graphs (two cliques
    joined by a bridge must converge to two communities)."""
    if iters < 1:
        raise ValueError("label_propagation needs iters >= 1")
    edges = materialize(edges, eager=True)  # reused every round
    labels = None
    for it in range(iters):
        if it == 0:
            # Round 1 propagates the IDENTITY labeling (label = node), so
            # the join against it0 is a no-op: each edge contributes its
            # own src as the label. Skipping the join also skips
            # materializing the distinct node list — one full-edge join
            # and one distinct-shuffle less. NULL-src edges must still be
            # dropped here: the join they replace never matched them (a
            # NULL key matches nothing), and the oracle's JOIN keeps that
            # semantic in every round.
            counted = (
                edges.where(F.col("src").isNotNull())
                .select(F.col("dst").alias("node"), F.col("src").alias("label"))
                .groupBy("node", "label")
                .agg(F.count(F.lit(1)).alias("cnt"))
            )
        else:
            counted = (
                edges.join(labels.withColumnRenamed("node", "src"), "src")
                .groupBy(F.col("dst").alias("node"), "label")
                .agg(F.count(F.lit(1)).alias("cnt"))
            )
        # Most-frequent label, smallest-label tie-break, as ONE hash
        # aggregate: min_by over the struct (-cnt, label) is (max cnt,
        # then min label) — identical pick to the row_number() formulation
        # it replaced, but partial-aggregable (map-side combine shrinks a
        # hub node's candidate labels before the shuffle) and sort-free
        # (the window variant shuffled AND sorted every (node,label) row
        # per round; measured at sf10 this kernel was the 165 s tail of
        # the smoke). The struct key is unique per group row (label is a
        # group key), so the a19 undefined-on-ties caveat cannot bite.
        labels = materialize(
            counted.groupBy("node").agg(
                F.min_by(
                    "label", F.struct((-F.col("cnt")).alias("nc"), F.col("label"))
                ).alias("label")
            ),
            eager=True,
            iterative=True,
        )
    return labels
