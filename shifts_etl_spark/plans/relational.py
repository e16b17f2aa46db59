"""Relational operator coverage queries (SURVEY.md §2) over the driver's
TPC-H-ish testdata. Every query has a DuckDB oracle twin with identical
column names/aliases (driver hash-compares sorted columns).

Naming convention maps to the SURVEY §2 inventory: s*=sources, t*=transform,
f*=filter, j*=join, a*=aggregate, w*=window, q*=subquery/set/top-k.

Determinism rules applied throughout:
  - every float aggregate is ROUND()ed identically on both sides (double
    summation order differs between engines at the ulp level);
  - DuckDB integer SUM() returns HUGEINT → always CAST(... AS BIGINT);
  - top-k/row_number ties broken by a unique key;
  - fixed anchor dates instead of CURRENT_DATE (SURVEY §7.4 #4).
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..operators.windows import scalable_running_sum, session_window, sliding_window, tumbling_window
from ..sources.tables import load_table as _t


# --------------------------------------------------------------------------
# S — sources / scans
# --------------------------------------------------------------------------

def s5_scan_pushdown(spark, sf_dir):
    """Projection + predicate that must reach the parquet scan
    (PushedFilters / 2-column ReadSchema in .explain)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") >= F.lit("2001-01-01").cast("timestamp"))
        .select("l_orderkey", "l_extendedprice")
    )


S5_SQL = """
SELECT l_orderkey, l_extendedprice
FROM lineitem WHERE l_shipdate >= TIMESTAMP '2001-01-01'
"""

# --------------------------------------------------------------------------
# T — flatten / projection / scalar derivations
# --------------------------------------------------------------------------

def t1_explode_tokens(spark, sf_dir):
    """T1 explode with parent-key propagation, on documents' token arrays."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.trim("text"), "\\s+"), lambda t: t != "")
    return docs.select("doc_id", F.explode(toks).alias("token"))


T1_SQL = r"""
SELECT doc_id, unnest(list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '')) AS token
FROM documents
"""


def t2_rename_projection(spark, sf_dir):
    """T2 rename-map semantics: known keys renamed, unknown pass through."""
    c = _t(spark, sf_dir, "customer")
    return c.withColumnsRenamed(
        {"c_custkey": "cust_id", "c_name": "cust_name", "not_a_col": "ignored"}
    ).select("cust_id", "cust_name", "c_mktsegment")


T2_SQL = """
SELECT c_custkey AS cust_id, c_name AS cust_name, c_mktsegment FROM customer
"""


def t3_array_fold_sum(spark, sf_dir):
    """T3/A7 array-fold: collect per-order quantity array, fold-sum it
    (values are integral doubles → exact across engines)."""
    li = _t(spark, sf_dir, "lineitem")
    arr = li.groupBy("l_orderkey").agg(F.collect_list("l_quantity").alias("qs"))
    folded = F.aggregate("qs", F.lit(0.0), lambda acc, x: acc + x)
    return arr.select("l_orderkey", folded.alias("total_qty"))


T3_SQL = """
SELECT l_orderkey, SUM(l_quantity) AS total_qty FROM lineitem GROUP BY l_orderkey
"""


def t5_epoch_seconds(spark, sf_dir):
    """T5 epoch arithmetic: timestamp → whole epoch seconds (floor), with
    the reference's positive-guard shape."""
    ev = _t(spark, sf_dir, "events")
    secs = F.floor(F.col("ts").cast("double"))
    return ev.select(
        "event_id",
        F.when(secs > 0, secs).otherwise(F.lit(None)).cast("long").alias("epoch_s"),
    )


T5_SQL = """
SELECT event_id,
       CASE WHEN floor(epoch(ts)) > 0 THEN CAST(floor(epoch(ts)) AS BIGINT) END AS epoch_s
FROM events
"""

# --------------------------------------------------------------------------
# F — filters / predicates
# --------------------------------------------------------------------------

def f1_predicates(spark, sf_dir):
    """F1 equality + range predicates, F4 CASE flag, F5 COALESCE default."""
    ev = _t(spark, sf_dir, "events")
    high = F.when(F.col("value") > 90, 1).otherwise(0)
    return (
        ev.where((F.col("value") > 50) & (F.col("event_type") != "error"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(high), F.lit(0)).cast("long").alias("n_high"),
        )
    )


F1_SQL = """
SELECT event_type, count(*) AS n,
       CAST(coalesce(SUM(CASE WHEN value > 90 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_high
FROM events WHERE value > 50 AND event_type <> 'error'
GROUP BY event_type
"""


def f2_date_range(spark, sf_dir):
    """F2 trailing-14-day filter against a fixed anchor (deterministic
    stand-in for CURRENT_DATE)."""
    li = _t(spark, sf_dir, "lineitem")
    cutoff = F.date_sub(F.to_date(F.lit("2001-08-01")), 14)
    rev = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.where(F.col("l_shipdate").cast("date") >= cutoff)
        .agg(F.round(F.coalesce(rev, F.lit(0.0)), 2).alias("revenue_14d"),
             F.count(F.lit(1)).alias("n_items"))
    )


F2_SQL = """
SELECT round(coalesce(SUM(l_extendedprice * (1 - l_discount)), 0), 2) AS revenue_14d,
       count(*) AS n_items
FROM lineitem WHERE CAST(l_shipdate AS DATE) >= DATE '2001-08-01' - INTERVAL 14 DAY
"""

# --------------------------------------------------------------------------
# J — joins
# --------------------------------------------------------------------------

def j1_inner_broadcast(spark, sf_dir):
    """J1 many-to-one equi inner join chain with broadcast dims:
    orders ⋈ customer ⋈ nation → revenue per nation."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "inner")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "inner")
        .groupBy("n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


J1_SQL = """
SELECT n_name, round(SUM(o_totalprice), 2) AS revenue, count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def j2_left_join(spark, sf_dir):
    """J2 left-outer preserving orderless customers (count=0, not NULL)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


J2_SQL = """
SELECT c_custkey, count(o_orderkey) AS n_orders
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey
"""


def j3_semi_join(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_mktsegment"
    )


J3_SQL = """
SELECT c_custkey, c_mktsegment FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


def j4_anti_join(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_acctbal"
    )


J4_SQL = """
SELECT c_custkey, c_acctbal FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


def j5_cross_join(spark, sf_dir):
    r = _t(spark, sf_dir, "region")
    a = r.select(F.col("r_name").alias("region_a"))
    b = r.select(F.col("r_name").alias("region_b"))
    return a.crossJoin(b)


J5_SQL = """
SELECT a.r_name AS region_a, b.r_name AS region_b FROM region a CROSS JOIN region b
"""


def j6_range_join(spark, sf_dir):
    """Range/theta join: equi on user + time-band predicate — follow-up
    events within 5 minutes. Uses the binned strategy (operators/joins.py)
    so the intermediate is bounded per (user, 5-min bin), not per user."""
    from ..operators.joins import banded_range_join

    ev = _t(spark, sf_dir, "events")
    a = ev.select("user_id", F.col("event_id").alias("eid_a"), "ts")
    b = ev.select("user_id", F.col("event_id").alias("eid_b"), "ts")
    pairs = banded_range_join(a, b, key="user_id", band_seconds=300)
    return pairs.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_followups"))


J6_SQL = """
SELECT a.user_id AS user_id, count(*) AS n_followups
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 5 MINUTE
GROUP BY a.user_id
"""

# --------------------------------------------------------------------------
# A — aggregations
# --------------------------------------------------------------------------

def a1_global_aggregates(spark, sf_dir):
    """A1-A5 shapes: avg/min/max/count + COALESCE-on-empty, one row."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.coalesce(F.avg("l_quantity"), F.lit(0.0)), 4).alias("avg_qty"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.count(F.lit(1)).alias("n_rows"),
    )


A1_SQL = """
SELECT round(coalesce(AVG(l_quantity), 0), 4) AS avg_qty,
       round(MIN(l_extendedprice), 2) AS min_price,
       round(MAX(l_extendedprice), 2) AS max_price,
       count(*) AS n_rows
FROM lineitem
"""


def a6_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped pricing summary (headline bench query): grouped
    sums/avgs/counts with derived expressions, map-side combinable."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


A6_SQL = """
SELECT l_returnflag, l_linestatus,
       round(SUM(l_quantity), 2) AS sum_qty,
       round(SUM(l_extendedprice), 2) AS sum_base_price,
       round(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(AVG(l_quantity), 4) AS avg_qty,
       round(AVG(l_extendedprice), 4) AS avg_price,
       round(AVG(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def a7_distinct_agg(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


A7_SQL = """
SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_customers, count(*) AS n_orders
FROM orders GROUP BY o_orderpriority
"""


def a8_rollup(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


A8_SQL = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n, round(SUM(o_totalprice), 2) AS total
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def a9_cube(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty")
    )


A9_SQL = """
SELECT l_returnflag, l_linestatus, round(SUM(l_quantity), 2) AS sum_qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""

# --------------------------------------------------------------------------
# W — window functions
# --------------------------------------------------------------------------

def w1_running_sum(spark, sf_dir):
    """W1 running sum over a global order (unique key → RANGE==ROWS),
    computed with the two-pass range-bucketed prefix sum — reference
    RESULT parity without the reference's single-partition window plan
    (the data-sized Exchange SinglePartition this query carried through
    round 1; only the N_partitions-row offsets frame is ever ordered
    globally now)."""
    ev = _t(spark, sf_dir, "events")
    flag = F.when(F.col("event_type") == "error", 1).otherwise(0)
    return scalable_running_sum(
        ev.select("event_id", flag.alias("_f")),
        "event_id",
        "_f",
        out_col="running_errors",
    ).select(
        "event_id", F.col("running_errors").cast("long").alias("running_errors")
    )


W1_SQL = """
SELECT event_id,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
            OVER (ORDER BY event_id) AS BIGINT) AS running_errors
FROM events
"""


def w2_gaps_islands(spark, sf_dir):
    """W1+W2+A6+Q2 composed exactly like the reference KPI: longest streak
    of consecutive non-'error' events (gaps-and-islands + top-1). Island
    numbering uses the two-pass prefix sum (unique event_id → ROWS ==
    the RANGE semantics of the reference's ORDER-BY-only window), so no
    data-sized single partition appears anywhere in the plan."""
    ev = _t(spark, sf_dir, "events")
    flag = F.when(F.col("event_type") == "error", 1).otherwise(0)
    grps = scalable_running_sum(
        ev.select("event_id", flag.alias("_f")), "event_id", "_f", out_col="grp"
    ).select("grp")
    islands = grps.groupBy("grp").agg(
        (
            F.count(F.lit(1))
            - F.when(F.col("grp") == 0, F.lit(0)).otherwise(F.lit(1))
        ).alias("cnt")
    )
    return (
        islands.orderBy(F.col("cnt").desc())
        .limit(1)
        .select(F.col("cnt").cast("long").alias("max_streak"))
    )


W2_SQL = """
WITH grps AS (
  SELECT SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
         OVER (ORDER BY event_id) AS grp
  FROM events
)
SELECT CAST(count(*) - CASE WHEN grp = 0 THEN 0 ELSE 1 END AS BIGINT) AS max_streak
FROM grps GROUP BY grp ORDER BY max_streak DESC LIMIT 1
"""


def w3_rank_lag(spark, sf_dir):
    """rank/row_number + lag coverage: top-3 events per type by value with
    the gap to the previous ranked value."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), F.col("event_id")
    )
    ranked = ev.select(
        "event_type",
        "event_id",
        F.round("value", 4).alias("value"),
        F.row_number().over(w).alias("rn"),
        F.round(F.lag("value").over(w) - F.col("value"), 4).alias("gap_to_prev"),
    )
    return ranked.where(F.col("rn") <= 3)


W3_SQL = """
SELECT * FROM (
  SELECT event_type, event_id, round(value, 4) AS value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rn,
         round(LAG(value) OVER (PARTITION BY event_type ORDER BY value DESC, event_id) - value, 4) AS gap_to_prev
  FROM events
) WHERE rn <= 3
"""


def w4_scalable_prefix_sum(spark, sf_dir):
    """The 100 TB replacement for W1: two-pass range-bucketed prefix sum
    (no single-partition window). Semantics identical to SUM OVER (ORDER BY
    unique key)."""
    ev = _t(spark, sf_dir, "events").select("event_id", "value")
    out = scalable_running_sum(ev, "event_id", "value", "running_value")
    return out.select(
        "event_id", F.round("running_value", 2).alias("running_value")
    )


W4_SQL = """
SELECT event_id, round(SUM(value) OVER (ORDER BY event_id), 2) AS running_value
FROM events
"""


def w5_tumbling(spark, sf_dir):
    return tumbling_window(_t(spark, sf_dir, "events"), "1 hour")


W5_SQL = """
SELECT date_trunc('hour', ts) AS window_start, count(*) AS n_events,
       round(SUM(value), 4) AS sum_value
FROM events GROUP BY 1
"""


def w6_sliding(spark, sf_dir):
    return sliding_window(_t(spark, sf_dir, "events"), 2, 1)


W6_SQL = """
WITH assigned AS (
  SELECT date_trunc('hour', ts) AS window_start, value FROM events
  UNION ALL
  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS window_start, value FROM events
)
SELECT window_start, count(*) AS n_events, round(SUM(value), 4) AS sum_value
FROM assigned GROUP BY 1
"""


def w7_session(spark, sf_dir):
    return session_window(_t(spark, sf_dir, "events"), gap_minutes=30)


W7_SQL = """
WITH flagged AS (
  SELECT user_id, value, ts, event_id,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR epoch(ts) - epoch(LAG(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, value,
         CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id, count(*) AS n_events, round(SUM(value), 4) AS sum_value
FROM sessions GROUP BY user_id, session_id
"""

# --------------------------------------------------------------------------
# Q — subqueries / set ops / sort / limit
# --------------------------------------------------------------------------

def q1_scalar_subquery(spark, sf_dir):
    """Q1 uncorrelated scalar subquery via Spark SQL."""
    o = _t(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT count(*) AS n_above_avg, round(SUM(o_totalprice), 2) AS total_above_avg
        FROM {orders}
        WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM {orders})
        """,
        orders=o,
    )


Q1_SQL = """
SELECT count(*) AS n_above_avg, round(SUM(o_totalprice), 2) AS total_above_avg
FROM orders WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
"""


def q2_topk(spark, sf_dir):
    """Q2 ORDER BY ... LIMIT k → TakeOrderedAndProject (top-k, no full
    sort). Unique tie-break key."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"))
    )


Q2_SQL = """
SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""


def q3_set_intersect(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


Q3_SQL = """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey AS nationkey FROM supplier
"""


def q4_set_except(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    # subtract == set EXCEPT (exceptAll would be multiset difference)
    return c.subtract(s)


Q4_SQL = """
SELECT c_nationkey AS nationkey FROM customer
EXCEPT
SELECT s_nationkey AS nationkey FROM supplier
"""


def q5_union_distinct(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct()


Q5_SQL = """
SELECT c_nationkey AS nationkey FROM customer
UNION
SELECT s_nationkey AS nationkey FROM supplier
"""


def q6_scalar_functions(spark, sf_dir):
    """§2.9 scalar-function sweep: date parts/arithmetic, string ops,
    numeric rounding/floor — one deterministic projection."""
    o = _t(spark, sf_dir, "orders")
    anchor = F.to_date(F.lit("2001-08-01"))
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("order_year"),
        F.month("o_orderdate").cast("long").alias("order_month"),
        F.datediff(anchor, F.col("o_orderdate").cast("date")).cast("long").alias("days_before_anchor"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("due_date"),
        F.concat(F.lower("o_orderstatus"), F.lit("-"), F.substring("o_orderpriority", 1, 1)).alias("status_tag"),
        F.length("o_orderpriority").cast("long").alias("prio_len"),
        F.round(F.col("o_totalprice") / 7.0, 2).alias("weekly_price"),
        F.floor(F.col("o_totalprice") / 1000.0).cast("long").alias("price_bucket"),
        (F.col("o_orderkey") % 10).cast("long").alias("key_mod"),
    )


Q6_SQL = """
SELECT o_orderkey,
       CAST(extract(year FROM o_orderdate) AS BIGINT) AS order_year,
       CAST(extract(month FROM o_orderdate) AS BIGINT) AS order_month,
       date_diff('day', CAST(o_orderdate AS DATE), DATE '2001-08-01') AS days_before_anchor,
       CAST(o_orderdate AS DATE) + 30 AS due_date,
       lower(o_orderstatus) || '-' || substring(o_orderpriority, 1, 1) AS status_tag,
       CAST(length(o_orderpriority) AS BIGINT) AS prio_len,
       round(o_totalprice / 7.0, 2) AS weekly_price,
       CAST(floor(o_totalprice / 1000.0) AS BIGINT) AS price_bucket,
       o_orderkey % 10 AS key_mod
FROM orders
"""


def q7_json_extract(spark, sf_dir):
    """JSON props extraction (events.props is a JSON string column)."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"), F.round(F.avg(k), 4).alias("avg_k")
    )


Q7_SQL = """
SELECT event_type,
       CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
       round(AVG(CAST(props->>'$.k' AS BIGINT)), 4) AS avg_k
FROM events GROUP BY event_type
"""


def q8_kpi_union(spark, sf_dir):
    """The reference's flagship 6-KPI VALUES-of-scalar-subqueries shape
    (K3/Q1/Q3) recast over the testdata, fixed anchor 2001-08-01.

    r10: the four orders KPIs fold into ONE scan + ONE 1-row conditional
    aggregate, unpivoted back to rows with stack() — guide §2.4 (remove
    shuffles outright) applied to four separate scan→agg→Exchange
    branches. Per-KPI values are unchanged: MAX/COUNT over a filtered
    frame ≡ MAX/COUNT of the CASE-guarded column (nulls ignored), and
    AVG/MIN see the identical row set either way."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    anchor = F.to_date(F.lit("2001-08-01"))

    def one(name, df):
        return df.select(
            F.lit(name).alias("kpi_name"),
            F.round(F.col("v").cast("double"), 2).alias("kpi_value"),
        )

    mean_qty = one("mean_lineitem_qty", li.agg(F.coalesce(F.avg("l_quantity"), F.lit(0.0)).alias("v")))
    in_14d = F.col("o_orderdate").cast("date") >= F.date_sub(anchor, 14)
    order_kpis = o.agg(
        F.round(F.coalesce(F.avg("o_totalprice"), F.lit(0.0)).cast("double"), 2).alias("_mean"),
        F.round(F.coalesce(F.max(F.when(in_14d, F.col("o_totalprice"))), F.lit(0.0)).cast("double"), 2).alias("_max14"),
        F.round(F.coalesce(F.min("o_totalprice"), F.lit(0.0)).cast("double"), 2).alias("_min"),
        F.round(F.count(F.when(F.col("o_orderstatus") == "O", F.lit(1))).cast("double"), 2).alias("_open"),
    ).selectExpr(
        "stack(4, 'mean_order_value', _mean, 'max_order_value_14d', _max14,"
        " 'min_order_value', _min, 'total_open_orders', _open)"
        " AS (kpi_name, kpi_value)"
    )
    streak = w2_gaps_islands(spark, sf_dir).select(
        F.lit("max_no_error_streak").alias("kpi_name"),
        F.col("max_streak").cast("double").alias("kpi_value"),
    )
    return mean_qty.unionByName(order_kpis).unionByName(streak)


Q8_SQL = """
SELECT 'mean_lineitem_qty' AS kpi_name,
       round(coalesce(AVG(l_quantity), 0), 2) AS kpi_value FROM lineitem
UNION ALL
SELECT 'mean_order_value', round(coalesce(AVG(o_totalprice), 0), 2) FROM orders
UNION ALL
SELECT 'max_order_value_14d', round(coalesce(MAX(o_totalprice), 0), 2)
FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '2001-08-01' - INTERVAL 14 DAY
UNION ALL
SELECT 'min_order_value', round(coalesce(MIN(o_totalprice), 0), 2) FROM orders
UNION ALL
SELECT 'total_open_orders', CAST(count(*) AS DOUBLE) FROM orders WHERE o_orderstatus = 'O'
UNION ALL
SELECT 'max_no_error_streak', CAST((
  WITH grps AS (
    SELECT SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
           OVER (ORDER BY event_id) AS grp
    FROM events
  )
  SELECT count(*) - CASE WHEN grp = 0 THEN 0 ELSE 1 END AS cnt
  FROM grps GROUP BY grp ORDER BY cnt DESC LIMIT 1
) AS DOUBLE)
"""

def a10_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (beyond rollup/cube): by status, by priority,
    and grand total in one pass. DataFrame-parameterized spark.sql — no
    shared temp-view names, so concurrent driver runs can't race."""
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               round(AVG(o_totalprice), 2) AS avg_price
        FROM {orders}
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """,
        orders=_t(spark, sf_dir, "orders"),
    )


A10_SQL = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       round(AVG(o_totalprice), 2) AS avg_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


def a11_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per group (Spark `percentile` ==
    DuckDB `quantile_cont`)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("median_price"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90_price"),
        F.round(F.expr("percentile(l_quantity, 0.25)"), 4).alias("q1_qty"),
    )


A11_SQL = """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
       round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
       round(quantile_cont(l_quantity, 0.25), 4) AS q1_qty
FROM lineitem GROUP BY l_returnflag
"""


def w8_ntile_first_last(spark, sf_dir):
    """ntile/first_value/last_value coverage: price quartiles within order
    priority + the priority's min/max key carried on each row, aggregated
    back down so the result is compact and deterministic."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice"), F.col("o_orderkey")
    )
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    tiled = o.select(
        "o_orderpriority",
        "o_totalprice",
        F.ntile(4).over(w).alias("quartile"),
        F.first_value("o_orderkey").over(wf).alias("cheapest_key"),
        F.last_value("o_orderkey").over(wf).alias("priciest_key"),
    )
    return tiled.groupBy("o_orderpriority", "quartile").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
        F.min("cheapest_key").alias("cheapest_key"),
        F.max("priciest_key").alias("priciest_key"),
    )


W8_SQL = """
WITH tiled AS (
  SELECT o_orderpriority, o_totalprice,
         NTILE(4) OVER w AS quartile,
         FIRST_VALUE(o_orderkey) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS cheapest_key,
         LAST_VALUE(o_orderkey) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS priciest_key
  FROM orders
  WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
)
SELECT o_orderpriority, quartile, count(*) AS n,
       round(AVG(o_totalprice), 2) AS avg_price,
       MIN(cheapest_key) AS cheapest_key, MAX(priciest_key) AS priciest_key
FROM tiled GROUP BY o_orderpriority, quartile
"""


def q9_correlated_subquery(spark, sf_dir):
    """Correlated scalar subquery: orders beating their customer's own
    average order value."""
    o = _t(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_custkey, count(*) AS n_above_own_avg
        FROM {orders} o
        WHERE o_totalprice > (SELECT AVG(o2.o_totalprice)
                              FROM {orders} o2
                              WHERE o2.o_custkey = o.o_custkey)
        GROUP BY o_custkey
        """,
        orders=o,
    )


Q9_SQL = """
SELECT o_custkey, count(*) AS n_above_own_avg
FROM orders o
WHERE o_totalprice > (SELECT AVG(o2.o_totalprice)
                      FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
GROUP BY o_custkey
"""


def q10_in_subquery(spark, sf_dir):
    """IN-subquery: customers from nations that also have suppliers."""
    return spark.sql(
        """
        SELECT c_custkey, c_nationkey FROM {customer}
        WHERE c_nationkey IN (SELECT s_nationkey FROM {supplier})
        """,
        customer=_t(spark, sf_dir, "customer"),
        supplier=_t(spark, sf_dir, "supplier"),
    )


Q10_SQL = """
SELECT c_custkey, c_nationkey FROM customer
WHERE c_nationkey IN (SELECT s_nationkey FROM supplier)
"""


def q11_pivot(spark, sf_dir):
    """Pivot order counts: one row per status, one column per priority
    bucket (fixed value list so the schema is static)."""
    o = _t(spark, sf_dir, "orders")
    prio = F.substring("o_orderpriority", 1, 1)
    return (
        o.select("o_orderstatus", prio.alias("p"))
        .groupBy("o_orderstatus")
        .pivot("p", ["1", "2", "3", "4", "5"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderstatus",
            *[F.coalesce(F.col(v), F.lit(0)).cast("long").alias(f"prio_{v}") for v in "12345"],
        )
    )


Q11_SQL = """
SELECT o_orderstatus,
       CAST(coalesce(SUM(CASE WHEN substring(o_orderpriority, 1, 1) = '1' THEN 1 END), 0) AS BIGINT) AS prio_1,
       CAST(coalesce(SUM(CASE WHEN substring(o_orderpriority, 1, 1) = '2' THEN 1 END), 0) AS BIGINT) AS prio_2,
       CAST(coalesce(SUM(CASE WHEN substring(o_orderpriority, 1, 1) = '3' THEN 1 END), 0) AS BIGINT) AS prio_3,
       CAST(coalesce(SUM(CASE WHEN substring(o_orderpriority, 1, 1) = '4' THEN 1 END), 0) AS BIGINT) AS prio_4,
       CAST(coalesce(SUM(CASE WHEN substring(o_orderpriority, 1, 1) = '5' THEN 1 END), 0) AS BIGINT) AS prio_5
FROM orders GROUP BY o_orderstatus
"""

def j8_full_outer(spark, sf_dir):
    """Full-outer join: per-nation customer vs supplier presence, keeping
    nations that have only one side (NULL-preserving on both)."""
    c = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("ck"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("sk"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    j = c.join(s, c.ck == s.sk, "full_outer")
    return j.select(
        F.coalesce("ck", "sk").alias("nationkey"),
        F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
    )


J8_SQL = """
WITH c AS (SELECT c_nationkey AS ck, count(*) AS n_customers FROM customer GROUP BY 1),
     s AS (SELECT s_nationkey AS sk, count(*) AS n_suppliers FROM supplier GROUP BY 1)
SELECT coalesce(ck, sk) AS nationkey,
       coalesce(n_customers, 0) AS n_customers,
       coalesce(n_suppliers, 0) AS n_suppliers
FROM c FULL OUTER JOIN s ON ck = sk
"""


def t6_explode_outer(spark, sf_dir):
    """explode_outer semantics: rows with empty arrays survive as NULL
    (vs T1's inner explode where they vanish). Every 7th doc's token array
    is emptied to force the boundary case."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.trim("text"), "\\s+"), lambda t: t != "")
    arr = F.when((F.col("doc_id") % 7) == 0, F.array().cast("array<string>")).otherwise(
        F.slice(toks, 1, 3)
    )
    return docs.select("doc_id", F.explode_outer(arr).alias("token"))


T6_SQL = r"""
WITH prepared AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN CAST([] AS VARCHAR[])
              ELSE list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '')[1:3]
         END AS arr
  FROM documents
)
SELECT doc_id,
       unnest(CASE WHEN len(arr) = 0 THEN [CAST(NULL AS VARCHAR)] ELSE arr END) AS token
FROM prepared
"""


def q14_string_functions(spark, sf_dir):
    """String-function sweep: pad/repeat/reverse/translate/position/case
    transforms over supplier names (tiny table, full projection)."""
    s = _t(spark, sf_dir, "supplier")
    name = F.col("s_name")
    return s.select(
        "s_suppkey",
        F.lpad(name, 25, ".").alias("lpadded"),
        F.rpad(name, 25, "_").alias("rpadded"),
        F.reverse(name).alias("reversed"),
        F.translate(name, "#", "-").alias("translated"),
        F.instr(name, "#").cast("long").alias("hash_pos"),
        F.upper(name).alias("uppered"),
        F.trim(F.substring(name, 1, 8)).alias("prefix8"),
        F.length(F.regexp_replace(name, "[0-9]", "")).cast("long").alias("n_alpha"),
        F.split(name, "#").getItem(0).alias("before_hash"),
    )


Q14_SQL = """
SELECT s_suppkey,
       lpad(s_name, 25, '.') AS lpadded,
       rpad(s_name, 25, '_') AS rpadded,
       reverse(s_name) AS reversed,
       replace(s_name, '#', '-') AS translated,
       CAST(strpos(s_name, '#') AS BIGINT) AS hash_pos,
       upper(s_name) AS uppered,
       trim(substring(s_name, 1, 8)) AS prefix8,
       CAST(length(regexp_replace(s_name, '[0-9]', '', 'g')) AS BIGINT) AS n_alpha,
       string_split(s_name, '#')[1] AS before_hash
FROM supplier
"""


def q15_math_functions(spark, sf_dir):
    """Math-function sweep over part prices: roots/powers/logs/abs/sign/
    least-greatest/mod, rounded identically on both engines."""
    p = _t(spark, sf_dir, "part")
    x = F.col("p_retailprice")
    return p.select(
        "p_partkey",
        F.round(F.sqrt(x), 6).alias("sqrt_price"),
        F.round(F.pow(x, 2), 4).alias("price_sq"),
        F.round(F.log10(x), 6).alias("log10_price"),
        F.round(F.log(x), 6).alias("ln_price"),
        F.abs(x - 1000.0).alias("abs_diff"),
        F.signum(x - 1000.0).alias("sign_diff"),
        F.greatest(x, F.lit(500.0)).alias("floor500"),
        F.least(x, F.lit(1500.0)).alias("cap1500"),
        (F.col("p_size") % 5).cast("long").alias("size_mod"),
        F.round(F.sin(F.col("p_size")), 6).alias("sin_size"),
    )


Q15_SQL = """
SELECT p_partkey,
       round(sqrt(p_retailprice), 6) AS sqrt_price,
       round(pow(p_retailprice, 2), 4) AS price_sq,
       round(log10(p_retailprice), 6) AS log10_price,
       round(ln(p_retailprice), 6) AS ln_price,
       abs(p_retailprice - 1000.0) AS abs_diff,
       CAST(sign(p_retailprice - 1000.0) AS DOUBLE) AS sign_diff,
       greatest(p_retailprice, 500.0) AS floor500,
       least(p_retailprice, 1500.0) AS cap1500,
       p_size % 5 AS size_mod,
       round(sin(p_size), 6) AS sin_size
FROM part
"""


def q16_date_spine(spark, sf_dir):
    """Generated date spine (calendar) left-joined to daily event counts —
    gap-free time series with explicit zero days; fixed spine bounds."""
    ev = _t(spark, sf_dir, "events")
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.to_date(F.lit("2024-01-01")),
                F.to_date(F.lit("2024-02-04")),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day")
    )
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return spine.join(daily, "day", "left").select(
        "day", F.coalesce("n", F.lit(0)).cast("long").alias("n_events")
    )


Q16_SQL = """
WITH spine AS (
  SELECT CAST(unnest(generate_series(DATE '2024-01-01', DATE '2024-02-04',
                                     INTERVAL 1 DAY)) AS DATE) AS day
),
daily AS (
  SELECT CAST(ts AS DATE) AS day, count(*) AS n FROM events GROUP BY 1
)
SELECT day, coalesce(n, 0) AS n_events
FROM spine LEFT JOIN daily USING (day)
"""


def q13_decimal_exact(spark, sf_dir):
    """Exact decimal aggregation (the reference's NUMERIC money-column
    semantics): cast to DECIMAL before summing — bit-exact across engines,
    unlike double sums."""
    li = _t(spark, sf_dir, "lineitem")
    dec = F.col("l_extendedprice").cast("decimal(12,2)")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.sum(dec).cast("decimal(18,2)").alias("total_price"),
            F.avg(dec).cast("decimal(18,6)").alias("avg_price"),
        )
    )


Q13_SQL = """
SELECT l_returnflag,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS total_price,
       CAST(AVG(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(18,6)) AS avg_price
FROM lineitem GROUP BY l_returnflag
"""


def q12_offset_limit(spark, sf_dir):
    """Keyset-style pagination: ORDER BY + OFFSET/LIMIT — the engine analog
    of the reference API's start/limit slicing (api/app/main.py:92)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_orderkey"))
        .offset(20)
        .limit(10)
        .select("o_orderkey", "o_orderstatus")
    )


Q12_SQL = """
SELECT o_orderkey, o_orderstatus FROM orders
ORDER BY o_orderkey LIMIT 10 OFFSET 20
"""


def j7_asof_join(spark, sf_dir):
    """As-of join (Spark has no native one; see operators/asof.py): each
    purchase event paired with the user's most recent view at-or-before it.
    Oracle uses DuckDB's native ASOF JOIN."""
    from ..operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts"
    )
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("value").alias("view_value")
    )
    out = asof_join(purchases, views, key="user_id", ts_col="ts")
    return out.select(
        "purchase_id",
        "user_id",
        F.col("asof_ts").alias("view_ts"),
        F.round("view_value", 4).alias("view_value"),
    )


J7_SQL = """
SELECT p.event_id AS purchase_id, p.user_id, v.ts AS view_ts,
       round(v.value, 4) AS view_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id AND v.ts <= p.ts
"""


def q20_idle_rich_customers(spark, sf_dir):
    """TPC-H Q22 shape: customers with above-average balance (uncorrelated
    scalar subquery over the positive balances) and NO orders (anti join),
    grouped by market segment. Scale notes: the scalar subquery is one
    tiny broadcast value; the anti join shuffles only (custkey) pairs and
    Catalyst rewrites NOT EXISTS to left_anti."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT c_mktsegment,
               count(*) AS n_customers,
               round(SUM(c_acctbal), 2) AS total_balance
        FROM {customer} c
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM {customer}
                           WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM {orders} o
                          WHERE o.o_custkey = c.c_custkey)
        GROUP BY c_mktsegment
        """,
        customer=c,
        orders=o,
    )


Q20_SQL = """
SELECT c_mktsegment,
       count(*) AS n_customers,
       round(SUM(c_acctbal), 2) AS total_balance
FROM customer c
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c_mktsegment
"""


def w9_range_interval_frame(spark, sf_dir):
    """Time-based RANGE frame: per-customer trailing-30-day order spend.
    The order column is the day number, so the frame is value-based
    (RANGE 29 PRECEDING) — peers with the same day aggregate together
    regardless of row order, which is the deterministic frame choice for
    event time. Partitioned by customer → parallelism = #customers."""
    o = _t(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(day)
        .rangeBetween(-29, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        day.alias("day"),
        F.round(F.sum("o_totalprice").over(w), 2).alias("trailing_30d_spend"),
    )


W9_SQL = """
SELECT o_custkey, o_orderkey,
       datediff('day', DATE '1995-01-01', o_orderdate) AS day,
       round(SUM(o_totalprice) OVER (
         PARTITION BY o_custkey
         ORDER BY datediff('day', DATE '1995-01-01', o_orderdate)
         RANGE BETWEEN 29 PRECEDING AND CURRENT ROW), 2) AS trailing_30d_spend
FROM orders
"""


def q21_latest_per_key(spark, sf_dir):
    """CDC 'current state': the latest event per user. One lexicographic
    MAX over struct(ts, event_id, ...) — an ordinary map-side-combinable
    aggregate, NOT a row_number window (which would sort every partition);
    at 100 TB that is the difference between one combine-shuffle and a
    full per-key sort. event_id breaks ts ties deterministically."""
    ev = _t(spark, sf_dir, "events")
    m = F.max(
        F.struct("ts", "event_id", "event_type", "value")
    ).alias("m")
    return (
        ev.groupBy("user_id")
        .agg(m)
        .select(
            "user_id",
            F.col("m.ts").alias("last_ts"),
            F.col("m.event_id").alias("last_event_id"),
            F.col("m.event_type").alias("last_type"),
            F.round("m.value", 4).alias("last_value"),
        )
    )


Q21_SQL = """
SELECT user_id, ts AS last_ts, event_id AS last_event_id,
       event_type AS last_type, round(value, 4) AS last_value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


def q22_nation_trade(spark, sf_dir):
    """TPC-H Q7 shape: bilateral trade volume between two nations — the
    supplier's and customer's nations must be the chosen pair in either
    direction, grouped by (supp_nation, cust_nation, year). Scale notes:
    nation is broadcast twice under different aliases; supplier/customer
    dims broadcast; only orders⋈lineitem shuffles. The disjunctive pair
    filter lands on the joined dims, after pruning."""
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    revenue = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .where(pair)
        .groupBy("supp_nation", "cust_nation", F.year("o_orderdate").alias("yr"))
        .agg(F.round(revenue, 2).alias("revenue"))
    )


Q22_SQL = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(o_orderdate) AS INT) AS yr,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY 1, 2, 3
"""


def q23_grouped_topk(spark, sf_dir):
    """Top-3 orders per priority, AGGREGATE form: collect_list(struct) →
    sort_array → slice → posexplode. One map-side-combinable-ish pass with
    no per-partition window sort — the right shape when there are MANY
    SMALL groups (each group's list must fit an executor; for few huge
    groups use the row_number window instead, q2/w3). Negated price in
    the sort struct gives (price DESC, key ASC) under one ascending
    lexicographic sort, matching the oracle's ROW_NUMBER ordering.
    NULL prices are filtered first: sort_array puts a NULL struct field
    FIRST, while the oracle's ORDER BY ... DESC is NULLS LAST — a NULL
    price must never outrank a real one."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice").isNotNull())
    item = F.struct(
        (-F.col("o_totalprice")).alias("np"), F.col("o_orderkey").alias("k")
    )
    top = F.slice(F.sort_array(F.collect_list(item)), 1, 3)
    return (
        o.groupBy("o_orderpriority")
        .agg(top.alias("top"))
        .select("o_orderpriority", F.posexplode("top").alias("pos", "t"))
        .select(
            "o_orderpriority",
            (F.col("pos") + 1).alias("rank"),
            F.col("t.k").alias("o_orderkey"),
            F.round(-F.col("t.np"), 2).alias("o_totalprice"),
        )
    )


Q23_SQL = """
SELECT o_orderpriority, CAST(rn AS INT) AS rank, o_orderkey,
       ROUND(o_totalprice, 2) AS o_totalprice
FROM (
  SELECT *, row_number() OVER (PARTITION BY o_orderpriority
                               ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
  WHERE o_totalprice IS NOT NULL
) WHERE rn <= 3
"""


def q24_returned_item_customers(spark, sf_dir):
    """TPC-H Q10 shape: revenue lost to returns per customer — lineitem
    filtered to returnflag 'R', joined to orders (date window) and the
    customer dim, top 20 by lost revenue. Scale notes: the selective
    filters reach both scans; customer broadcasts; top-20 is
    TakeOrderedAndProject; tie-break on c_custkey."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-07-01")
    )
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    revenue = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name", "c_mktsegment")
        .agg(F.round(revenue, 2).alias("lost_revenue"))
        .orderBy(F.desc("lost_revenue"), "c_custkey")
        .limit(20)
    )


Q24_SQL = """
SELECT c_custkey, c_name, c_mktsegment,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS lost_revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= '1996-01-01' AND o_orderdate < '1996-07-01'
GROUP BY c_custkey, c_name, c_mktsegment
ORDER BY lost_revenue DESC, c_custkey
LIMIT 20
"""


def q25_promo_revenue_share(spark, sf_dir):
    """TPC-H Q14 shape: share of revenue from one part type in a month —
    a conditional-sum ratio over the lineitem⋈part join. Scale notes:
    part broadcasts; the ratio is two map-side-combinable SUMs in one
    aggregate, not two passes."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-03-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    economy = F.sum(F.when(F.col("p_type") == "ECONOMY", rev).otherwise(0.0))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(100.0 * economy / F.sum(rev), 4).alias("economy_pct"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


Q25_SQL = """
SELECT ROUND(100.0 * SUM(CASE WHEN p_type = 'ECONOMY'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0.0 END)
             / SUM(l_extendedprice * (1 - l_discount)), 4) AS economy_pct,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= '1996-03-01' AND l_shipdate < '1996-04-01'
"""


def q26_gap_fill_locf(spark, sf_dir):
    """Time-series gap fill: per-user daily value, LOCF-interpolated
    (last observation carried forward) over a per-user date spine — the
    resample idiom sensor/metrics pipelines run before feature
    extraction. Scale notes: the spine is explode(sequence) per user (no
    cross join), the daily aggregate is map-side combinable, and the
    LOCF window is PARTITIONED by user — parallelism = #users, never a
    global order."""
    ev = _t(spark, sf_dir, "events").where(F.col("user_id") < 10)
    spine = (
        ev.select("user_id")
        .distinct()
        .select(
            "user_id",
            F.explode(
                F.sequence(
                    F.to_date(F.lit("2024-01-01")),
                    F.to_date(F.lit("2024-02-04")),
                    F.expr("INTERVAL 1 DAY"),
                )
            ).alias("day"),
        )
    )
    daily = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(F.round(F.avg("value"), 4).alias("v"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return spine.join(daily, ["user_id", "day"], "left").select(
        "user_id",
        "day",
        F.last("v", ignorenulls=True).over(w).alias("v_filled"),
    )


Q26_SQL = """
WITH users AS (SELECT DISTINCT user_id FROM events WHERE user_id < 10),
spine AS (
  SELECT user_id,
         CAST(unnest(generate_series(DATE '2024-01-01', DATE '2024-02-04',
                                     INTERVAL 1 DAY)) AS DATE) AS day
  FROM users
),
daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day, round(avg(value), 4) AS v
  FROM events WHERE user_id < 10 GROUP BY 1, 2
)
SELECT s.user_id, s.day,
       last_value(d.v IGNORE NULLS) OVER (
         PARTITION BY s.user_id ORDER BY s.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
FROM spine s LEFT JOIN daily d USING (user_id, day)
"""


def q27_scd2_history(spark, sf_dir):
    """SCD type-2 dimension build from a change log
    (operators/merge.py:scd2_from_changelog): per-customer order-priority
    history collapsed into [valid_from, valid_to) validity intervals —
    the CDC-to-dimension shape every warehouse as-of joins against. All
    windows PARTITIONED by customer (parallelism = #keys); the island
    aggregate is map-side combinable on (key, run)."""
    from ..operators.merge import scd2_from_changelog

    o = _t(spark, sf_dir, "orders")
    return scd2_from_changelog(
        o.select("o_custkey", "o_orderdate", "o_orderpriority", "o_orderkey"),
        key_col="o_custkey",
        order_col="o_orderdate",
        state_col="o_orderpriority",
        tiebreak_col="o_orderkey",
    )


Q27_SQL = """
WITH ordered AS (
  SELECT o_custkey, o_orderdate, o_orderpriority, o_orderkey,
         CASE WHEN lag(o_orderpriority) OVER w IS NULL
                   OR o_orderpriority <> lag(o_orderpriority) OVER w
              THEN 1 ELSE 0 END AS chg
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
), runs AS (
  SELECT o_custkey, o_orderdate, o_orderpriority,
         SUM(chg) OVER (PARTITION BY o_custkey
                        ORDER BY o_orderdate, o_orderkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
  FROM ordered
), grouped AS (
  SELECT o_custkey, run,
         MIN(o_orderpriority) AS state,
         MIN(o_orderdate) AS valid_from,
         CAST(count(*) AS BIGINT) AS n_changes
  FROM runs GROUP BY 1, 2
)
SELECT o_custkey, state, valid_from,
       lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY run) AS valid_to,
       n_changes
FROM grouped
"""


def q28_fk_orphans(spark, sf_dir):
    """Referential-integrity profile across the schema's FK edges in one
    result: per edge, child row count and orphan count (child keys with
    no parent). The generalization of the reference's FK guard
    (quality.py) to a whole-schema audit. Each edge is one left join +
    one combinable aggregate; small parents broadcast via AQE, big ones
    shuffle on the key — nothing is collected."""
    edges = [
        ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
        ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ]
    parts = []
    for name, child, ck, parent, pk in edges:
        c = _t(spark, sf_dir, child).select(F.col(ck).alias("k"))
        p = (
            _t(spark, sf_dir, parent)
            .select(F.col(pk).alias("k"))
            .distinct()
            .withColumn("_hit", F.lit(1))
        )
        parts.append(
            c.join(p, "k", "left").agg(
                F.lit(name).alias("edge"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.count(F.when(F.col("_hit").isNull(), 1))
                .cast("bigint")
                .alias("n_orphans"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


Q28_SQL = """
SELECT 'lineitem->orders' AS edge, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(CASE WHEN p.k IS NULL THEN 1 END) AS BIGINT) AS n_orphans
FROM lineitem c LEFT JOIN (SELECT DISTINCT o_orderkey AS k FROM orders) p
  ON c.l_orderkey = p.k
UNION ALL
SELECT 'orders->customer', CAST(count(*) AS BIGINT),
       CAST(count(CASE WHEN p.k IS NULL THEN 1 END) AS BIGINT)
FROM orders c LEFT JOIN (SELECT DISTINCT c_custkey AS k FROM customer) p
  ON c.o_custkey = p.k
UNION ALL
SELECT 'customer->nation', CAST(count(*) AS BIGINT),
       CAST(count(CASE WHEN p.k IS NULL THEN 1 END) AS BIGINT)
FROM customer c LEFT JOIN (SELECT DISTINCT n_nationkey AS k FROM nation) p
  ON c.c_nationkey = p.k
UNION ALL
SELECT 'supplier->nation', CAST(count(*) AS BIGINT),
       CAST(count(CASE WHEN p.k IS NULL THEN 1 END) AS BIGINT)
FROM supplier c LEFT JOIN (SELECT DISTINCT n_nationkey AS k FROM nation) p
  ON c.s_nationkey = p.k
UNION ALL
SELECT 'lineitem->part', CAST(count(*) AS BIGINT),
       CAST(count(CASE WHEN p.k IS NULL THEN 1 END) AS BIGINT)
FROM lineitem c LEFT JOIN (SELECT DISTINCT p_partkey AS k FROM part) p
  ON c.l_partkey = p.k
"""


def q29_rate_anomaly(spark, sf_dir):
    """Hourly event-rate anomaly detection: per event type, z-score of
    each hour's count against the type's own hourly mean/stddev —
    the monitoring query behind every ingest-rate alert. Grouped count
    is map-side combinable; the stats window PARTITIONS by type
    (parallelism = #types; each type's hourly series is bounded by the
    time range, not the data)."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w = Window.partitionBy("event_type")
    mu = F.avg("n").over(w)
    sd = F.stddev("n").over(w)
    z = F.when(sd > 0, (F.col("n") - mu) / sd).otherwise(F.lit(0.0))
    return hourly.select(
        "event_type",
        "h",
        "n",
        F.round(z, 4).alias("z"),
        (F.abs(z) > 2.0).alias("is_anomaly"),
    )


Q29_SQL = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), stats AS (
  SELECT event_type, h, n,
         avg(n) OVER (PARTITION BY event_type) AS mu,
         stddev(n) OVER (PARTITION BY event_type) AS sd
  FROM hourly
)
SELECT event_type, h, n,
       round(CASE WHEN sd > 0 THEN (n - mu) / sd ELSE 0.0 END, 4) AS z,
       abs(CASE WHEN sd > 0 THEN (n - mu) / sd ELSE 0.0 END) > 2.0 AS is_anomaly
FROM stats
"""


def q30_cohort_retention(spark, sf_dir):
    """Weekly cohort retention: users grouped by first-activity week,
    counted in each subsequent week they return — the product-analytics
    retention matrix. Two map-side-combinable aggregates + one equi join
    on user_id (AQE-broadcastable cohort side at small SF, plain
    key-shuffle at scale); no windows, no cross join, and the output is
    bounded by weeks², not users."""
    ev = _t(spark, sf_dir, "events")
    weekly = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("week")
    ).distinct()
    cohort = weekly.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        weekly.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff(F.col("week"), F.col("cohort_week")) / 7)
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").cast("bigint").alias("n_users"))
    )


Q30_SQL = """
WITH weekly AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week FROM events
), cohort AS (
  SELECT user_id, MIN(week) AS cohort_week FROM weekly GROUP BY 1
)
SELECT c.cohort_week,
       CAST(date_diff('day', c.cohort_week, w.week) / 7 AS BIGINT) AS week_offset,
       CAST(count(DISTINCT w.user_id) AS BIGINT) AS n_users
FROM weekly w JOIN cohort c USING (user_id)
GROUP BY 1, 2
"""


def q31_unpivot_metrics(spark, sf_dir):
    """Unpivot/melt: per-nation customer metrics computed wide, emitted
    long as (nation, metric, value) via stack() — the inverse of q11's
    pivot and the standard metrics-table feed shape. stack is a
    generator expression (no shuffle beyond the aggregate); the oracle
    uses the portable UNION ALL form."""
    c = _t(spark, sf_dir, "customer")
    wide = c.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("double").alias("n_customers"),
        F.round(F.avg("c_acctbal"), 2).alias("avg_acctbal"),
    )
    return wide.select(
        "c_nationkey",
        F.expr(
            "stack(2, 'n_customers', n_customers, 'avg_acctbal', avg_acctbal) "
            "AS (metric, value)"
        ),
    )


Q31_SQL = """
WITH wide AS (
  SELECT c_nationkey,
         CAST(count(*) AS DOUBLE) AS n_customers,
         round(avg(c_acctbal), 2) AS avg_acctbal
  FROM customer GROUP BY 1
)
SELECT c_nationkey, 'n_customers' AS metric, n_customers AS value FROM wide
UNION ALL
SELECT c_nationkey, 'avg_acctbal' AS metric, avg_acctbal AS value FROM wide
"""


def q19_event_funnel(spark, sf_dir):
    """Ordered event funnel view → click → purchase per user: first view,
    first click strictly after it, first purchase strictly after that;
    per-stage user counts. Scale notes: a chain of conditional-MIN
    aggregates and user-keyed joins — every stage shuffles on user_id, so
    the same partitioning is reused end-to-end and each aggregate is
    map-side combinable; the stage counts come from a union, never a
    cross join of scalar subqueries."""
    ev = _t(spark, sf_dir, "events")
    viewed = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    clicked = (
        ev.where(F.col("event_type") == "click")
        .join(viewed, "user_id")
        .where(F.col("ts") > F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    purchased = (
        ev.where(F.col("event_type") == "purchase")
        .join(clicked, "user_id")
        .where(F.col("ts") > F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    stage = lambda df, name: df.select(F.lit(name).alias("stage"))  # noqa: E731
    return (
        stage(viewed, "1_view")
        .unionAll(stage(clicked, "2_view_click"))
        .unionAll(stage(purchased, "3_full_funnel"))
        .groupBy("stage")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


Q19_SQL = """
WITH viewed AS (
  SELECT user_id, MIN(ts) AS v_ts FROM events
  WHERE event_type = 'view' GROUP BY user_id
), clicked AS (
  SELECT e.user_id, MIN(ts) AS c_ts
  FROM events e JOIN viewed u ON e.user_id = u.user_id
  WHERE event_type = 'click' AND ts > v_ts GROUP BY e.user_id
), purchased AS (
  SELECT e.user_id, MIN(ts) AS p_ts
  FROM events e JOIN clicked c ON e.user_id = c.user_id
  WHERE event_type = 'purchase' AND ts > c_ts GROUP BY e.user_id
), stages AS (
  SELECT '1_view' AS stage FROM viewed
  UNION ALL SELECT '2_view_click' FROM clicked
  UNION ALL SELECT '3_full_funnel' FROM purchased
)
SELECT stage, count(*) AS n_users FROM stages GROUP BY stage
"""


def q17_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape (adapted to the testdata schema): three-way
    fact-to-dim join with filters on every input, grouped revenue, top 10.
    Scale notes: both filters reach the parquet scans (pushed predicates);
    customer is broadcast (small after the segment filter) so only the
    orders⋈lineitem equi-join shuffles; the top-k is
    TakeOrderedAndProject, never a global sort. Tie-broken by l_orderkey
    for determinism."""
    c = _t(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < "1998-01-01")
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > "1998-01-01"
    )
    revenue = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(revenue, 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


Q17_SQL = """
SELECT l_orderkey, o_orderdate,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < '1998-01-01'
  AND l_shipdate  > '1998-01-01'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q18_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape (adapted): six-way join region→nation→customer ⋈
    orders ⋈ lineitem ⋈ supplier with the 'local supplier' constraint
    (customer and supplier share a nation), revenue per nation. Scale
    notes: the dim chain region→nation→customer and supplier are all
    broadcast, so the only shuffles are the orders⋈lineitem equi-join and
    the final per-nation aggregate; Catalyst prunes every unused column
    at the scans."""
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    dims = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    revenue = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(
            F.broadcast(dims),
            (o.o_custkey == dims.c_custkey)
            & (s.s_nationkey == dims.c_nationkey),
        )
        .groupBy("n_name")
        .agg(F.round(revenue, 2).alias("revenue"))
    )


Q18_SQL = """
SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND s_nationkey = c_nationkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
GROUP BY n_name
"""

def q32_event_concurrency(spark, sf_dir):
    """Peak interval-overlap (concurrency) per event type by sweep-line:
    each event occupies [ts, ts + value minutes); emit +1/-1 boundary
    rows, prefix-sum them in boundary order, take the max. This replaces
    the naive O(n²) self-join ("count rows whose interval overlaps
    mine") with sort + running count — at 100 TB the only shuffle is the
    per-type range sort, and the window is PARTITIONED by event_type so
    no single-partition exchange appears. Ties (an end meeting a start
    at the same microsecond) order -1 before +1, so touching intervals
    never count as concurrent; floor() before the bigint cast because
    Spark truncates double→bigint while DuckDB rounds."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("t0"),
        (
            F.unix_micros("ts")
            + F.floor(F.col("value") * F.lit(60_000_000.0)).cast("long")
        ).alias("t1"),
    )
    bounds = ev.select(
        "event_type", F.col("t0").alias("t"), F.lit(1).alias("delta"), "event_id"
    ).unionByName(
        ev.select(
            "event_type", F.col("t1").alias("t"), F.lit(-1).alias("delta"), "event_id"
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("t", "delta", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = bounds.select(
        "event_type", F.sum("delta").over(w).alias("running")
    )
    return running.groupBy("event_type").agg(
        F.max("running").cast("long").alias("peak_concurrency")
    )


Q32_SQL = """
WITH b AS (
  SELECT event_type, epoch_us(ts) AS t, 1 AS delta, event_id FROM events
  UNION ALL
  SELECT event_type,
         epoch_us(ts) + CAST(floor(value * 60000000.0) AS BIGINT),
         -1, event_id
  FROM events
), r AS (
  SELECT event_type,
         SUM(delta) OVER (PARTITION BY event_type
                          ORDER BY t, delta, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS running
  FROM b
)
SELECT event_type, CAST(MAX(running) AS BIGINT) AS peak_concurrency
FROM r GROUP BY event_type
"""


def q33_recursive_hierarchy(spark, sf_dir):
    """Recursive traversal of a synthetic part forest (parent =
    p_partkey // 7, keys < 7 are roots): resolve every node's depth and
    root via semi-naive iteration (operators/hierarchy.py) — the Spark
    answer to WITH RECURSIVE, which the DuckDB oracle states literally.
    One equi-join shuffle per level, O(log n) levels on this forest."""
    from ..operators.hierarchy import iterate_hierarchy

    nodes = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("node"),
        F.when(F.col("p_partkey") >= 7, F.floor(F.col("p_partkey") / 7))
        .cast("long")
        .alias("parent"),
    )
    out = iterate_hierarchy(nodes, key="node", parent="parent")
    return out.select(
        "node", F.col("depth").cast("int").alias("depth"), "root"
    )


Q33_SQL = """
WITH RECURSIVE h AS (
  SELECT p_partkey AS node, 0 AS depth, p_partkey AS root
  FROM part WHERE p_partkey < 7
  UNION ALL
  SELECT p.p_partkey, h.depth + 1, h.root
  FROM part p JOIN h ON p.p_partkey // 7 = h.node AND p.p_partkey >= 7
)
SELECT node, CAST(depth AS INTEGER) AS depth, root FROM h
"""


def q34_waiting_orders(spark, sf_dir):
    """TPC-H Q21 shape (suppliers who kept orders waiting), adapted to
    the testdata columns: for finished orders, count per supplier the
    lineitems returned ('R') where ANOTHER supplier also shipped on the
    order (EXISTS → left-semi self-join) but NO other supplier had a
    return on it (NOT EXISTS → left-anti self-join) — the sole-offender
    pattern. Scale notes: both correlated subqueries become equi-joins
    on l_orderkey (one shuffle key shared with the orders join, so AQE
    can reuse the exchange); the supplier dim broadcasts; top-25 is
    TakeOrderedAndProject with a key tiebreak. Ref query-shape parity:
    /root/reference/etl/app/shift_data_processor.py KPI joins use the
    same FK→PK equi-join form."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    s = _t(spark, sf_dir, "supplier")
    l1 = li.where(F.col("l_returnflag") == "R").alias("l1")
    l2 = li.alias("l2")
    l3 = li.where(F.col("l_returnflag") == "R").alias("l3")
    return (
        l1.join(o, F.col("l1.l_orderkey") == F.col("o_orderkey"))
        .join(
            l2,
            (F.col("l2.l_orderkey") == F.col("l1.l_orderkey"))
            & (F.col("l2.l_suppkey") != F.col("l1.l_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l3.l_orderkey") == F.col("l1.l_orderkey"))
            & (F.col("l3.l_suppkey") != F.col("l1.l_suppkey")),
            "left_anti",
        )
        .join(F.broadcast(s), F.col("l1.l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_suppkey")
        .limit(25)
    )


Q34_SQL = """
SELECT s_suppkey, s_name, COUNT(*) AS numwait
FROM lineitem l1
JOIN orders   ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
JOIN supplier ON s_suppkey = l1.l_suppkey
WHERE l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s_suppkey, s_name
ORDER BY numwait DESC, s_suppkey
LIMIT 25
"""


def q35_inactive_big_balance(spark, sf_dir):
    """TPC-H Q22 shape (global-lost-customers): per market segment, the
    count and total balance of customers whose balance exceeds the
    corpus-wide positive-balance average and who have never placed an
    order. Scale notes: the scalar average is a one-row aggregate
    cross-joined (broadcast) into the filter; the NOT EXISTS is a
    left-anti join shuffled on custkey only (ids, no payload); the final
    group-by is map-side combinable over 5 segments."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select("o_custkey")
    avg_bal = c.where(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("ab")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("ab"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("c_mktsegment")
    )


Q35_SQL = """
SELECT c_mktsegment,
       COUNT(*) AS numcust,
       ROUND(SUM(c_acctbal), 2) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def q36_priority_returns(spark, sf_dir):
    """TPC-H Q4 shape (order-priority checking): orders in a quarter
    with AT LEAST ONE returned lineitem, counted per priority — the
    EXISTS→left-semi decorrelation pattern. Scale notes: the date filter
    reaches the orders scan; the semi join shuffles only orderkey ids
    (the lineitem side is pre-filtered and deduplicated by the semi
    semantics); the 5-row priority aggregate is map-side combinable."""
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-04-01")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q36_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q37_customer_distribution(spark, sf_dir):
    """TPC-H Q13 shape (customer distribution): histogram of customers
    by how many URGENT orders they placed, INCLUDING zero-order
    customers (the left outer join that distinguishes Q13 from a plain
    group-by). Scale notes: two map-side-combinable aggregations; the
    left join shuffles (custkey, orderkey-count) ids only; the final
    histogram is |distinct counts| rows."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_custkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_custkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


Q37_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_custkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority = '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q38_running_distinct(spark, sf_dir):
    """Running DISTINCT count over an ordered stream — a window
    aggregate Spark (and most engines) cannot express directly as
    COUNT(DISTINCT) OVER. Rewritten as the first-occurrence trick:
    mark each (user, event_type)'s first event via row_number, then a
    running SUM of the 0/1 marker — two key-partitioned windows, both
    scalable (parallelism = #users), no collect_set state growth.
    Ties on ts broken by event_id in both engines."""
    ev = _t(spark, sf_dir, "events").where(F.col("user_id") < 20)
    w_first = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.select(
            "user_id",
            "event_id",
            "ts",
            (F.row_number().over(w_first) == 1).cast("int").alias("first_seen"),
        )
        .select(
            "user_id",
            "event_id",
            F.sum("first_seen").over(w_run).alias("distinct_types_so_far"),
        )
        .orderBy("user_id", "event_id")
    )


Q38_SQL = """
WITH marked AS (
  SELECT user_id, event_id, ts,
         CASE WHEN ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts, event_id) = 1
              THEN 1 ELSE 0 END AS first_seen
  FROM events WHERE user_id < 20
)
SELECT user_id, event_id,
       CAST(SUM(first_seen) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS distinct_types_so_far
FROM marked
ORDER BY user_id, event_id
"""


def q39_ordered_listagg(spark, sf_dir):
    """Ordered string aggregation (LISTAGG / string_agg ... ORDER BY):
    per nation, the comma-joined custkeys of its top-3 customers by
    balance — the reporting idiom engines disagree on most. Expressed
    engine-neutrally: rank window → collect_list of (rank, key) structs
    → sort_array → join, so the concat order is deterministic without
    relying on aggregation order guarantees. Scale notes: the window
    partitions by nation; the aggregate carries ≤3 structs per group."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), "c_custkey"
    )
    ranked = c.select(
        "c_nationkey",
        "c_custkey",
        F.row_number().over(w).alias("rnk"),
    ).where(F.col("rnk") <= 3)
    return (
        ranked.groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rnk", "c_custkey"))
                    ),
                    lambda s: s["c_custkey"].cast("string"),
                ),
                ",",
            ).alias("top_custkeys"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("nationkey")
    )


Q39_SQL = """
WITH ranked AS (
  SELECT c_nationkey, c_custkey,
         ROW_NUMBER() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal DESC, c_custkey) AS rnk
  FROM customer
)
SELECT c_nationkey AS nationkey,
       string_agg(CAST(c_custkey AS VARCHAR), ',' ORDER BY rnk) AS top_custkeys,
       COUNT(*) AS n
FROM ranked WHERE rnk <= 3
GROUP BY c_nationkey
ORDER BY nationkey
"""


def q40_robust_anomaly(spark, sf_dir):
    """Robust outlier detection per event_type: median + MAD (median
    absolute deviation) with the 1.4826 normal-consistency constant,
    counting values beyond 3 robust sigmas — the z-score variant that
    survives heavy tails (complements q29's mean/stddev form). Uses
    EXACT interpolating percentile on both engines (Spark `percentile`
    = DuckDB `median`), so the oracle matches bit-for-bit at 4 dp.
    Scale notes: two grouped exact medians = two shuffles on
    event_type; the outlier count joins the G-row stats back broadcast;
    exact median at 100 TB would swap to approx_percentile with a
    documented tolerance — kept exact here for oracle parity."""
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "value", "med", F.abs(F.col("value") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.first("med"), 4).alias("median"),
            F.round(F.first("mad"), 4).alias("mad"),
            F.sum(
                (
                    F.abs(F.col("value") - F.col("med"))
                    > 3 * 1.4826 * F.col("mad")
                ).cast("int")
            ).alias("n_outliers"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


Q40_SQL = """
WITH med AS (
  SELECT event_type, median(value) AS med FROM events GROUP BY 1
),
dev AS (
  SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
  FROM events e JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, median(adev) AS mad FROM dev GROUP BY 1
)
SELECT d.event_type,
       round(MIN(d.med), 4) AS median,
       round(MIN(a.mad), 4) AS mad,
       CAST(SUM(CASE WHEN abs(d.value - d.med) > 3 * 1.4826 * a.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       COUNT(*) AS n
FROM dev d JOIN mad a USING (event_type)
GROUP BY d.event_type
ORDER BY d.event_type
"""


def q41_iso_week_orders(spark, sf_dir):
    """ISO-8601 calendar aggregation: orders per (ISO week-year, ISO
    week) — pinned because engines classically diverge at year
    boundaries (a Jan 1st can belong to week 52/53 of the PREVIOUS ISO
    year). Spark's weekofyear/YEAROFWEEK and DuckDB's week/isoyear are
    both ISO-8601; this query is the cross-engine witness. Scale notes:
    one map-side-combinable aggregate on derived keys; the projection
    folds into the scan."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select(
            F.expr("extract(YEAROFWEEK FROM o_orderdate)").cast("int").alias(
                "iso_year"
            ),
            F.weekofyear("o_orderdate").alias("iso_week"),
        )
        .groupBy("iso_year", "iso_week")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("iso_year", "iso_week")
    )


Q41_SQL = """
SELECT CAST(isoyear(o_orderdate) AS INTEGER) AS iso_year,
       CAST(week(o_orderdate) AS INTEGER) AS iso_week,
       COUNT(*) AS n_orders
FROM orders
GROUP BY 1, 2
ORDER BY 1, 2
"""


def q42_type_cooccurrence(spark, sf_dir):
    """Market-basket first pass: support counts for event-type PAIRS
    co-occurring within a user's history (the A-priori candidate
    generation step), with per-item supports and the pair's lift.
    Scale notes: the self-join runs on the DEDUPLICATED (user, type)
    frame — the pair space is Σ per-user distinct-types², bounded by
    the type vocabulary squared, not events²; supports broadcast into
    the lift projection."""
    ev = _t(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    n_users = ut.select("user_id").distinct().count()
    item = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("sup"))
    a = ut.select("user_id", F.col("event_type").alias("t1"))
    b = ut.select("user_id", F.col("event_type").alias("t2"))
    pairs = (
        a.join(b, "user_id")
        .where(F.col("t1") < F.col("t2"))
        .groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).alias("pair_sup"))
    )
    s1 = item.select(F.col("event_type").alias("t1"), F.col("sup").alias("sup1"))
    s2 = item.select(F.col("event_type").alias("t2"), F.col("sup").alias("sup2"))
    return (
        pairs.join(F.broadcast(s1), "t1")
        .join(F.broadcast(s2), "t2")
        .select(
            "t1",
            "t2",
            "pair_sup",
            "sup1",
            "sup2",
            F.round(
                F.col("pair_sup")
                * n_users
                / (F.col("sup1") * F.col("sup2")),
                6,
            ).alias("lift"),
        )
        .orderBy("t1", "t2")
    )


Q42_SQL = """
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
n AS (SELECT CAST(count(DISTINCT user_id) AS DOUBLE) AS n_users FROM ut),
item AS (SELECT event_type, count(*) AS sup FROM ut GROUP BY 1),
pairs AS (
  SELECT a.event_type AS t1, b.event_type AS t2, count(*) AS pair_sup
  FROM ut a JOIN ut b ON a.user_id = b.user_id
                     AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT t1, t2, pair_sup, s1.sup AS sup1, s2.sup AS sup2,
       round(pair_sup * n.n_users / (s1.sup * s2.sup), 6) AS lift
FROM pairs
JOIN item s1 ON s1.event_type = t1
JOIN item s2 ON s2.event_type = t2
CROSS JOIN n
ORDER BY t1, t2
"""


def q43_event_transitions(spark, sf_dir):
    """First-order Markov transition mining: counts and conditional
    probabilities of event_type → next event_type within each user's
    time-ordered history (the clickstream path-analysis primitive).
    Scale notes: LEAD over the (user, ts) window — parallelism =
    #users; the transition aggregate is map-side combinable over a
    type² key space; row-count ties on ts break by event_id in both
    engines."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.select(
            "user_id",
            F.col("event_type").alias("src"),
            F.lead("event_type", 1).over(w).alias("dst"),
        )
        .where(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n_trans"))
    )
    totals = trans.groupBy("src").agg(F.sum("n_trans").alias("n_src"))
    return (
        trans.join(F.broadcast(totals), "src")
        .select(
            "src",
            "dst",
            "n_trans",
            F.round(F.col("n_trans") / F.col("n_src"), 6).alias("p_next"),
        )
        .orderBy("src", "dst")
    )


Q43_SQL = """
WITH seq AS (
  SELECT user_id, event_type AS src,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS dst
  FROM events
),
trans AS (
  SELECT src, dst, count(*) AS n_trans
  FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2
),
totals AS (SELECT src, SUM(n_trans) AS n_src FROM trans GROUP BY 1)
SELECT t.src, t.dst, t.n_trans,
       round(t.n_trans / CAST(s.n_src AS DOUBLE), 6) AS p_next
FROM trans t JOIN totals s USING (src)
ORDER BY t.src, t.dst
"""


def q44_balance_distribution(spark, sf_dir):
    """Relative standing within a group: percent_rank and cume_dist of
    each top-5 customer's balance inside its market segment (the two
    ranking functions the rest of the window suite doesn't cover).
    Scale notes: one window partitioned by segment; the top-5 filter
    keeps the output G×5 rows; ties on balance break by custkey in the
    ORDER BY so both engines rank identically."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), "c_custkey"
    )
    return (
        c.select(
            "c_mktsegment",
            "c_custkey",
            F.round("c_acctbal", 2).alias("acctbal"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume_dist"),
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") <= 5)
        .drop("rn")
        .orderBy("c_mktsegment", F.desc("acctbal"), "c_custkey")
    )


Q44_SQL = """
WITH ranked AS (
  SELECT c_mktsegment, c_custkey,
         ROUND(c_acctbal, 2) AS acctbal,
         round(PERCENT_RANK() OVER (PARTITION BY c_mktsegment
                                    ORDER BY c_acctbal DESC, c_custkey), 6)
           AS pct_rank,
         round(CUME_DIST() OVER (PARTITION BY c_mktsegment
                                 ORDER BY c_acctbal DESC, c_custkey), 6)
           AS cume_dist,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                            ORDER BY c_acctbal DESC, c_custkey) AS rn
  FROM customer
)
SELECT c_mktsegment, c_custkey, acctbal, pct_rank, cume_dist
FROM ranked WHERE rn <= 5
ORDER BY c_mktsegment, acctbal DESC, c_custkey
"""


def q57_session_attribution(spark, sf_dir):
    """Marketing-style first/last-touch attribution: sessionize each
    user's events (30-min gap, the w7 convention), then credit every
    session to its first and last event_type, with size, value, and
    duration. Extends the reference's gaps-and-islands KPI shape
    (/root/reference/etl/app/shift_data_processor.py:252-266) from
    "longest island" to per-island attribution facts.
    Scale notes: both windows partition by user (parallelism = #users,
    no global ordering); the conditional-aggregate first/last avoids a
    self-join back to the row set; ties on ts break by event_id so both
    engines pick the same touch rows."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_secs = F.col("ts").cast("double")
    prev = F.lag(ts_secs).over(w)
    new_s = F.when(prev.isNull() | (ts_secs - prev > 1800), 1).otherwise(0)
    sess = ev.withColumn("session_id", F.sum(new_s).over(w).cast("long"))
    ws = Window.partitionBy("user_id", "session_id")
    rn_a = F.row_number().over(ws.orderBy("ts", "event_id"))
    rn_d = F.row_number().over(ws.orderBy(F.desc("ts"), F.desc("event_id")))
    flagged = sess.select(
        "user_id", "session_id", "event_type", "value",
        F.col("ts").cast("long").alias("ts_s"),
        rn_a.alias("rn_a"), rn_d.alias("rn_d"),
    )
    return (
        flagged.groupBy("user_id", "session_id")
        .agg(
            F.max(F.when(F.col("rn_a") == 1, F.col("event_type"))).alias("first_touch"),
            F.max(F.when(F.col("rn_d") == 1, F.col("event_type"))).alias("last_touch"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            (F.max("ts_s") - F.min("ts_s")).alias("duration_s"),
        )
        .orderBy("user_id", "session_id")
    )


Q57_SQL = """
WITH flagged AS (
  SELECT user_id, event_id, event_type, value, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR epoch(ts) - epoch(LAG(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS session_id
  FROM flagged
),
ranked AS (
  SELECT user_id, session_id, event_type, value,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
         ROW_NUMBER() OVER (PARTITION BY user_id, session_id ORDER BY ts, event_id) AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY user_id, session_id ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM sessions
)
SELECT user_id, session_id,
       MAX(CASE WHEN rn_a = 1 THEN event_type END) AS first_touch,
       MAX(CASE WHEN rn_d = 1 THEN event_type END) AS last_touch,
       count(*) AS n_events,
       round(SUM(value), 4) AS sum_value,
       MAX(ts_s) - MIN(ts_s) AS duration_s
FROM ranked GROUP BY user_id, session_id
ORDER BY user_id, session_id
"""


def q58_rolling_features(spark, sf_dir):
    """Time-series feature engineering for ML: per-user lag value,
    seconds-since-previous-event, and 3-row rolling mean over the
    ordered event history — the leakage-safe (past-only frame) feature
    block every training pipeline derives before a model sees events.
    Scale notes: single window partitioned by user (no global sort);
    ROWS frame is O(1) memory per row; output is projected to ids +
    rounded features so the shuffle never carries the props JSON."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wr = w.rowsBetween(-2, 0)
    ts_secs = F.col("ts").cast("long")
    return (
        ev.select(
            "user_id",
            "event_id",
            F.round(F.lag("value", 1).over(w), 4).alias("prev_value"),
            (ts_secs - F.lag(ts_secs, 1).over(w)).alias("delta_s"),
            F.round(F.avg("value").over(wr), 4).alias("roll_avg3"),
            F.round(F.min("value").over(wr), 4).alias("roll_min3"),
            F.round(F.max("value").over(wr), 4).alias("roll_max3"),
        )
        .orderBy("user_id", "event_id")
    )


Q58_SQL = """
SELECT user_id, event_id,
       round(LAG(value) OVER w, 4) AS prev_value,
       CAST(floor(epoch(ts)) AS BIGINT)
         - CAST(floor(epoch(LAG(ts) OVER w)) AS BIGINT) AS delta_s,
       round(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS roll_avg3,
       round(MIN(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS roll_min3,
       round(MAX(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS roll_max3
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, event_id
"""


def j9_interval_overlap(spark, sf_dir):
    """Two-sided interval-overlap self-join over variable-length event
    intervals [ts, ts + value*10 s], same user, via
    `joins.interval_overlap_pairs` — bucket-replicated so the join key is
    (user, hour-bucket) and a pair is emitted exactly once in the first
    bucket where both intervals are live (no dedup shuffle, intermediate
    bounded by per-(user, bucket)² instead of per-user²). The oracle is
    the naive quadratic self-join — same pairs, brute-forced."""
    from ..operators.joins import interval_overlap_pairs

    ev = _t(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        "event_id",
        F.col("ts").cast("long").alias("s"),
        (F.col("ts").cast("long") + F.floor(F.col("value") * 10).cast("long")).alias("e"),
    )
    # no trailing orderBy: the driver compare is order-insensitive, and a
    # global sort over the pair output would be a pure-waste range
    # exchange at scale
    return interval_overlap_pairs(
        iv, key="user_id", id_col="event_id", start_col="s", end_col="e",
        bucket_seconds=3600,
    )


J9_SQL = """
WITH iv AS (
  SELECT user_id, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(floor(epoch(ts)) AS BIGINT)
           + CAST(floor(value * 10) AS BIGINT) AS e
  FROM events
)
SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
       least(a.e, b.e) - greatest(a.s, b.s) AS overlap_s
FROM iv a JOIN iv b
  ON a.user_id = b.user_id AND a.event_id < b.event_id
 AND a.s <= b.e AND b.s <= a.e
ORDER BY a.user_id, a_id, b_id
"""


def q59_decayed_value(spark, sf_dir):
    """Recency-weighted user score: exponential time-decay aggregate
    sum(value * exp(-age / 30d)) per user, anchored at the corpus max
    timestamp so the result is deterministic (no CURRENT_DATE
    dependency — the same parameterized-anchor discipline as f2).
    Scale notes: the anchor is a one-row broadcast cross join (one
    extra scalar per row, no second scan at the filter); the decayed
    sum itself is map-side combinable like any plain SUM."""
    ev = _t(spark, sf_dir, "events")
    anchor = ev.agg(F.max(F.col("ts").cast("double")).alias("anchor"))
    decay = F.exp(-(F.col("anchor") - F.col("ts").cast("double")) / 2_592_000.0)
    return (
        ev.crossJoin(F.broadcast(anchor))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("raw_value"),
            F.round(F.sum(F.col("value") * decay), 4).alias("decayed_value"),
        )
        .orderBy("user_id")
    )


Q59_SQL = """
WITH anchor AS (SELECT max(epoch(ts)) AS anchor FROM events)
SELECT user_id,
       count(*) AS n_events,
       round(SUM(value), 4) AS raw_value,
       round(SUM(value * exp(-(anchor - epoch(ts)) / 2592000.0)), 4) AS decayed_value
FROM events, anchor
GROUP BY user_id, anchor
ORDER BY user_id
"""


def q60_numeric_moments(spark, sf_dir):
    """Bivariate statistics sweep over lineitem's numeric columns —
    corr / covar_samp / stddev_samp / regr_slope / regr_intercept in ONE
    map-side-combinable aggregate pass (every statistic is algebraic over
    {n, Σx, Σy, Σxx, Σyy, Σxy}, so the shuffle carries one partial row per
    task — the 100 TB shape for feature-correlation audits before model
    training). Definitions pinned to the sample variants both engines
    share (Spark F.corr == DuckDB corr, covar_samp == covar_samp)."""
    li = _t(spark, sf_dir, "lineitem")
    q, p, d = F.col("l_quantity"), F.col("l_extendedprice"), F.col("l_discount")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.corr(q, p), 6).alias("corr_qty_price"),
        F.round(F.corr(p, d), 6).alias("corr_price_disc"),
        F.round(F.covar_samp(q, p), 4).alias("covar_qty_price"),
        F.round(F.stddev_samp(p), 4).alias("std_price"),
        F.round(F.regr_slope(p, q), 4).alias("slope_price_on_qty"),
        F.round(F.regr_intercept(p, q), 4).alias("intercept_price_on_qty"),
    )


Q60_SQL = """
SELECT count(*) AS n_rows,
       round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
       round(corr(l_extendedprice, l_discount), 6) AS corr_price_disc,
       round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price,
       round(stddev_samp(l_extendedprice), 4) AS std_price,
       round(regr_slope(l_extendedprice, l_quantity), 4) AS slope_price_on_qty,
       round(regr_intercept(l_extendedprice, l_quantity), 4)
           AS intercept_price_on_qty
FROM lineitem
"""


def q61_point_in_time_join(spark, sf_dir):
    """Point-in-time join (operators/asof.py:point_in_time_join): each
    lineitem shipment attributed to the customer's order-priority STATE
    valid at its ship date, against the SCD2 history q27 builds — the
    as-of-reporting consumer of a CDC dimension. Key-equi join with the
    validity interval as a post-filter (j6 discipline); the final rollup
    is map-side combinable."""
    from ..operators.asof import point_in_time_join
    from ..operators.merge import scd2_from_changelog

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    dim = scd2_from_changelog(
        o.select("o_custkey", "o_orderdate", "o_orderpriority", "o_orderkey"),
        key_col="o_custkey",
        order_col="o_orderdate",
        state_col="o_orderpriority",
        tiebreak_col="o_orderkey",
    ).select("o_custkey", "state", "valid_from", "valid_to")
    fact = li.join(
        o.select("o_orderkey", "o_custkey"),
        li.l_orderkey == o.o_orderkey,
    ).select("o_custkey", F.col("l_shipdate").cast("date").alias("ship"), "l_quantity")
    pit = point_in_time_join(fact, dim, "o_custkey", "ship")
    return pit.groupBy("state").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


Q61_SQL = """
WITH ordered AS (
  SELECT o_custkey, o_orderdate, o_orderpriority, o_orderkey,
         CASE WHEN lag(o_orderpriority) OVER w IS NULL
                   OR o_orderpriority <> lag(o_orderpriority) OVER w
              THEN 1 ELSE 0 END AS chg
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
), runs AS (
  SELECT o_custkey, o_orderdate, o_orderpriority,
         SUM(chg) OVER (PARTITION BY o_custkey
                        ORDER BY o_orderdate, o_orderkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
  FROM ordered
), grouped AS (
  SELECT o_custkey, run, MIN(o_orderpriority) AS state,
         MIN(o_orderdate) AS valid_from
  FROM runs GROUP BY 1, 2
), dim AS (
  SELECT o_custkey, state, valid_from,
         lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY run) AS valid_to
  FROM grouped
), fact AS (
  SELECT o.o_custkey, CAST(l.l_shipdate AS DATE) AS ship, l.l_quantity
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT d.state, count(*) AS n_items, round(sum(f.l_quantity), 2) AS sum_qty
FROM fact f JOIN dim d
  ON f.o_custkey = d.o_custkey
 AND f.ship >= d.valid_from
 AND (d.valid_to IS NULL OR f.ship < d.valid_to)
GROUP BY d.state
"""


def q62_variant_shred(spark, sf_dir):
    """Semi-structured VARIANT processing (Spark 4 native binary JSON —
    the engine's answer to schemaless props columns at scale): props is
    parsed ONCE into a VARIANT with parse_json, then shredded with
    variant_get typed-path extraction; try_variant_get on an absent
    path exercises NULL-not-error semantics. At 100 TB this beats
    per-path get_json_object re-parses (q7): one parse feeds all
    extractions, and the binary encoding skips repeated string
    tokenization. Aggregates stay map-side combinable."""
    ev = _t(spark, sf_dir, "events")
    v = F.parse_json("props")
    shredded = ev.select(
        "event_type",
        F.variant_get(v, "$.k", "long").alias("k"),
        F.try_variant_get(v, "$.absent", "long").alias("absent"),
    )
    return shredded.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_if(F.col("k") >= 50).alias("n_high_k"),
        F.max("k").alias("max_k"),
        F.count_if(F.col("absent").isNull()).alias("n_absent"),
    )


Q62_SQL = """
SELECT event_type,
       count(*) AS n_events,
       CAST(count(*) FILTER (CAST(props->>'$.k' AS BIGINT) >= 50) AS BIGINT) AS n_high_k,
       CAST(max(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS max_k,
       CAST(count(*) FILTER (CAST(props->>'$.absent' AS BIGINT) IS NULL) AS BIGINT) AS n_absent
FROM events GROUP BY event_type
"""


RELATIONAL = {
    "s5_scan_pushdown": (s5_scan_pushdown, S5_SQL),
    "t1_explode_tokens": (t1_explode_tokens, T1_SQL),
    "t2_rename_projection": (t2_rename_projection, T2_SQL),
    "t3_array_fold_sum": (t3_array_fold_sum, T3_SQL),
    "t5_epoch_seconds": (t5_epoch_seconds, T5_SQL),
    "f1_predicates": (f1_predicates, F1_SQL),
    "f2_date_range": (f2_date_range, F2_SQL),
    "j1_inner_broadcast": (j1_inner_broadcast, J1_SQL),
    "j2_left_join": (j2_left_join, J2_SQL),
    "j3_semi_join": (j3_semi_join, J3_SQL),
    "j4_anti_join": (j4_anti_join, J4_SQL),
    "j5_cross_join": (j5_cross_join, J5_SQL),
    "j6_range_join": (j6_range_join, J6_SQL),
    "j7_asof_join": (j7_asof_join, J7_SQL),
    "j8_full_outer": (j8_full_outer, J8_SQL),
    "t6_explode_outer": (t6_explode_outer, T6_SQL),
    "a1_global_aggregates": (a1_global_aggregates, A1_SQL),
    "a6_pricing_summary": (a6_pricing_summary, A6_SQL),
    "a7_distinct_agg": (a7_distinct_agg, A7_SQL),
    "a8_rollup": (a8_rollup, A8_SQL),
    "a9_cube": (a9_cube, A9_SQL),
    "a10_grouping_sets": (a10_grouping_sets, A10_SQL),
    "a11_percentiles": (a11_percentiles, A11_SQL),
    "w1_running_sum": (w1_running_sum, W1_SQL),
    "w2_gaps_islands": (w2_gaps_islands, W2_SQL),
    "w3_rank_lag": (w3_rank_lag, W3_SQL),
    "w4_scalable_prefix_sum": (w4_scalable_prefix_sum, W4_SQL),
    "w5_tumbling_window": (w5_tumbling, W5_SQL),
    "w6_sliding_window": (w6_sliding, W6_SQL),
    "w7_session_window": (w7_session, W7_SQL),
    "w8_ntile_first_last": (w8_ntile_first_last, W8_SQL),
    "q1_scalar_subquery": (q1_scalar_subquery, Q1_SQL),
    "q2_topk": (q2_topk, Q2_SQL),
    "q3_set_intersect": (q3_set_intersect, Q3_SQL),
    "q4_set_except": (q4_set_except, Q4_SQL),
    "q5_union_distinct": (q5_union_distinct, Q5_SQL),
    "q6_scalar_functions": (q6_scalar_functions, Q6_SQL),
    "q7_json_extract": (q7_json_extract, Q7_SQL),
    "q8_kpi_union": (q8_kpi_union, Q8_SQL),
    "q9_correlated_subquery": (q9_correlated_subquery, Q9_SQL),
    "q10_in_subquery": (q10_in_subquery, Q10_SQL),
    "q11_pivot": (q11_pivot, Q11_SQL),
    "q12_offset_limit": (q12_offset_limit, Q12_SQL),
    "q13_decimal_exact": (q13_decimal_exact, Q13_SQL),
    "q14_string_functions": (q14_string_functions, Q14_SQL),
    "q15_math_functions": (q15_math_functions, Q15_SQL),
    "q16_date_spine": (q16_date_spine, Q16_SQL),
    "q17_shipping_priority": (q17_shipping_priority, Q17_SQL),
    "q18_local_supplier_volume": (q18_local_supplier_volume, Q18_SQL),
    "q19_event_funnel": (q19_event_funnel, Q19_SQL),
    "q20_idle_rich_customers": (q20_idle_rich_customers, Q20_SQL),
    "q21_latest_per_key": (q21_latest_per_key, Q21_SQL),
    "q22_nation_trade": (q22_nation_trade, Q22_SQL),
    "q23_grouped_topk": (q23_grouped_topk, Q23_SQL),
    "q24_returned_item_customers": (q24_returned_item_customers, Q24_SQL),
    "q25_promo_revenue_share": (q25_promo_revenue_share, Q25_SQL),
    "q26_gap_fill_locf": (q26_gap_fill_locf, Q26_SQL),
    "q27_scd2_history": (q27_scd2_history, Q27_SQL),
    "q28_fk_orphans": (q28_fk_orphans, Q28_SQL),
    "q29_rate_anomaly": (q29_rate_anomaly, Q29_SQL),
    "q30_cohort_retention": (q30_cohort_retention, Q30_SQL),
    "q31_unpivot_metrics": (q31_unpivot_metrics, Q31_SQL),
    "w9_range_interval_frame": (w9_range_interval_frame, W9_SQL),
    "q32_event_concurrency": (q32_event_concurrency, Q32_SQL),
    "q33_recursive_hierarchy": (q33_recursive_hierarchy, Q33_SQL),
    "q34_waiting_orders": (q34_waiting_orders, Q34_SQL),
    "q35_inactive_big_balance": (q35_inactive_big_balance, Q35_SQL),
    "q36_priority_returns": (q36_priority_returns, Q36_SQL),
    "q37_customer_distribution": (q37_customer_distribution, Q37_SQL),
    "q38_running_distinct": (q38_running_distinct, Q38_SQL),
    "q39_ordered_listagg": (q39_ordered_listagg, Q39_SQL),
    "q40_robust_anomaly": (q40_robust_anomaly, Q40_SQL),
    "q41_iso_week_orders": (q41_iso_week_orders, Q41_SQL),
    "q42_type_cooccurrence": (q42_type_cooccurrence, Q42_SQL),
    "q43_event_transitions": (q43_event_transitions, Q43_SQL),
    "q44_balance_distribution": (q44_balance_distribution, Q44_SQL),
    "q57_session_attribution": (q57_session_attribution, Q57_SQL),
    "q58_rolling_features": (q58_rolling_features, Q58_SQL),
    "j9_interval_overlap": (j9_interval_overlap, J9_SQL),
    "q59_decayed_value": (q59_decayed_value, Q59_SQL),
    "q60_numeric_moments": (q60_numeric_moments, Q60_SQL),
    "q61_point_in_time_join": (q61_point_in_time_join, Q61_SQL),
    "q62_variant_shred": (q62_variant_shred, Q62_SQL),
}
