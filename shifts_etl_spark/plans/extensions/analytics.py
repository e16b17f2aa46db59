"""Product/event/commerce analytics over the TPC-H-ish tables: funnels, retention, revenue, sessions, graph."""


from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ...operators import bloom, clustering, countmin, curation, dedup, funnel, heavyhitters, multimodal, profile, simsearch, textstats, theta
from ...operators.profile import profile_table
from ...sources.tables import load_table as _t
from ._shared import (
    _STOP_EN,
    _X19X_DAILY,
    _hex12_int_sql,
)



def x47_pagerank(spark, sf_dir):
    """PageRank (damping 0.85, 5 fixed power iterations) over the
    symmetric customer↔supplier trade graph derived from
    orders⋈lineitem — link analysis for corpus/citation graphs, here
    exercised on the relational testdata. Fixed iterations keep the
    computation expressible as an unrolled CTE chain for the oracle
    (operators/graph.py)."""
    from ...operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
    )
    edges = pairs.union(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return pagerank(edges, damping=0.85, iterations=5, top_k=50)


def _pr_iter_sql(prev: str, cur: str) -> str:
    return f"""
{cur} AS (
  SELECT n.node,
         (1 - 0.85) / any_value(nn.n)
         + 0.85 * COALESCE(SUM(p.r / d.outdeg), 0) AS r
  FROM nodes n
  CROSS JOIN nn
  LEFT JOIN edges e ON e.dst = n.node
  LEFT JOIN {prev} p ON p.node = e.src
  LEFT JOIN deg d ON d.src = e.src
  GROUP BY n.node
)"""


X47_SQL = (
    """
WITH pairs AS (
  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
edges AS (SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
nn AS (SELECT count(*) AS n FROM nodes),
deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
r0 AS (SELECT node, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn),"""
    + ",".join(_pr_iter_sql(f"r{i}", f"r{i + 1}") for i in range(5))
    + """
SELECT node, round(r, 6) AS pagerank
FROM r5 ORDER BY pagerank DESC, node LIMIT 50
"""
)


def x57_triangle_count(spark, sf_dir):
    """Global triangle count (operators/graph.py:triangle_count) over the
    supplier co-occurrence graph (suppliers sharing an order, from
    lineitem's self-join on l_orderkey) — the clustering/community
    density primitive for corpus-similarity and citation graphs.
    Degree-ordered edge orientation bounds wedge generation at O(m^1.5)
    where a hub node would otherwise go quadratic; the oracle is the
    canonical a<b<c triple-join count."""
    from ...operators.graph import triangle_count

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    a = li.withColumnsRenamed({"l_suppkey": "src"})
    b = li.withColumnsRenamed({"l_suppkey": "dst"})
    edges = a.join(b, "l_orderkey").where(F.col("src") < F.col("dst"))
    return triangle_count(edges.select("src", "dst"))


X57_SQL = """
WITH e AS (
  SELECT DISTINCT a.l_suppkey AS a, b.l_suppkey AS b
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
),
nodes AS (
  SELECT count(DISTINCT n) AS n_nodes
  FROM (SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e)
),
edges AS (SELECT count(*) AS n_edges FROM e),
tris AS (
  SELECT count(*) AS n_triangles
  FROM e e1
  JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
)
SELECT n_nodes, n_edges, n_triangles FROM nodes, edges, tris
"""


def x62_incremental_rollup(spark, sf_dir):
    """Incremental rollup maintenance (operators/incremental.py): the
    events KPI rollup built by folding three deterministic sub-batches
    through the partial-aggregate state — O(batch) per update instead of
    O(history), with the fold provably equal to the one-shot aggregate
    (this oracle row IS that proof: DuckDB computes the direct GROUP BY).
    All measures algebraic; each merge shuffles |keys| state rows only."""
    from ...operators import incremental as inc

    measures = {
        "n_events": ("count", "*"),
        "sum_value": ("sum", "value"),
        "min_value": ("min", "value"),
        "max_value": ("max", "value"),
        "avg_value": ("avg", "value"),
    }
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.to_date("ts").alias("day"),
        "value",
        F.pmod(F.col("event_id"), F.lit(3)).alias("_b"),
    )
    state = None
    for b in range(3):
        batch = ev.where(F.col("_b") == b).drop("_b")
        partials = inc.aggregate_partials(batch, ["event_type", "day"], measures)
        state = inc.merge_state(state, partials, ["event_type", "day"], measures)
    out = inc.render(state, measures)
    # avg from the ROUNDED sum (both engines divide bit-identical inputs —
    # raw-sum division straddled a .5 rounding boundary at sf0.01)
    return out.select(
        "event_type",
        "day",
        "n_events",
        F.round("sum_value", 4).alias("sum_value"),
        F.round("min_value", 4).alias("min_value"),
        F.round("max_value", 4).alias("max_value"),
        F.round(F.round("sum_value", 4) / F.col("n_events"), 4).alias("avg_value"),
    )


X62_SQL = """
SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_events,
       round(sum(value), 4) AS sum_value,
       round(min(value), 4) AS min_value,
       round(max(value), 4) AS max_value,
       round(round(sum(value), 4) / count(*), 4) AS avg_value
FROM events GROUP BY event_type, CAST(ts AS DATE)
"""


def x65_event_trigrams(spark, sf_dir):
    """Sequential pattern mining, order 3: per-user event-type trigram
    counts (the length-3 extension of q43's Markov transitions —
    clickstream path mining for funnel design). Two leads inside ONE
    per-user window (partition = user_id, total-ordered by ts,event_id),
    so parallelism is #users and the shuffle carries (user, type, ts)
    only; the trigram rollup is map-side combinable. min_count prunes the
    long tail before it shuffles."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = ev.select(
        F.col("event_type").alias("step1"),
        F.lead("event_type", 1).over(w).alias("step2"),
        F.lead("event_type", 2).over(w).alias("step3"),
    ).where(F.col("step3").isNotNull())
    return (
        tri.groupBy("step1", "step2", "step3")
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .where(F.col("n_paths") >= 10)
    )


X65_SQL = """
WITH tri AS (
  SELECT event_type AS step1,
         lead(event_type, 1) OVER w AS step2,
         lead(event_type, 2) OVER w AS step3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT step1, step2, step3, count(*) AS n_paths
FROM tri WHERE step3 IS NOT NULL
GROUP BY step1, step2, step3
HAVING count(*) >= 10
"""


_X80_BUCKET = (
    "(ascii(substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) * 256"
    " + ascii(substring(md5(CAST(o_orderkey AS VARCHAR)), 2, 1))) % 100"
)


def _x80_snapshots(spark, sf_dir):
    """Two deterministic overlapping snapshots of orders: old = md5
    buckets [0, 60), new = buckets [40, 100) with a planted mutation
    (custkey + 1 on every 7th orderkey) so all three diff statuses
    fire."""
    from ...plans import extensions as _self  # noqa: F401  (doc anchor)

    o = _t(spark, sf_dir, "orders")
    hx = F.md5(F.col("o_orderkey").cast("string"))
    bucket = (
        F.ascii(F.substring(hx, 1, 1)) * 256 + F.ascii(F.substring(hx, 2, 1))
    ) % 100
    base = o.select(
        "o_orderkey", bucket.alias("_b"), "o_custkey", "o_orderstatus",
        "o_orderpriority",
    )
    old = base.where(F.col("_b") < 60).drop("_b")
    new = (
        base.where(F.col("_b") >= 40)
        .drop("_b")
        .withColumn(
            "o_custkey",
            F.when(
                F.col("o_orderkey") % 7 == 0, F.col("o_custkey") + 1
            ).otherwise(F.col("o_custkey")),
        )
    )
    return old, new


def x80_snapshot_diff(spark, sf_dir):
    """CDC-style snapshot reconciliation (reconcile.snapshot_diff): per-PK
    added/removed/changed between two deterministic md5-bucket snapshots
    of orders (a planted +1-custkey mutation on every 7th key makes
    'changed' fire). One PK hash join; wide rows never shuffle — only
    (pk, 48-bit md5 fingerprint) pairs; output is sized by the CHANGE
    volume, not the table."""
    from ...operators.reconcile import snapshot_diff

    old, new = _x80_snapshots(spark, sf_dir)
    return snapshot_diff(
        old, new, ["o_orderkey"],
        ["o_custkey", "o_orderstatus", "o_orderpriority"],
    )


_X80_FP = _hex12_int_sql("hx")

X80_SQL = f"""
WITH b AS (
  SELECT o_orderkey, {_X80_BUCKET} AS bucket,
         o_custkey, o_orderstatus, o_orderpriority
  FROM orders
),
old AS (SELECT * FROM b WHERE bucket < 60),
neu AS (
  SELECT o_orderkey, o_orderstatus, o_orderpriority,
         CASE WHEN o_orderkey % 7 = 0 THEN o_custkey + 1
              ELSE o_custkey END AS o_custkey
  FROM b WHERE bucket >= 40
),
ofp AS (
  SELECT o_orderkey, {_X80_FP} AS fp FROM (
    SELECT o_orderkey,
           md5(concat_ws(chr(31), CAST(o_custkey AS VARCHAR),
                         CAST(o_orderstatus AS VARCHAR),
                         CAST(o_orderpriority AS VARCHAR)) || '#row') AS hx
    FROM old)
),
nfp AS (
  SELECT o_orderkey, {_X80_FP} AS fp FROM (
    SELECT o_orderkey,
           md5(concat_ws(chr(31), CAST(o_custkey AS VARCHAR),
                         CAST(o_orderstatus AS VARCHAR),
                         CAST(o_orderpriority AS VARCHAR)) || '#row') AS hx
    FROM neu)
)
SELECT o_orderkey,
       CASE WHEN o.fp IS NULL THEN 'added'
            WHEN n.fp IS NULL THEN 'removed'
            WHEN o.fp <> n.fp THEN 'changed' END AS status
FROM ofp o FULL OUTER JOIN nfp n USING (o_orderkey)
WHERE o.fp IS NULL OR n.fp IS NULL OR o.fp <> n.fp
"""


def x81_table_checksum(spark, sf_dir):
    """Order/partition-independent table checksum
    (reconcile.table_checksum) over orders' engine-stable columns: exact
    row count + BIT_XOR of per-row 48-bit md5 folds — the 16-byte
    cross-system content-equality probe. One scan, map-side combinable,
    1-row result."""
    from ...operators.reconcile import table_checksum

    return table_checksum(
        _t(spark, sf_dir, "orders"),
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
    )


X81_SQL = f"""
WITH fp AS (
  SELECT {_X80_FP} AS fp FROM (
    SELECT md5(concat_ws(chr(31), CAST(o_orderkey AS VARCHAR),
                         CAST(o_custkey AS VARCHAR),
                         CAST(o_orderstatus AS VARCHAR),
                         CAST(o_orderpriority AS VARCHAR)) || '#row') AS hx
    FROM orders)
)
SELECT count(*) AS n_rows, bit_xor(fp) AS checksum FROM fp
"""


def x101_retention_sweep(spark, sf_dir):
    """Quality-filter tuning curve (curation.retention_sweep): per
    (threshold, source), documents and tokens surviving quality_score >=
    t — the sweep run before committing to a cutoff. The corpus
    collapses to the 16-point (source, quality) lattice first; the
    threshold grid explodes over cells, never documents."""
    return curation.retention_sweep(_t(spark, sf_dir, "documents"))


X101_SQL = rf"""
WITH base AS (
  SELECT source, text,
         list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS toks
  FROM documents
),
qual AS (
  SELECT source, nt,
         CAST(round(CASE WHEN nt BETWEEN 10 AND 10000 THEN 0.4 ELSE 0 END
             + CASE WHEN mtl BETWEEN 3.0 AND 10.0 THEN 0.3 ELSE 0 END
             + CASE WHEN swr >= 0.01 THEN 0.2 ELSE 0 END
             + CASE WHEN digr <= 0.2 THEN 0.1 ELSE 0 END, 4) AS DOUBLE) AS q
  FROM (
    SELECT source,
           len(toks) AS nt,
           CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum') AS DOUBLE)
             / greatest(len(toks), 1) AS mtl,
           CAST(len(list_filter(list_transform(toks, t -> lower(t)),
                    t -> list_contains({_STOP_EN}, t))) AS DOUBLE)
             / greatest(len(toks), 1) AS swr,
           CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
             / greatest(length(text), 1) AS digr
    FROM base
  )
),
cells AS (
  SELECT source, q, count(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens
  FROM qual GROUP BY 1, 2
),
grid AS (
  SELECT c.*, t.threshold
  FROM cells c CROSS JOIN
       (SELECT CAST(unnest([0.0, 0.3, 0.5, 0.7, 0.8, 1.0]) AS DOUBLE) AS threshold) t
)
SELECT threshold, source,
       CAST(SUM(CASE WHEN q >= threshold THEN n_docs ELSE 0 END) AS BIGINT) AS docs_kept,
       CAST(SUM(CASE WHEN q >= threshold THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept,
       round(CAST(SUM(CASE WHEN q >= threshold THEN n_docs ELSE 0 END) AS DOUBLE)
             / SUM(n_docs), 6) AS doc_retention,
       round(CAST(SUM(CASE WHEN q >= threshold THEN n_tokens ELSE 0 END) AS DOUBLE)
             / SUM(n_tokens), 6) AS token_retention
FROM grid GROUP BY 1, 2
"""


def x107_cohort_retention(spark, sf_dir):
    """Weekly cohort retention matrix (funnel.cohort_retention): users
    cohorted by the ISO week of their first event; per (cohort_week,
    week_offset), active members and the retained fraction. First-event
    times from a per-user window min (one keyed shuffle); the matrix is
    a distinct over (date, long, long) rows — events never shuffle
    twice."""
    return funnel.cohort_retention(_t(spark, sf_dir, "events"))


X107_SQL = """
WITH cohorted AS (
  SELECT user_id,
         CAST(date_trunc('week', ts) AS DATE) AS event_week,
         CAST(date_trunc('week', MIN(ts) OVER (PARTITION BY user_id)) AS DATE)
           AS cohort_week
  FROM events
),
active AS (
  SELECT DISTINCT cohort_week,
         CAST(date_diff('day', cohort_week, event_week) / 7 AS BIGINT)
           AS week_offset,
         user_id
  FROM cohorted
),
counts AS (
  SELECT cohort_week, week_offset, CAST(count(*) AS BIGINT) AS n_active
  FROM active GROUP BY 1, 2
),
sizes AS (
  SELECT cohort_week, n_active AS cohort_size FROM counts WHERE week_offset = 0
)
SELECT c.cohort_week, c.week_offset, c.n_active, s.cohort_size,
       round(CAST(c.n_active AS DOUBLE) / s.cohort_size, 6) AS retention
FROM counts c JOIN sizes s USING (cohort_week)
"""


def x108_funnel_conversion(spark, sf_dir):
    """Ordered funnel (funnel.funnel_conversion): view -> click ->
    purchase, each step reached only by an event strictly after the
    user's previous-step reach time (earliest valid time kept). One
    filtered scan + keyed hash join per step; conversions computed on
    the 3-row summary."""
    return funnel.funnel_conversion(_t(spark, sf_dir, "events"))


X108_SQL = """
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t FROM events
  WHERE event_type = 'view' GROUP BY 1
),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t
  GROUP BY 1
),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t
  GROUP BY 1
),
summary AS (
  SELECT 1 AS step_idx, 'view' AS step, CAST(count(*) AS BIGINT) AS n_users FROM s1
  UNION ALL
  SELECT 2, 'click', CAST(count(*) AS BIGINT) FROM s2
  UNION ALL
  SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM s3
)
SELECT step_idx, step, n_users,
       round(CAST(n_users AS DOUBLE)
             / first_value(n_users) OVER (ORDER BY step_idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 6)
         AS conv_from_top,
       round(CAST(n_users AS DOUBLE)
             / COALESCE(lag(n_users) OVER (ORDER BY step_idx), n_users), 6)
         AS conv_from_prev
FROM summary
"""


def x109_rfm_segments(spark, sf_dir):
    """RFM segmentation rollup (funnel.rfm_segments): quartile-score
    every user on recency/frequency/monetary against corpus boundaries
    (one 1-row exact-percentile aggregate broadcast back — no global
    sort, no single-partition ntile), then roll up the <= 64 (r, f, m)
    segments."""
    return funnel.rfm_segments(_t(spark, sf_dir, "events"))


X109_SQL = """
WITH per_user AS (
  SELECT user_id, MAX(ts) AS last_ts, CAST(count(*) AS BIGINT) AS frequency,
         round(SUM(value), 4) AS monetary
  FROM events GROUP BY 1
),
gl AS (
  SELECT MAX(last_ts) AS now_ts,
         quantile_cont(frequency, [0.25, 0.5, 0.75]) AS f_q,
         quantile_cont(monetary, [0.25, 0.5, 0.75]) AS m_q
  FROM per_user
),
scored0 AS (
  SELECT user_id, frequency, monetary,
         date_diff('day', CAST(last_ts AS DATE), CAST(now_ts AS DATE))
           AS recency_days,
         f_q, m_q
  FROM per_user CROSS JOIN gl
),
rq AS (
  SELECT quantile_cont(CAST(recency_days AS DOUBLE), [0.25, 0.5, 0.75]) AS r_q
  FROM scored0
),
scored AS (
  SELECT frequency, monetary,
         5 - (CASE WHEN recency_days <= round(r_q[1], 6) THEN 1
                   WHEN recency_days <= round(r_q[2], 6) THEN 2
                   WHEN recency_days <= round(r_q[3], 6) THEN 3
                   ELSE 4 END) AS r_score,
         CASE WHEN frequency <= round(f_q[1], 6) THEN 1
              WHEN frequency <= round(f_q[2], 6) THEN 2
              WHEN frequency <= round(f_q[3], 6) THEN 3
              ELSE 4 END AS f_score,
         CASE WHEN monetary <= round(m_q[1], 6) THEN 1
              WHEN monetary <= round(m_q[2], 6) THEN 2
              WHEN monetary <= round(m_q[3], 6) THEN 3
              ELSE 4 END AS m_score
  FROM scored0 CROSS JOIN rq
)
SELECT r_score, f_score, m_score,
       CAST(count(*) AS BIGINT) AS n_users,
       round(avg(frequency), 6) AS avg_frequency,
       round(avg(monetary), 6) AS avg_monetary
FROM scored GROUP BY 1, 2, 3
"""


def x110_type_cooccurrence(spark, sf_dir):
    """Market-basket lift between event types
    (funnel.type_cooccurrence_lift): per unordered type pair, users
    exhibiting both, support, confidence, lift over independence. The
    corpus collapses to distinct (user, type) first; the pair self-join
    is co-partitioned on user with C(|types|, 2) per-user fan-out."""
    return funnel.type_cooccurrence_lift(_t(spark, sf_dir, "events"))


X110_SQL = """
WITH utypes AS (SELECT DISTINCT user_id, event_type AS etype FROM events),
tot AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n FROM utypes),
marg AS (
  SELECT etype, CAST(count(*) AS BIGINT) AS n_type FROM utypes GROUP BY 1
),
pairs AS (
  SELECT a.etype AS type_a, b.etype AS type_b,
         CAST(count(*) AS BIGINT) AS n_both
  FROM utypes a JOIN utypes b
    ON a.user_id = b.user_id AND a.etype < b.etype
  GROUP BY 1, 2
)
SELECT type_a, type_b, n_both,
       round(CAST(n_both AS DOUBLE) / t.n, 6) AS support,
       round(CAST(n_both AS DOUBLE) / ma.n_type, 6) AS confidence,
       round(CAST(n_both AS DOUBLE) * t.n
             / (CAST(ma.n_type AS DOUBLE) * mb.n_type), 6) AS lift
FROM pairs
JOIN marg ma ON ma.etype = type_a
JOIN marg mb ON mb.etype = type_b
CROSS JOIN tot t
"""


def x111_session_paths(spark, sf_dir):
    """Top session paths (funnel.session_top_paths): 30-min gap
    sessionization (gaps-and-islands on the per-user window), sessions
    rendered as ordered '>'-joined type strings, top-20 by count with
    (count desc, path asc) tiebreak via TakeOrdered — never a global
    sort."""
    return funnel.session_top_paths(_t(spark, sf_dir, "events"))


X111_SQL = """
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         date_diff('second',
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                   ts) AS gap
  FROM events
),
sess AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(CASE WHEN gap > 1800 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_no
  FROM ordered
),
paths AS (
  SELECT string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM sess GROUP BY user_id, session_no
)
SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
FROM paths GROUP BY 1
ORDER BY n_sessions DESC, path
LIMIT 20
"""


def x112_interarrival_profile(spark, sf_dir):
    """Per-type cadence profile (funnel.interarrival_profile):
    power-of-2-second inter-arrival buckets attributed to the latter
    event's type — burst-vs-slow-cycle separation, the bot/replay
    detection input. Exact integer bucket compares (no float log), one
    keyed lag window, |types| x 18 cells."""
    return funnel.interarrival_profile(_t(spark, sf_dir, "events"))


_X112_CASE = "CASE WHEN gap_s <= 1 THEN 0\n" + "\n".join(
    f"              WHEN gap_s <= {1 << k} THEN {k}" for k in range(1, 17)
) + "\n              ELSE 17 END"

X112_SQL = f"""
WITH gaps AS (
  SELECT event_type,
         date_diff('second',
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                   ts) AS gap_s
  FROM events
),
cells AS (
  SELECT event_type,
         {_X112_CASE} AS gap_bucket,
         CAST(count(*) AS BIGINT) AS n_gaps
  FROM gaps WHERE gap_s IS NOT NULL
  GROUP BY 1, 2
),
tot AS (
  SELECT event_type, CAST(SUM(n_gaps) AS BIGINT) AS n_type
  FROM cells GROUP BY 1
)
SELECT c.event_type, c.gap_bucket, c.n_gaps,
       round(CAST(c.n_gaps AS DOUBLE) / t.n_type, 6) AS share
FROM cells c JOIN tot t USING (event_type)
"""


def x116_hourly_bursts(spark, sf_dir):
    """Hourly burst monitor (funnel.hourly_bursts): (event_type, hour)
    cells z-scored against the type's mean/stddev hourly rate over
    observed hours, flagged at z >= 3 — the volume-anomaly check run
    before trusting volume-sensitive stats. Events collapse to cells in
    one aggregate; per-type moments broadcast back."""
    return funnel.hourly_bursts(_t(spark, sf_dir, "events"))


X116_SQL = """
WITH cells AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type, avg(n_events) AS mean_n, stddev_pop(n_events) AS sd_n
  FROM cells GROUP BY 1
)
SELECT c.event_type, c.hour, c.n_events,
       round(s.mean_n, 6) AS mean_hourly,
       CASE WHEN s.sd_n > 0
            THEN round((c.n_events - s.mean_n) / s.sd_n, 6)
            ELSE 0.0 END AS z_score,
       (CASE WHEN s.sd_n > 0
             THEN round((c.n_events - s.mean_n) / s.sd_n, 6)
             ELSE 0.0 END) >= 3.0 AS is_burst
FROM cells c JOIN stats s USING (event_type)
"""


def x117_order_total_audit(spark, sf_dir):
    """Denormalization-consistency audit (reconcile.order_total_audit):
    recompute each order's total from its line items and band the
    relative error vs the stored o_totalprice — the post-load
    referential check. Orderkey-keyed recompute + co-partitioned join;
    the rollup lands on 5 band cells."""
    from ...operators.reconcile import order_total_audit

    return order_total_audit(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )


X117_SQL = """
WITH li AS (
  SELECT l_orderkey AS o_orderkey,
         round(SUM(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 2)
           AS li_total
  FROM lineitem GROUP BY 1
),
joined AS (
  SELECT round(abs(li.li_total - o.o_totalprice) / o.o_totalprice, 6)
           AS rel_err
  FROM orders o JOIN li USING (o_orderkey)
),
banded AS (
  SELECT rel_err,
         CASE WHEN rel_err <= 0.0 THEN 0
              WHEN rel_err <= 0.0001 THEN 1
              WHEN rel_err <= 0.01 THEN 2
              WHEN rel_err <= 0.05 THEN 3
              ELSE 4 END AS err_band
  FROM joined
),
agg AS (
  SELECT err_band, CAST(count(*) AS BIGINT) AS n_orders,
         round(MIN(rel_err), 6) AS min_rel_err,
         round(MAX(rel_err), 6) AS max_rel_err
  FROM banded GROUP BY 1
),
tot AS (SELECT CAST(SUM(n_orders) AS BIGINT) AS n_total FROM agg)
SELECT err_band, n_orders,
       round(CAST(n_orders AS DOUBLE) / t.n_total, 6) AS share,
       min_rel_err, max_rel_err
FROM agg CROSS JOIN tot t
"""


def x118_scd2_intervals(spark, sf_dir):
    """Type-2 SCD history from the event log (merge.scd2_intervals):
    per-user consecutive runs of the props.k attribute collapsed into
    [valid_from, valid_to) intervals, valid_to NULL on the current row.
    One keyed shuffle drives the lag/cumsum/lead windows."""
    from ...operators.merge import scd2_intervals

    return scd2_intervals(_t(spark, sf_dir, "events"))


X118_SQL = """
WITH marked AS (
  SELECT user_id, ts, event_id,
         CAST(props->>'$.k' AS INTEGER) AS attr,
         CASE WHEN lag(CAST(props->>'$.k' AS INTEGER))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   IS NOT DISTINCT FROM CAST(props->>'$.k' AS INTEGER)
              THEN 0 ELSE 1 END AS is_change
  FROM events
),
runs AS (
  SELECT user_id, ts, attr,
         SUM(is_change) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS run_id
  FROM marked
),
intervals AS (
  SELECT user_id, run_id, MIN(ts) AS valid_from, MIN(attr) AS attr,
         CAST(count(*) AS BIGINT) AS n_events
  FROM runs GROUP BY 1, 2
)
SELECT user_id, attr, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY run_id)
         AS valid_to,
       n_events
FROM intervals
"""


def x119_user_concentration(spark, sf_dir):
    """Traffic-concentration audit (funnel.user_concentration): HHI over
    user event shares + top-10 user share — the hot-key early warning
    for per-user keyed operators. Closed-form 1-row aggregate (no global
    rank); top-k via TakeOrdered with a tie-invariant sum."""
    return funnel.user_concentration(_t(spark, sf_dir, "events"))


X119_SQL = """
WITH per_user AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_u FROM events GROUP BY 1
),
totals AS (
  SELECT CAST(count(*) AS BIGINT) AS n_users,
         CAST(SUM(n_u) AS BIGINT) AS n_events,
         SUM(CAST(n_u AS DOUBLE) * n_u) AS sum_sq
  FROM per_user
),
top AS (
  SELECT CAST(SUM(n_u) AS BIGINT) AS top_events FROM (
    SELECT n_u FROM per_user ORDER BY n_u DESC, user_id LIMIT 10
  )
)
SELECT n_users, n_events,
       round(sum_sq / (CAST(n_events AS DOUBLE) * n_events), 6) AS hhi,
       round(CAST(top_events AS DOUBLE) / n_events, 6) AS top10_share
FROM totals CROSS JOIN top
"""


def x120_brand_discount_corr(spark, sf_dir):
    """Pricing-behavior scan (profile.grouped_correlation): per-brand
    Pearson correlation between line discount and quantity, in closed
    form from the five moment sums (identical expression tree in both
    engines; zero-variance groups NULL). Part broadcasts onto the
    lineitem scan; the shuffle carries |brands| x 6 doubles."""
    return profile.grouped_correlation(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "part"),
        group_col="p_brand",
        x_col="l_discount",
        y_col="l_quantity",
        join_keys=("l_partkey", "p_partkey"),
    )


X120_SQL = """
WITH joined AS (
  SELECT p.p_brand,
         CAST(l.l_discount AS DOUBLE) AS x,
         CAST(l.l_quantity AS DOUBLE) AS y
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
agg AS (
  SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
  FROM joined GROUP BY 1
)
SELECT p_brand, n,
       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
            THEN round((n * sxy - sx * sy)
                       / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)),
                       6)
       END AS pearson_r
FROM agg
"""


def x122_acquisition_mix(spark, sf_dir):
    """New-vs-returning customer mix by order month
    (funnel.acquisition_mix): per month, orders, distinct customers,
    first-ever-month customers, and the new share — the acquisition
    decomposition complementing x107's retention matrix."""
    return funnel.acquisition_mix(_t(spark, sf_dir, "orders"))


X122_SQL = """
WITH base AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         o_custkey AS custkey,
         CAST(date_trunc('month',
              MIN(o_orderdate) OVER (PARTITION BY o_custkey)) AS DATE)
           AS first_month
  FROM orders
)
SELECT month,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(DISTINCT custkey) AS BIGINT) AS n_customers,
       CAST(count(DISTINCT CASE WHEN month = first_month THEN custkey END)
            AS BIGINT) AS n_new_customers,
       round(CAST(count(DISTINCT CASE WHEN month = first_month THEN custkey END)
                  AS DOUBLE)
             / count(DISTINCT custkey), 6) AS new_customer_share
FROM base GROUP BY 1
"""


def x125_revenue_moving_avg(spark, sf_dir):
    """Daily revenue 7-day moving average + deviation
    (windows.revenue_moving_average): integer-cents frame sums (exact
    sliding arithmetic — no float pane drift), calendar-bounded window.
    The x124 determinism lesson applied to time series."""
    from ...operators.windows import revenue_moving_average

    return revenue_moving_average(_t(spark, sf_dir, "orders"))


X125_SQL = """
WITH daily AS (
  SELECT o_orderdate AS day,
         CAST(round(SUM(o_totalprice) * 100, 0) AS BIGINT) AS rev_cents
  FROM orders GROUP BY 1
),
framed AS (
  SELECT day, rev_cents,
         SUM(rev_cents) OVER (ORDER BY day
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS sum_c,
         CAST(count(*) OVER (ORDER BY day
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
           AS n_in_window
  FROM daily
)
SELECT day,
       round(rev_cents / 100.0, 2) AS revenue,
       n_in_window,
       round((CAST(sum_c AS DOUBLE) / n_in_window) / 100.0, 4) AS moving_avg,
       round(rev_cents / (CAST(sum_c AS DOUBLE) / n_in_window) - 1.0, 6)
         AS deviation
FROM framed
"""


def x126_ship_latency_sla(spark, sf_dir):
    """Fulfilment-latency SLA by return flag (profile.ship_latency_sla):
    integer day lags -> exact mean and interpolated p50/p90 that match
    across engines bit-for-bit; orderkey-keyed join."""
    return profile.ship_latency_sla(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )


X126_SQL = """
WITH days AS (
  SELECT l.l_returnflag AS returnflag,
         CAST(date_diff('day', o.o_orderdate, l.l_shipdate) AS DOUBLE) AS d
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT returnflag,
       CAST(count(*) AS BIGINT) AS n_lineitems,
       round(avg(d), 4) AS mean_days,
       round(quantile_cont(d, 0.5), 4) AS p50_days,
       round(quantile_cont(d, 0.9), 4) AS p90_days,
       CAST(MAX(d) AS BIGINT) AS max_days
FROM days GROUP BY 1
"""


def x127_nation_clv(spark, sf_dir):
    """CLV geography rollup (profile.nation_clv): per nation, customer
    count, mean/median CLV, and top-decile revenue share — integer-cents
    quantization (the x124/x125 convention) keeps percentile boundaries
    and share sums exact in both engines."""
    return profile.nation_clv(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "nation"),
    )


X127_SQL = """
WITH clv AS (
  SELECT o_custkey AS c_custkey,
         CAST(round(SUM(o_totalprice) * 100, 0) AS BIGINT) AS clv_cents
  FROM orders GROUP BY 1
),
per_cust AS (
  SELECT n.n_name AS nation, clv.clv_cents
  FROM clv
  JOIN customer c ON clv.c_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
),
bounds AS (
  SELECT nation, quantile_cont(CAST(clv_cents AS DOUBLE), 0.9) AS p90
  FROM per_cust GROUP BY 1
)
SELECT p.nation,
       CAST(count(*) AS BIGINT) AS n_customers,
       round(CAST(SUM(clv_cents) AS DOUBLE) / count(*) / 100.0, 4)
         AS mean_clv,
       round(quantile_cont(CAST(clv_cents AS DOUBLE), 0.5) / 100.0, 4)
         AS median_clv,
       round(CAST(SUM(CASE WHEN clv_cents >= b.p90 THEN clv_cents ELSE 0 END)
                  AS DOUBLE)
             / SUM(clv_cents), 6) AS top_decile_share
FROM per_cust p JOIN bounds b USING (nation)
GROUP BY 1
"""


def x128_transition_matrix(spark, sf_dir):
    """Event-type Markov transition matrix (funnel.transition_matrix):
    per consecutive (prev, next) pair within user histories, the count,
    P(next|prev), marginal P(next), and lift — one keyed lag window,
    |types|^2 cells, broadcast totals."""
    return funnel.transition_matrix(_t(spark, sf_dir, "events"))


X128_SQL = """
WITH seq AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type,
         event_type AS next_type
  FROM events
),
trans AS (
  SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n_trans
  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
),
ft AS (SELECT prev_type, CAST(SUM(n_trans) AS BIGINT) AS n_from
       FROM trans GROUP BY 1),
tt AS (SELECT next_type, CAST(SUM(n_trans) AS BIGINT) AS n_to
       FROM trans GROUP BY 1),
g AS (SELECT CAST(SUM(n_trans) AS DOUBLE) AS n_all FROM trans)
SELECT t.prev_type, t.next_type, t.n_trans,
       round(CAST(t.n_trans AS DOUBLE) / ft.n_from, 6) AS p_next_given_prev,
       round(tt.n_to / g.n_all, 6) AS p_next,
       round((CAST(t.n_trans AS DOUBLE) / ft.n_from)
             / (tt.n_to / g.n_all), 6) AS lift
FROM trans t
JOIN ft USING (prev_type)
JOIN tt USING (next_type)
CROSS JOIN g
"""


def x133_rate_anomalies(spark, sf_dir):
    """Bot/replay-abuse audit (funnel.rate_anomalies): top-20 users by
    peak events-per-minute with volume context — two keyed cell
    aggregates + TakeOrdered, no global sort."""
    return funnel.rate_anomalies(_t(spark, sf_dir, "events"))


X133_SQL = """
WITH cells AS (
  SELECT user_id, date_trunc('minute', ts) AS minute,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
per_user AS (
  SELECT user_id,
         CAST(SUM(n) AS BIGINT) AS n_events,
         CAST(count(*) AS BIGINT) AS n_active_minutes,
         CAST(MAX(n) AS BIGINT) AS peak_per_minute
  FROM cells GROUP BY 1
)
SELECT user_id, n_events, n_active_minutes, peak_per_minute,
       round(CAST(n_events AS DOUBLE) / n_active_minutes, 4)
         AS mean_per_active_minute
FROM per_user
ORDER BY peak_per_minute DESC, user_id
LIMIT 20
"""


def x134_order_aging(spark, sf_dir):
    """Backlog aging (profile.order_aging): per (status, priority),
    count/share/revenue and mean/max age vs the latest order date —
    row-local age projection against a broadcast anchor, one cell
    aggregate; integer-cents revenue (the x125 convention)."""
    return profile.order_aging(_t(spark, sf_dir, "orders"))


X134_SQL = """
WITH anchor AS (SELECT MAX(o_orderdate) AS anchor FROM orders),
aged AS (
  SELECT o_orderstatus, o_orderpriority,
         CAST(date_diff('day', o_orderdate, a.anchor) AS BIGINT) AS age_days,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders CROSS JOIN anchor a
),
cells AS (
  SELECT o_orderstatus, o_orderpriority,
         CAST(count(*) AS BIGINT) AS n_orders,
         round(CAST(SUM(age_days) AS DOUBLE) / count(*), 4) AS mean_age_days,
         MAX(age_days) AS max_age_days,
         round(CAST(SUM(cents) AS DOUBLE) / 100.0, 2) AS revenue
  FROM aged GROUP BY 1, 2
),
tot AS (SELECT CAST(SUM(n_orders) AS DOUBLE) AS n_total FROM cells)
SELECT o_orderstatus, o_orderpriority, n_orders,
       round(n_orders / t.n_total, 6) AS share,
       mean_age_days, max_age_days, revenue
FROM cells CROSS JOIN tot t
"""


def x136_weekday_seasonality(spark, sf_dir):
    """Weekday seasonality + chi-square uniformity contributions
    (funnel.weekday_seasonality): 7 ISO-weekday cells off a row-local
    projection; exact integer counts make the statistic engine-exact."""
    return funnel.weekday_seasonality(_t(spark, sf_dir, "orders"))


X136_SQL = """
WITH cells AS (
  SELECT CAST(isodow(o_orderdate) AS BIGINT) AS weekday,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1
),
tot AS (SELECT CAST(SUM(n_orders) AS DOUBLE) AS n_total FROM cells)
SELECT weekday, n_orders,
       round(n_orders / t.n_total, 6) AS share,
       round(t.n_total / 7.0, 4) AS expected,
       round(n_orders / (t.n_total / 7.0) - 1.0, 6) AS deviation,
       round((n_orders - t.n_total / 7.0) * (n_orders - t.n_total / 7.0)
             / (t.n_total / 7.0), 6) AS chi2_contrib
FROM cells CROSS JOIN tot t
"""


def x138_value_streaks(spark, sf_dir):
    """Hot-streak detection (funnel.value_streaks): top-5 longest runs
    of consecutive observed days whose daily mean event value beats the
    overall mean — integer-micro day means (engine-exact boundaries),
    two-rank island numbering on the calendar-bounded cell frame,
    TakeOrdered."""
    return funnel.value_streaks(_t(spark, sf_dir, "events"))


X138_SQL = """
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(SUM(CAST(round(value * 1e6, 0) AS BIGINT)) AS BIGINT) AS micro,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1
),
g AS (SELECT CAST(SUM(micro) AS DOUBLE) AS g_micro,
             CAST(SUM(n) AS DOUBLE) AS g_n
      FROM daily),
marked AS (
  SELECT day,
         CAST(micro AS DOUBLE) / n AS day_mean_micro,
         g.g_micro / g.g_n AS glob_mean_micro
  FROM daily CROSS JOIN g
  WHERE CAST(micro AS DOUBLE) / n > g.g_micro / g.g_n
),
runs AS (
  SELECT day, day_mean_micro, glob_mean_micro,
         day - CAST(row_number() OVER (ORDER BY day) AS INTEGER) AS anchor
  FROM marked
)
SELECT MIN(day) AS start_day, MAX(day) AS end_day,
       CAST(count(*) AS BIGINT) AS n_days,
       round(avg(day_mean_micro / glob_mean_micro - 1.0), 6) AS mean_lift
FROM runs GROUP BY anchor
ORDER BY n_days DESC, start_day
LIMIT 5
"""


def x142_deseasonalized_anomalies(spark, sf_dir):
    """Weekday-adjusted daily revenue anomalies
    (funnel.deseasonalized_anomalies): daily integer-cents cells, 7-row
    weekday factor + 1-row moments broadcast back, |z| >= 2 days only —
    the x125/x136 composition."""
    return funnel.deseasonalized_anomalies(_t(spark, sf_dir, "orders"))


X142_SQL = """
WITH daily AS (
  SELECT o_orderdate AS day,
         CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS rev_cents,
         dayofweek(o_orderdate) + 1 AS weekday
  FROM orders GROUP BY 1
),
wk AS (SELECT weekday, avg(rev_cents) AS wk_mean FROM daily GROUP BY 1),
g AS (SELECT avg(rev_cents) AS g_mean FROM daily),
deseason AS (
  SELECT d.day, d.weekday, d.rev_cents,
         d.rev_cents / (w.wk_mean / g.g_mean) AS adj
  FROM daily d JOIN wk w USING (weekday) CROSS JOIN g
),
m AS (SELECT avg(adj) AS m, stddev_pop(adj) AS sd FROM deseason)
SELECT day, weekday,
       round(rev_cents / 100.0, 2) AS revenue,
       round(adj / 100.0, 2) AS deseasonalized,
       CASE WHEN m.sd > 0 THEN round((adj - m.m) / m.sd, 6) ELSE 0.0 END
         AS z_score
FROM deseason CROSS JOIN m
WHERE abs(CASE WHEN m.sd > 0 THEN round((adj - m.m) / m.sd, 6)
               ELSE 0.0 END) >= 2.0
ORDER BY day
"""


def x143_heavy_user_profile(spark, sf_dir):
    """Skew-proof heavy-user profile (funnel.heavy_user_profile):
    salted (user, md5-shard) partial counts/sums folded per user +
    two-stage pair-collapse exact distinct types — no reducer ever
    holds a hot user's full stream; the oracle is the naive single
    GROUP BY, proving plan-for-plan equality."""
    return funnel.heavy_user_profile(_t(spark, sf_dir, "events"))


X143_SQL = """
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
       round(CAST(SUM(CAST(round(value * 1e6, 0) AS BIGINT)) AS DOUBLE)
             / 1e6, 4) AS total_value
FROM events
GROUP BY 1
ORDER BY n_events DESC, user_id
LIMIT 20
"""


def x145_fulfillment_latency(spark, sf_dir):
    """Order-completion latency per priority
    (profile.fulfillment_latency): max(l_shipdate) per order joined
    co-partitioned on orderkey, integer day lags, exact
    mean/p50/p90/p99/max per priority cell."""
    return profile.fulfillment_latency(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )


X145_SQL = """
WITH last AS (
  SELECT l_orderkey AS o_orderkey, MAX(l_shipdate) AS last_ship
  FROM lineitem GROUP BY 1
),
days AS (
  SELECT o.o_orderpriority,
         CAST(date_diff('day', o.o_orderdate, l.last_ship) AS DOUBLE) AS d
  FROM orders o JOIN last l USING (o_orderkey)
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(avg(d), 4) AS mean_days,
       round(quantile_cont(d, 0.5), 4) AS p50_days,
       round(quantile_cont(d, 0.9), 4) AS p90_days,
       round(quantile_cont(d, 0.99), 4) AS p99_days,
       CAST(MAX(d) AS BIGINT) AS max_days
FROM days GROUP BY 1
"""


def x149_revenue_trend(spark, sf_dir):
    """Per-priority revenue time trend (funnel.revenue_trend):
    population OLS of integer-cents daily revenue on the day index via
    the built-in regr_* family — (group, day) cells + a broadcast 1-row
    min date + a G-cell regression aggregate."""
    return funnel.revenue_trend(_t(spark, sf_dir, "orders"))


X149_SQL = """
WITH daily AS (
  SELECT o_orderpriority AS grp, o_orderdate AS day,
         CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1, 2
),
t0 AS (SELECT MIN(day) AS d0 FROM daily),
pts AS (
  SELECT grp,
         CAST(date_diff('day', t0.d0, day) AS DOUBLE) AS x,
         CAST(cents AS DOUBLE) / 100.0 AS y
  FROM daily CROSS JOIN t0
)
SELECT grp AS o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_days,
       round(regr_slope(y, x), 4) AS slope_per_day,
       round(regr_intercept(y, x), 4) AS intercept,
       round(regr_r2(y, x), 6) AS r2
FROM pts GROUP BY 1
"""


def x151_basket_lift(spark, sf_dir):
    """Brand-level market-basket lift (funnel.basket_lift): partkey-
    keyed lineitem->part attachment, distinct (order, brand) baskets,
    orderkey-keyed pair self-join bounded at |brands|^2 per order,
    brand-cell rollup + broadcast 1-row order total."""
    return funnel.basket_lift(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    )


X151_SQL = """
WITH items AS (
  SELECT l.l_orderkey, p.p_brand
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
baskets AS (SELECT DISTINCT l_orderkey AS okey, p_brand AS brand FROM items),
n AS (SELECT CAST(count(DISTINCT okey) AS DOUBLE) AS n_orders FROM baskets),
marg AS (
  SELECT brand, CAST(count(*) AS BIGINT) AS nb FROM baskets GROUP BY 1
),
pairs AS (
  SELECT a.brand AS brand_a, b.brand AS brand_b,
         CAST(count(*) AS BIGINT) AS n_pair
  FROM baskets a JOIN baskets b ON a.okey = b.okey AND a.brand < b.brand
  GROUP BY 1, 2
  HAVING count(*) >= 2
)
SELECT p.brand_a, p.brand_b, p.n_pair,
       ma.nb AS n_a, mb.nb AS n_b,
       round(p.n_pair / n.n_orders, 6) AS support,
       round(p.n_pair * n.n_orders / (CAST(ma.nb AS DOUBLE) * mb.nb), 6)
         AS lift
FROM pairs p
JOIN marg ma ON p.brand_a = ma.brand
JOIN marg mb ON p.brand_b = mb.brand
CROSS JOIN n
"""


def x153_rolling_active_users(spark, sf_dir):
    """Exact rolling 7-day active users (funnel.rolling_active_users):
    one corpus-sized (user, day) cell aggregate, x7 fan-out on the CELL
    frame (never events), distinct fold per window end clamped to the
    observed max day."""
    return funnel.rolling_active_users(_t(spark, sf_dir, "events"))


X153_SQL = """
WITH cells AS (
  SELECT user_id AS u, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
maxd AS (SELECT MAX(day) AS max_day FROM cells),
fanned AS (
  SELECT c.u, c.n, c.day + CAST(i AS INT) AS win_end
  FROM cells c, unnest(generate_series(0, 6)) AS g(i)
  CROSS JOIN maxd m
  WHERE c.day + CAST(i AS INT) <= m.max_day
)
SELECT win_end AS day,
       CAST(count(DISTINCT u) AS BIGINT) AS active_users,
       CAST(SUM(n) AS BIGINT) AS n_events
FROM fanned
GROUP BY 1
"""


def x154_session_timeout_sweep(spark, sf_dir):
    """Sessionization sensitivity sweep (funnel.session_timeout_sweep):
    per-user lag gaps in integer microseconds, ONE 1-row aggregate with
    a conditional count per timeout, stacked to a row per threshold."""
    return funnel.session_timeout_sweep(_t(spark, sf_dir, "events"))


X154_SQL = """
WITH gaps AS (
  SELECT user_id AS u,
         epoch_us(ts) - epoch_us(lag(ts) OVER (
           PARTITION BY user_id ORDER BY ts, event_id)) AS gap
  FROM events
),
one AS (
  SELECT CAST(count(DISTINCT u) AS BIGINT) AS n_users,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(SUM(CASE WHEN gap > 300000000 THEN 1 ELSE 0 END) AS BIGINT) AS g300,
         CAST(SUM(CASE WHEN gap > 900000000 THEN 1 ELSE 0 END) AS BIGINT) AS g900,
         CAST(SUM(CASE WHEN gap > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS g1800,
         CAST(SUM(CASE WHEN gap > 3600000000 THEN 1 ELSE 0 END) AS BIGINT) AS g3600
  FROM gaps
)
SELECT t.timeout_s,
       n_users + t.g AS n_sessions,
       round(CAST(n_rows AS DOUBLE) / (n_users + t.g), 6)
         AS events_per_session
FROM one, LATERAL (
  SELECT * FROM (VALUES
    (CAST(300 AS BIGINT), g300),
    (CAST(900 AS BIGINT), g900),
    (CAST(1800 AS BIGINT), g1800),
    (CAST(3600 AS BIGINT), g3600)
  ) AS v(timeout_s, g)
) t
"""


def x155_conversion_latency(spark, sf_dir):
    """View->purchase time-to-convert summary
    (funnel.conversion_latency): user-keyed conditional mins
    (co-partitioned join, no window), integer-micro lags, 1-row
    summary with rate + mean/p50/p90 seconds."""
    return funnel.conversion_latency(_t(spark, sf_dir, "events"))


X155_SQL = """
WITH per_user AS (
  SELECT user_id AS u,
         MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_from
  FROM events GROUP BY 1
),
conv AS (
  SELECT e.user_id AS u, MIN(p.t_from) AS t_from,
         MIN(CASE WHEN e.event_type = 'purchase'
                   AND epoch_us(e.ts) >= p.t_from
                  THEN epoch_us(e.ts) END) AS t_to
  FROM events e JOIN per_user p ON e.user_id = p.u
  WHERE p.t_from IS NOT NULL
  GROUP BY 1
)
SELECT CAST(count(*) AS BIGINT) AS n_with_view,
       CAST(count(t_to) AS BIGINT) AS n_converted,
       round(CAST(count(t_to) AS DOUBLE) / count(*), 6) AS conversion_rate,
       round(avg((t_to - t_from) / 1e6), 4) AS mean_latency_s,
       round(quantile_cont((t_to - t_from) / 1e6, 0.5), 4) AS p50_latency_s,
       round(quantile_cont((t_to - t_from) / 1e6, 0.9), 4) AS p90_latency_s
FROM conv
"""


def x161_churn_risk(spark, sf_dir):
    """Personal-cadence churn risk per segment (funnel.churn_risk):
    custkey-keyed lag gaps, per-customer median gap, broadcast anchor
    date, at-risk = silence > 2x own median; segment cells."""
    return funnel.churn_risk(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "customer")
    )


X161_SQL = """
WITH gaps AS (
  SELECT o_custkey, o_orderdate,
         date_diff('day', lag(o_orderdate) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
           o_orderdate) AS gap
  FROM orders
),
per_cust AS (
  SELECT o_custkey,
         CAST(count(*) AS BIGINT) AS n_orders,
         MAX(o_orderdate) AS last_date,
         quantile_cont(CAST(gap AS DOUBLE), 0.5) AS med_gap
  FROM gaps GROUP BY 1
  HAVING count(*) >= 3
),
anchor AS (SELECT MAX(o_orderdate) AS max_date FROM orders),
flagged AS (
  SELECT p.o_custkey, p.med_gap,
         CASE WHEN date_diff('day', p.last_date, a.max_date)
                   > 2.0 * p.med_gap THEN 1 ELSE 0 END AS at_risk
  FROM per_cust p CROSS JOIN anchor a
)
SELECT c.c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(SUM(f.at_risk) AS BIGINT) AS n_at_risk,
       round(CAST(SUM(f.at_risk) AS DOUBLE) / count(*), 6)
         AS at_risk_share,
       round(quantile_cont(f.med_gap, 0.5), 4)
         AS median_personal_gap_days
FROM flagged f JOIN customer c ON f.o_custkey = c.c_custkey
GROUP BY 1
"""


def x164_transition_dwell(spark, sf_dir):
    """Per-transition dwell-time profile (funnel.transition_dwell):
    user-keyed lag window, integer-micro dwells, |types|^2 cells with
    exact mean + interpolated median seconds — the timing layer on
    x128's count matrix."""
    return funnel.transition_dwell(_t(spark, sf_dir, "events"))


X164_SQL = """
WITH trans AS (
  SELECT lag(event_type) OVER w AS prev_type,
         event_type,
         epoch_us(ts) - lag(epoch_us(ts)) OVER w AS dwell_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT prev_type, event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(avg(dwell_us) / 1e6, 4) AS mean_dwell_s,
       round(quantile_cont(CAST(dwell_us AS DOUBLE), 0.5) / 1e6, 4)
         AS p50_dwell_s
FROM trans
WHERE prev_type IS NOT NULL
GROUP BY 1, 2
"""


def x165_revenue_gini(spark, sf_dir):
    """Per-priority revenue Gini (profile.revenue_gini): exact
    histogram form on integer-cents cells (bounded by the price
    domain), group-partitioned cumulative walk, G-cell fold."""
    return profile.revenue_gini(_t(spark, sf_dir, "orders"))


X165_SQL = """
WITH cells AS (
  SELECT o_orderpriority AS grp,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
         CAST(count(*) AS BIGINT) AS c
  FROM orders GROUP BY 1, 2
),
walked AS (
  SELECT grp, cents, c,
         CAST(SUM(c) OVER (PARTITION BY grp ORDER BY cents) AS BIGINT)
           AS cum_c
  FROM cells
),
per_grp AS (
  SELECT grp,
         CAST(SUM(c) AS BIGINT) AS n_orders,
         CAST(SUM(cents * c) AS BIGINT) AS tot_cents,
         SUM(CAST(cents AS DOUBLE) * c * (cum_c - c + 1 + cum_c) / 2.0)
           AS rank_mass
  FROM walked GROUP BY 1
)
SELECT grp AS o_orderpriority, n_orders,
       round(tot_cents / 100.0, 2) AS total_revenue,
       round(2.0 * rank_mass / (CAST(n_orders AS DOUBLE) * tot_cents)
             - (n_orders + 1.0) / n_orders, 6) AS gini
FROM per_grp
"""


def x166_retention_halflife(spark, sf_dir):
    """Cohort retention half-life (funnel.retention_halflife): ln
    decay fit over x107's retention curve (offsets 1-8, >= 3 points),
    -ln2/slope per cohort."""
    return funnel.retention_halflife(_t(spark, sf_dir, "events"))


X166_SQL = f"""
WITH ret AS ({X107_SQL}),
pts AS (
  SELECT cohort_week, CAST(week_offset AS DOUBLE) AS x, retention
  FROM ret
  WHERE week_offset BETWEEN 1 AND 8 AND retention > 0
),
fit AS (
  SELECT cohort_week,
         CAST(count(*) AS BIGINT) AS n_points,
         regr_slope(ln(retention), x) AS slope
  FROM pts GROUP BY 1
  HAVING count(*) >= 3
)
SELECT cohort_week, n_points,
       round(slope, 6) AS decay_slope,
       CASE WHEN slope < 0 THEN round(0.6931471805599453 / -slope, 4)
       END AS halflife_weeks
FROM fit
"""


def x172_decile_mobility(spark, sf_dir):
    """User value-decile mobility between window halves
    (funnel.decile_mobility): integer-micro per-half folds, two exact
    decile-edge broadcasts, 10x10 transition cells with row shares."""
    return funnel.decile_mobility(_t(spark, sf_dir, "events"))


X172_SQL = """
WITH bounds AS (
  SELECT epoch_us(MIN(ts)) AS t0, epoch_us(MAX(ts)) AS t1 FROM events
),
tagged AS (
  SELECT user_id AS u,
         CAST(round(value * 1e6, 0) AS BIGINT) AS micro,
         epoch_us(ts) <= (b.t0 + b.t1) / 2 AS first_half
  FROM events CROSS JOIN bounds b
),
per_user AS (
  SELECT u,
         SUM(CASE WHEN first_half THEN micro END) AS v1,
         SUM(CASE WHEN NOT first_half THEN micro END) AS v2
  FROM tagged GROUP BY 1
  HAVING SUM(CASE WHEN first_half THEN micro END) IS NOT NULL
     AND SUM(CASE WHEN NOT first_half THEN micro END) IS NOT NULL
),
edges AS (
  SELECT quantile_cont(CAST(v1 AS DOUBLE),
           [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS e1,
         quantile_cont(CAST(v2 AS DOUBLE),
           [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS e2
  FROM per_user
),
banded AS (
  SELECT 1 + len(list_filter(e.e1, x -> CAST(p.v1 AS DOUBLE) > x))
           AS decile_then,
         1 + len(list_filter(e.e2, x -> CAST(p.v2 AS DOUBLE) > x))
           AS decile_now
  FROM per_user p CROSS JOIN edges e
),
cells AS (
  SELECT decile_then, decile_now, CAST(count(*) AS BIGINT) AS n_users
  FROM banded GROUP BY 1, 2
),
rt AS (
  SELECT decile_then, CAST(SUM(n_users) AS BIGINT) AS row_total
  FROM cells GROUP BY 1
)
SELECT c.decile_then, c.decile_now, c.n_users,
       round(CAST(c.n_users AS DOUBLE) / r.row_total, 6) AS row_share
FROM cells c JOIN rt r USING (decile_then)
"""


def x175_new_vs_returning(spark, sf_dir):
    """Weekly new-vs-returning decomposition (funnel.new_vs_returning):
    per-user first-seen week (one keyed window), distinct (week, user)
    cells, |weeks|-cell rollup."""
    return funnel.new_vs_returning(_t(spark, sf_dir, "events"))


X175_SQL = """
WITH weekly AS (
  SELECT DISTINCT user_id AS u,
         CAST(date_trunc('week', ts) AS DATE) AS week,
         CAST(date_trunc('week', MIN(ts) OVER (PARTITION BY user_id))
              AS DATE) AS first_week
  FROM events
)
SELECT week,
       CAST(count(*) AS BIGINT) AS active_users,
       CAST(SUM(CASE WHEN week = first_week THEN 1 ELSE 0 END) AS BIGINT)
         AS new_users,
       CAST(count(*) - SUM(CASE WHEN week = first_week THEN 1 ELSE 0 END)
            AS BIGINT) AS returning_users,
       round(CAST(SUM(CASE WHEN week = first_week THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS new_share
FROM weekly GROUP BY 1
"""


def x179_activity_heatmap(spark, sf_dir):
    """Weekday x hour load heatmap (funnel.activity_heatmap): one
    168-cell aggregate + broadcast total; shares and uniform-cell load
    ratios."""
    return funnel.activity_heatmap(_t(spark, sf_dir, "events"))


X179_SQL = """
WITH cells AS (
  SELECT dayofweek(ts) + 1 AS weekday, hour(ts) AS hour,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
),
tot AS (
  SELECT CAST(SUM(n_events) AS DOUBLE) AS total,
         CAST(count(*) AS DOUBLE) AS n_cells
  FROM cells
)
SELECT weekday, hour, n_events,
       round(n_events / total, 6) AS share,
       round(n_events / (total / n_cells), 6) AS load_ratio
FROM cells CROSS JOIN tot
"""


def x181_revenue_autocorrelation(spark, sf_dir):
    """Daily-revenue autocorrelation at lags 1..7
    (funnel.revenue_autocorrelation): Pearson r per lag from ordered
    full-frame window moments over the integer-cents day cells."""
    return funnel.revenue_autocorrelation(_t(spark, sf_dir, "orders"))


X181_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM orders GROUP BY 1
),
pairs AS (
  SELECT l.lag AS lag, d.day AS day,
         CAST(d.rev_cents AS DOUBLE) AS x,
         CAST(p.rev_cents AS DOUBLE) AS y
  FROM daily d
  CROSS JOIN (SELECT CAST(unnest(generate_series(1, 7)) AS BIGINT) AS lag) l
  JOIN daily p ON p.day = d.day - CAST(l.lag AS INT)
),
moments AS (
  SELECT lag, day,
         CAST(COUNT(*) OVER wf AS DOUBLE) AS np,
         SUM(x) OVER wf AS sx, SUM(y) OVER wf AS sy,
         SUM(x * y) OVER wf AS sxy,
         SUM(x * x) OVER wf AS sxx,
         SUM(y * y) OVER wf AS syy,
         ROW_NUMBER() OVER (PARTITION BY lag ORDER BY day) AS rn
  FROM pairs
  WINDOW wf AS (PARTITION BY lag ORDER BY day ROWS BETWEEN UNBOUNDED
                PRECEDING AND UNBOUNDED FOLLOWING)
)
SELECT lag, CAST(np AS BIGINT) AS n_pairs,
       CASE WHEN np * sxx - sx * sx > 0 AND np * syy - sy * sy > 0
            THEN round((np * sxy - sx * sy)
                       / sqrt((np * sxx - sx * sx) * (np * syy - sy * sy)), 6)
            END AS pearson_r
FROM moments WHERE rn = 1 ORDER BY lag
"""



def x182_calendar_coverage(spark, sf_dir):
    """Calendar completeness audit per event type
    (funnel.calendar_coverage): day-spine anti-join on bounded
    (type, day) cell frames; silent-day counts + first/last gap."""
    return funnel.calendar_coverage(_t(spark, sf_dir, "events"))


X182_SQL = """
WITH obs AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events GROUP BY 1, 2
),
span AS (
  SELECT MIN(CAST(date_trunc('day', ts) AS DATE)) AS d0,
         MAX(CAST(date_trunc('day', ts) AS DATE)) AS d1
  FROM events
),
spine AS (
  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
  FROM span
),
grid AS (
  SELECT t.event_type, s.day
  FROM (SELECT DISTINCT event_type FROM obs) t CROSS JOIN spine s
),
missing AS (
  SELECT g.event_type, g.day FROM grid g
  WHERE NOT EXISTS (SELECT 1 FROM obs o
                    WHERE o.event_type = g.event_type AND o.day = g.day)
),
miss AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_missing,
         MIN(day) AS first_missing, MAX(day) AS last_missing
  FROM missing GROUP BY 1
),
per_type AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days_observed
  FROM obs GROUP BY 1
)
SELECT p.event_type, p.n_days_observed,
       CAST(coalesce(m.n_missing, 0) AS BIGINT) AS n_missing,
       round(p.n_days_observed
             / CAST(p.n_days_observed + coalesce(m.n_missing, 0) AS DOUBLE),
             6) AS coverage,
       m.first_missing, m.last_missing
FROM per_type p LEFT JOIN miss m USING (event_type)
ORDER BY event_type
"""


def x183_price_dispersion(spark, sf_dir):
    """Per-part price-dispersion screen (profile.price_dispersion):
    worst-20 CV of line prices off exact integer-cents moments; part
    joins only to the 20 survivors."""
    return profile.price_dispersion(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    )


X183_SQL = """
WITH cells AS (
  SELECT l_partkey AS p_partkey, CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS s,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                  * CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS ss
  FROM lineitem GROUP BY 1
),
scored AS (
  SELECT p_partkey, n,
         round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 6)
           AS mean_price,
         round(sqrt((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) / 100.0, 6)
           AS sd_price,
         CASE WHEN CAST(s AS DOUBLE) / CAST(n AS DOUBLE) > 0
              THEN round(sqrt((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                               - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                         / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 6)
              END AS cv
  FROM cells WHERE n >= 5
  ORDER BY cv DESC, p_partkey LIMIT 20
)
SELECT s.p_partkey, p.p_brand, p.p_type, s.n, s.mean_price, s.sd_price, s.cv
FROM scored s JOIN part p USING (p_partkey)
ORDER BY s.cv DESC, s.p_partkey
"""



def x184_session_depth(spark, sf_dir):
    """Session depth distribution + bounce rate
    (funnel.session_depth_profile): power-of-2 depth buckets over
    30-min-gap sessions; bounded cells, 1-row total broadcast."""
    return funnel.session_depth_profile(_t(spark, sf_dir, "events"))


X184_SQL = """
WITH ordered AS (
  SELECT user_id, ts, event_id,
         date_diff('second',
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                   ts) AS gap
  FROM events
),
sess AS (
  SELECT user_id,
         SUM(CASE WHEN gap > 1800 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_no
  FROM ordered
),
depths AS (
  SELECT CAST(count(*) AS BIGINT) AS depth
  FROM sess GROUP BY user_id, session_no
),
buckets AS (
  SELECT CASE WHEN depth <= 2 THEN depth
              ELSE CAST(pow(2.0, ceil(log2(depth)) - 1) AS BIGINT) + 1
         END AS bucket_lo,
         CASE WHEN depth <= 2 THEN depth
              ELSE CAST(pow(2.0, ceil(log2(depth))) AS BIGINT)
         END AS bucket_hi
  FROM depths
),
cells AS (
  SELECT bucket_lo, bucket_hi, CAST(count(*) AS BIGINT) AS n_sessions
  FROM buckets GROUP BY 1, 2
),
tot AS (SELECT CAST(SUM(n_sessions) AS DOUBLE) AS total FROM cells)
SELECT bucket_lo, bucket_hi, n_sessions,
       round(n_sessions / total, 6) AS share,
       round(SUM(n_sessions) OVER (ORDER BY bucket_lo ROWS BETWEEN
             UNBOUNDED PRECEDING AND CURRENT ROW) / total, 6) AS cum_share
FROM cells CROSS JOIN tot
ORDER BY bucket_lo
"""


def x189_activity_powerlaw(spark, sf_dir):
    """Power-law MLE over user activity (funnel.activity_powerlaw):
    Clauset-style alpha off the bounded activity histogram; the one
    float fold is an ordered full-frame window."""
    return funnel.activity_powerlaw(_t(spark, sf_dir, "events"))


X189_SQL = """
WITH per_user AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1
),
hist AS (
  SELECT x, CAST(count(*) AS BIGINT) AS c FROM per_user GROUP BY 1
),
scored AS (
  SELECT x,
         CAST(SUM(c) OVER wf AS BIGINT) AS n_users,
         CAST(SUM(CASE WHEN x >= 2 THEN c ELSE 0 END) OVER wf AS BIGINT)
           AS n_tail,
         MAX(x) OVER wf AS max_activity,
         SUM(CASE WHEN x >= 2
                  THEN CAST(c AS DOUBLE) * ln(CAST(x AS DOUBLE) / 1.5)
                  ELSE 0.0 END) OVER wf AS ln_sum,
         ROW_NUMBER() OVER (ORDER BY x) AS rn
  FROM hist
  WINDOW wf AS (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                AND UNBOUNDED FOLLOWING)
)
SELECT CAST(2 AS BIGINT) AS xmin, n_users, n_tail, max_activity,
       CASE WHEN ln_sum > 0
            THEN round(1.0 + CAST(n_tail AS DOUBLE) / ln_sum, 6)
            END AS alpha
FROM scored WHERE rn = 1
"""


def x192_forecast_backtest(spark, sf_dir):
    """Naive / seasonal-naive forecast backtest with MASE
    (funnel.forecast_backtest): the q46 QA gate off exact integer-cents
    absolute errors on day cells."""
    return funnel.forecast_backtest(_t(spark, sf_dir, "orders"))


X192_SQL = f"""
WITH daily AS ({_X19X_DAILY}),
nv AS (
  SELECT CAST(count(*) AS BIGINT) AS n_naive,
         CAST(SUM(abs(d.cents - p.cents)) AS BIGINT) AS s_naive
  FROM daily d JOIN daily p ON p.day = d.day - 1
),
sn AS (
  SELECT CAST(count(*) AS BIGINT) AS n_seasonal,
         CAST(SUM(abs(d.cents - p.cents)) AS BIGINT) AS s_seasonal
  FROM daily d JOIN daily p ON p.day = d.day - 7
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily)
SELECT n_days, n_naive, n_seasonal,
       round(CAST(s_naive AS DOUBLE) / n_naive / 100.0, 6) AS mae_naive,
       round(CAST(s_seasonal AS DOUBLE) / n_seasonal / 100.0, 6)
         AS mae_seasonal,
       CASE WHEN s_naive > 0
            THEN round((CAST(s_seasonal AS DOUBLE) / n_seasonal / 100.0)
                       / (CAST(s_naive AS DOUBLE) / n_naive / 100.0), 6)
            END AS mase_seasonal
FROM tot CROSS JOIN nv CROSS JOIN sn
"""


def x193_weekly_mix_psi(spark, sf_dir):
    """Weekly event-mix PSI against the all-time mix
    (funnel.weekly_mix_psi): x77's statistic as a time series; add-1
    smoothing over the full week x type grid."""
    return funnel.weekly_mix_psi(_t(spark, sf_dir, "events"))


X193_SQL = """
WITH cells AS (
  SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
         event_type AS etype, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
weeks AS (SELECT week, CAST(SUM(n) AS BIGINT) AS n_week
          FROM cells GROUP BY 1),
types AS (SELECT etype, CAST(SUM(n) AS BIGINT) AS n_type
          FROM cells GROUP BY 1),
grand AS (SELECT CAST(SUM(n) AS BIGINT) AS n_all,
                 CAST(count(DISTINCT etype) AS BIGINT) AS n_types
          FROM cells),
grid AS (
  SELECT w.week, w.n_week, t.etype, t.n_type, g.n_all, g.n_types
  FROM weeks w CROSS JOIN types t CROSS JOIN grand g
),
filled AS (
  SELECT g.week, g.etype, g.n_week,
         CAST(coalesce(c.n, 0) AS BIGINT) AS n_wt,
         g.n_type, g.n_all, g.n_types
  FROM grid g LEFT JOIN cells c
    ON c.week = g.week AND c.etype = g.etype
),
termed AS (
  SELECT week, n_week, etype,
         ((CAST(n_wt AS DOUBLE) + 1.0)
            / (CAST(n_week AS DOUBLE) + n_types)
          - (CAST(n_type AS DOUBLE) + 1.0)
            / (CAST(n_all AS DOUBLE) + n_types))
         * ln(((CAST(n_wt AS DOUBLE) + 1.0)
               / (CAST(n_week AS DOUBLE) + n_types))
              / ((CAST(n_type AS DOUBLE) + 1.0)
                 / (CAST(n_all AS DOUBLE) + n_types))) AS term
  FROM filled
),
scored AS (
  SELECT week, n_week,
         SUM(term) OVER (PARTITION BY week ORDER BY etype ROWS BETWEEN
                         UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS psi,
         ROW_NUMBER() OVER (PARTITION BY week ORDER BY etype) AS rn
  FROM termed
)
SELECT week, n_week AS n_events, round(psi, 6) AS psi
FROM scored WHERE rn = 1 ORDER BY week
"""



def x194_cohort_ltv(spark, sf_dir):
    """Weekly-cohort LTV curves (funnel.cohort_ltv): per (cohort,
    offset) active counts, exact-cents revenue, cumulative revenue and
    cumulative LTV per cohort member."""
    return funnel.cohort_ltv(_t(spark, sf_dir, "orders"))


X194_SQL = """
WITH based AS (
  SELECT o_custkey AS custkey,
         CAST(date_trunc('week', o_orderdate) AS DATE) AS wk,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         MIN(CAST(date_trunc('week', o_orderdate) AS DATE))
           OVER (PARTITION BY o_custkey) AS cohort
  FROM orders
),
cells AS (
  SELECT cohort,
         CAST(date_diff('day', cohort, wk) / 7 AS BIGINT) AS "offset",
         CAST(count(DISTINCT custkey) AS BIGINT) AS n_active,
         CAST(SUM(cents) AS BIGINT) AS rev_cents
  FROM based
  WHERE CAST(date_diff('day', cohort, wk) / 7 AS BIGINT) <= 12
  GROUP BY 1, 2
),
sizes AS (
  SELECT cohort, n_active AS cohort_size FROM cells WHERE "offset" = 0
),
cum AS (
  SELECT c.cohort, c."offset", c.n_active, s.cohort_size, c.rev_cents,
         SUM(c.rev_cents) OVER (PARTITION BY c.cohort ORDER BY c."offset"
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cents
  FROM cells c JOIN sizes s USING (cohort)
)
SELECT cohort, "offset", n_active, cohort_size,
       round(rev_cents / 100.0, 2) AS revenue,
       round(cum_cents / 100.0, 2) AS cum_revenue,
       round(cum_cents / CAST(cohort_size AS DOUBLE) / 100.0, 6)
         AS cum_ltv_per_user
FROM cum
ORDER BY cohort, "offset"
"""


def x195_abc_classification(spark, sf_dir):
    """ABC inventory classification (profile.abc_classification):
    revenue-value block walk with the x163 tie convention + a NONE
    class from the part-dimension anti-join."""
    return profile.abc_classification(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    )


X195_SQL = """
WITH per_part AS (
  SELECT l_partkey AS p_partkey,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS rev
  FROM lineitem GROUP BY 1
),
blocks AS (
  SELECT rev, CAST(count(*) AS BIGINT) AS n_parts FROM per_part GROUP BY 1
),
tot AS (SELECT CAST(SUM(rev * n_parts) AS DOUBLE) AS trev FROM blocks),
classed AS (
  SELECT rev, n_parts,
         CASE WHEN CAST(coalesce(SUM(rev * n_parts) OVER wb, 0) AS DOUBLE)
                   / trev < 0.8 THEN 'A'
              WHEN CAST(coalesce(SUM(rev * n_parts) OVER wb, 0) AS DOUBLE)
                   / trev < 0.95 THEN 'B'
              ELSE 'C' END AS abc_class
  FROM blocks CROSS JOIN tot
  WINDOW wb AS (ORDER BY rev DESC ROWS BETWEEN UNBOUNDED PRECEDING
                AND 1 PRECEDING)
),
sold AS (
  SELECT abc_class, CAST(SUM(n_parts) AS BIGINT) AS n_parts,
         CAST(SUM(rev * n_parts) AS BIGINT) AS rev_cents
  FROM classed GROUP BY 1
),
never AS (
  SELECT 'NONE' AS abc_class, CAST(count(*) AS BIGINT) AS n_parts,
         CAST(0 AS BIGINT) AS rev_cents
  FROM part p
  WHERE NOT EXISTS (SELECT 1 FROM per_part pp
                    WHERE pp.p_partkey = p.p_partkey)
),
unioned AS (SELECT * FROM sold UNION ALL SELECT * FROM never),
tot2 AS (
  SELECT CAST(SUM(rev_cents) AS DOUBLE) AS t,
         CAST(SUM(n_parts) AS DOUBLE) AS tp
  FROM unioned
)
SELECT abc_class, n_parts,
       round(rev_cents / 100.0, 2) AS revenue,
       round(rev_cents / t, 6) AS revenue_share,
       round(n_parts / tp, 6) AS part_share
FROM unioned CROSS JOIN tot2
ORDER BY abc_class
"""


def x196_basket_diversity(spark, sf_dir):
    """Per-segment brand-entropy profile (funnel.basket_diversity):
    per-customer ordered entropy folds quantized to micro-nats before
    the segment rollup."""
    return funnel.basket_diversity(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "customer"),
    )


X196_SQL = """
WITH cust_lines AS (
  SELECT o.o_custkey AS custkey, p.p_brand
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN part p ON l.l_partkey = p.p_partkey
),
cells AS (
  SELECT custkey, p_brand, CAST(count(*) AS BIGINT) AS n
  FROM cust_lines GROUP BY 1, 2
),
with_tot AS (
  SELECT custkey, p_brand, n,
         CAST(SUM(n) OVER wc AS DOUBLE) AS ncust
  FROM cells
  WINDOW wc AS (PARTITION BY custkey ORDER BY p_brand ROWS BETWEEN
                UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
),
folded AS (
  SELECT custkey,
         SUM(-(CAST(n AS DOUBLE) / ncust) * ln(CAST(n AS DOUBLE) / ncust))
           OVER wc AS h,
         CAST(COUNT(*) OVER wc AS BIGINT) AS n_brands,
         ROW_NUMBER() OVER (PARTITION BY custkey ORDER BY p_brand) AS rn
  FROM with_tot
  WINDOW wc AS (PARTITION BY custkey ORDER BY p_brand ROWS BETWEEN
                UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
),
quant AS (
  SELECT custkey, CAST(round(h * 1e6) AS BIGINT) AS h_micro, n_brands
  FROM folded WHERE rn = 1
),
seg AS (
  SELECT q.h_micro, q.n_brands, c.c_mktsegment
  FROM quant q JOIN customer c ON q.custkey = c.c_custkey
)
SELECT c_mktsegment AS segment,
       CAST(count(*) AS BIGINT) AS n_customers,
       round(CAST(SUM(h_micro) AS DOUBLE) / count(*) / 1e6, 6)
         AS mean_entropy,
       round(quantile_cont(CAST(h_micro AS DOUBLE), 0.5) / 1e6, 6)
         AS p50_entropy,
       round(CAST(SUM(CASE WHEN n_brands = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS single_brand_share
FROM seg GROUP BY 1 ORDER BY 1
"""


def x198_supplier_spc(spark, sf_dir):
    """Supplier lead-time XmR control chart (profile.supplier_spc):
    mean + 2.66 x mean-moving-range control limit, worst-20 by breach
    share."""
    return profile.supplier_spc(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "supplier"),
    )


X198_SQL = """
WITH lat AS (
  SELECT l.l_suppkey AS suppkey, l.l_orderkey AS okey,
         l.l_linenumber AS lineno, CAST(o.o_orderdate AS DATE) AS odate,
         CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                        CAST(l.l_shipdate AS DATE)) AS BIGINT) AS lag_days
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
mr AS (
  SELECT suppkey, lag_days,
         abs(lag_days - lag(lag_days) OVER (PARTITION BY suppkey
             ORDER BY odate, okey, lineno, lag_days)) AS mrange
  FROM lat
),
cells AS (
  SELECT suppkey, CAST(count(*) AS BIGINT) AS n_shipments,
         CAST(SUM(lag_days) AS BIGINT) AS s_lag,
         CAST(count(mrange) AS BIGINT) AS n_mr,
         CAST(SUM(mrange) AS BIGINT) AS s_mr
  FROM mr GROUP BY 1
),
limits AS (
  SELECT suppkey, n_shipments,
         round(CAST(s_lag AS DOUBLE) / n_shipments, 6) AS mean_lag,
         round(CAST(s_mr AS DOUBLE) / n_mr, 6) AS mean_mrange,
         round(CAST(s_lag AS DOUBLE) / n_shipments
               + 2.66 * (CAST(s_mr AS DOUBLE) / n_mr), 6) AS ucl
  FROM cells WHERE n_mr >= 1
),
breaches AS (
  SELECT l.suppkey, CAST(count(*) AS BIGINT) AS n_breaches
  FROM lat l JOIN limits li ON l.suppkey = li.suppkey
  WHERE CAST(l.lag_days AS DOUBLE) > li.ucl
  GROUP BY 1
),
ranked AS (
  SELECT li.suppkey, li.n_shipments, li.mean_lag, li.mean_mrange, li.ucl,
         CAST(coalesce(b.n_breaches, 0) AS BIGINT) AS n_breaches,
         round(coalesce(b.n_breaches, 0)
               / CAST(li.n_shipments AS DOUBLE), 6) AS breach_share
  FROM limits li LEFT JOIN breaches b USING (suppkey)
  ORDER BY breach_share DESC, suppkey LIMIT 20
)
SELECT r.suppkey, s.s_name, r.n_shipments, r.mean_lag, r.mean_mrange,
       r.ucl, r.n_breaches, r.breach_share
FROM ranked r JOIN supplier s ON r.suppkey = s.s_suppkey
ORDER BY r.breach_share DESC, r.suppkey
"""


def x201_markov_entropy_rate(spark, sf_dir):
    """Entropy rate of the event Markov chain
    (funnel.markov_entropy_rate): x128's matrix compressed to one
    predictability number; ordered entropy folds on type cells."""
    return funnel.markov_entropy_rate(_t(spark, sf_dir, "events"))


X201_SQL = """
WITH trans AS (
  SELECT a, b, CAST(count(*) AS BIGINT) AS n_ab
  FROM (
    SELECT lag(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS a,
           event_type AS b
    FROM events
  ) WHERE a IS NOT NULL GROUP BY 1, 2
),
with_tot AS (
  SELECT a, b, n_ab, CAST(SUM(n_ab) OVER wr AS DOUBLE) AS n_a
  FROM trans
  WINDOW wr AS (PARTITION BY a ORDER BY b ROWS BETWEEN UNBOUNDED
                PRECEDING AND UNBOUNDED FOLLOWING)
),
rows_h AS (
  SELECT a, n_a,
         SUM(-(CAST(n_ab AS DOUBLE) / n_a)
             * ln(CAST(n_ab AS DOUBLE) / n_a)) OVER wr AS h_row,
         ROW_NUMBER() OVER (PARTITION BY a ORDER BY b) AS rn
  FROM with_tot
  WINDOW wr AS (PARTITION BY a ORDER BY b ROWS BETWEEN UNBOUNDED
                PRECEDING AND UNBOUNDED FOLLOWING)
),
folded AS (
  SELECT a, SUM(n_a) OVER wa AS n_all,
         SUM(n_a * h_row) OVER wa AS hsum,
         CAST(COUNT(*) OVER wa AS BIGINT) AS n_states,
         ROW_NUMBER() OVER (ORDER BY a) AS rn2
  FROM rows_h WHERE rn = 1
  WINDOW wa AS (ORDER BY a ROWS BETWEEN UNBOUNDED PRECEDING AND
                UNBOUNDED FOLLOWING)
)
SELECT CAST(n_all AS BIGINT) AS n_transitions, n_states,
       round(hsum / n_all, 6) AS entropy_rate,
       round(ln(CAST(n_states AS DOUBLE)), 6) AS max_entropy,
       CASE WHEN n_states > 1
            THEN round(1.0 - (hsum / n_all)
                       / ln(CAST(n_states AS DOUBLE)), 6)
            END AS predictability
FROM folded WHERE rn2 = 1
"""


def x202_peak_concurrency(spark, sf_dir):
    """Peak concurrent sessions (funnel.peak_concurrency): sweep-line
    max of open 30-min-gap sessions on the scalable prefix sum;
    closed-interval tie rule."""
    return funnel.peak_concurrency(_t(spark, sf_dir, "events"))


X202_SQL = """
WITH ordered AS (
  SELECT user_id, ts, event_id,
         date_diff('second',
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                   ts) AS gap
  FROM events
),
sessn AS (
  SELECT user_id, ts,
         SUM(CASE WHEN gap > 1800 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_no
  FROM ordered
),
sess AS (
  SELECT user_id, session_no, MIN(ts) AS t0, MAX(ts) AS t1
  FROM sessn GROUP BY 1, 2
),
bounds AS (
  SELECT t, CAST(SUM(sign) AS BIGINT) AS delta,
         epoch_us(t) * 2 + CASE WHEN sign = -1 THEN 1 ELSE 0 END AS okey
  FROM (
    SELECT t0 AS t, 1 AS sign FROM sess
    UNION ALL
    SELECT t1 AS t, -1 AS sign FROM sess
  ) GROUP BY t, sign
),
running AS (
  SELECT t, SUM(delta) OVER (ORDER BY okey ROWS BETWEEN UNBOUNDED
             PRECEDING AND CURRENT ROW) AS conc
  FROM bounds
),
peak AS (SELECT CAST(MAX(conc) AS BIGINT) AS peak_concurrency FROM running),
firstp AS (
  SELECT MIN(t) AS first_peak_ts
  FROM running JOIN peak ON conc = peak_concurrency
),
ns AS (SELECT CAST(count(*) AS BIGINT) AS n_sessions FROM sess)
SELECT n_sessions, peak_concurrency, first_peak_ts
FROM ns CROSS JOIN peak CROSS JOIN firstp
"""


def x204_km_survival(spark, sf_dir):
    """Kaplan-Meier reorder survival (funnel.km_survival): censored
    product-limit curve over integer-day gap cells."""
    return funnel.km_survival(_t(spark, sf_dir, "orders"))


X204_SQL = """
WITH base AS (
  SELECT o_custkey AS custkey, CAST(o_orderdate AS DATE) AS day FROM orders
),
gaps AS (
  SELECT custkey, day,
         date_diff('day', lag(day) OVER (PARTITION BY custkey
                                         ORDER BY day), day) AS gap,
         ROW_NUMBER() OVER (PARTITION BY custkey ORDER BY day DESC) AS rdesc
  FROM base
),
events AS (
  SELECT CAST(gap AS BIGINT) AS t, 1 AS is_event
  FROM gaps WHERE gap IS NOT NULL
),
anchor AS (SELECT MAX(day) AS anchor FROM base),
censored AS (
  SELECT CAST(date_diff('day', day, anchor) AS BIGINT) AS t, 0 AS is_event
  FROM gaps CROSS JOIN anchor WHERE rdesc = 1
),
durs AS (
  SELECT * FROM (
    SELECT * FROM events UNION ALL SELECT * FROM censored
  ) WHERE t <= 365
),
cells AS (
  SELECT t, CAST(SUM(is_event) AS BIGINT) AS d,
         CAST(SUM(1 - is_event) AS BIGINT) AS c
  FROM durs GROUP BY 1
),
tot AS (SELECT CAST(SUM(d + c) AS BIGINT) AS n0 FROM cells),
risky AS (
  SELECT t, d, c,
         CAST(n0 - coalesce(SUM(d + c) OVER (ORDER BY t ROWS BETWEEN
              UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
  FROM cells CROSS JOIN tot
),
surv AS (
  SELECT t, n_risk, d,
         CASE WHEN MAX(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
                   OVER wc = 1 THEN 0.0
              ELSE exp(SUM(CASE WHEN d < n_risk
                           THEN ln(1.0 - CAST(d AS DOUBLE)
                                   / CAST(n_risk AS DOUBLE))
                           ELSE 0.0 END) OVER wc)
         END AS s
  FROM risky WHERE d > 0
  WINDOW wc AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND
                CURRENT ROW)
)
SELECT t AS t_days, n_risk, d AS n_events, round(s, 6) AS survival
FROM surv ORDER BY t_days
"""



def x205_path_trigrams(spark, sf_dir):
    """Frequent 3-step session motifs (funnel.path_trigrams): sliding
    in-session trigrams, top-20 with shares."""
    return funnel.path_trigrams(_t(spark, sf_dir, "events"))


X205_SQL = """
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         date_diff('second',
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                   ts) AS gap
  FROM events
),
sess AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(CASE WHEN gap > 1800 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_no
  FROM ordered
),
triples AS (
  SELECT lag(event_type, 2) OVER w3 AS t1,
         lag(event_type, 1) OVER w3 AS t2,
         event_type AS t3
  FROM sess
  WINDOW w3 AS (PARTITION BY user_id, session_no ORDER BY ts, event_id)
),
cells AS (
  SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n_occurrences
  FROM triples WHERE t1 IS NOT NULL GROUP BY 1, 2, 3
),
tot AS (SELECT CAST(SUM(n_occurrences) AS DOUBLE) AS total FROM cells)
SELECT t1 || '>' || t2 || '>' || t3 AS motif, n_occurrences,
       round(n_occurrences / total, 6) AS share
FROM cells CROSS JOIN tot
ORDER BY n_occurrences DESC, motif
LIMIT 20
"""


def x207_stickiness(spark, sf_dir):
    """DAU/WAU/MAU stickiness ratios per day (funnel.stickiness):
    exact rolling distincts via the x153 cell fan-out."""
    return funnel.stickiness(_t(spark, sf_dir, "events"))


X207_SQL = """
WITH cells AS (
  SELECT user_id AS u, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events GROUP BY 1, 2
),
maxd AS (SELECT MAX(day) AS max_day FROM cells),
dau AS (
  SELECT day, CAST(count(DISTINCT u) AS BIGINT) AS dau
  FROM cells GROUP BY 1
),
wau AS (
  SELECT day2 AS day, CAST(count(DISTINCT u) AS BIGINT) AS wau
  FROM (
    SELECT u, CAST(unnest(generate_series(day, day + 6,
                                          INTERVAL 1 DAY)) AS DATE) AS day2
    FROM cells
  ) CROSS JOIN maxd WHERE day2 <= max_day GROUP BY 1
),
mau AS (
  SELECT day2 AS day, CAST(count(DISTINCT u) AS BIGINT) AS mau
  FROM (
    SELECT u, CAST(unnest(generate_series(day, day + 27,
                                          INTERVAL 1 DAY)) AS DATE) AS day2
    FROM cells
  ) CROSS JOIN maxd WHERE day2 <= max_day GROUP BY 1
)
SELECT d.day, d.dau, w.wau, m.mau,
       round(d.dau / CAST(m.mau AS DOUBLE), 6) AS dau_mau,
       round(w.wau / CAST(m.mau AS DOUBLE), 6) AS wau_mau
FROM dau d JOIN wau w USING (day) JOIN mau m USING (day)
ORDER BY d.day
"""


def x208_attribution_credit(spark, sf_dir):
    """First-touch vs last-touch conversion attribution
    (funnel.attribution_credit): every purchase credits its session's
    opening event type and its immediate predecessor; 'direct' when
    the conversion opens the session."""
    return funnel.attribution_credit(_t(spark, sf_dir, "events"))


X208_SQL = """
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         date_diff('second',
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                   ts) AS gap
  FROM events
),
sess AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(CASE WHEN gap > 1800 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_no
  FROM ordered
),
conv AS (
  SELECT event_type,
         CASE WHEN row_number() OVER w3 = 1 THEN 'direct'
              ELSE first_value(event_type) OVER w3 END AS first_touch,
         COALESCE(lag(event_type) OVER w3, 'direct') AS last_touch
  FROM sess
  WINDOW w3 AS (PARTITION BY user_id, session_no ORDER BY ts, event_id)
),
pconv AS (SELECT * FROM conv WHERE event_type = 'purchase'),
ft AS (
  SELECT first_touch AS channel,
         CAST(count(*) AS BIGINT) AS first_touch_credits
  FROM pconv GROUP BY 1
),
lt AS (
  SELECT last_touch AS channel,
         CAST(count(*) AS BIGINT) AS last_touch_credits
  FROM pconv GROUP BY 1
),
tot AS (SELECT CAST(count(*) AS DOUBLE) AS n_conv FROM pconv)
SELECT COALESCE(f.channel, l.channel) AS channel,
       CAST(COALESCE(f.first_touch_credits, 0) AS BIGINT)
         AS first_touch_credits,
       CAST(COALESCE(l.last_touch_credits, 0) AS BIGINT)
         AS last_touch_credits,
       round(COALESCE(f.first_touch_credits, 0) / t.n_conv, 6)
         AS first_touch_share,
       round(COALESCE(l.last_touch_credits, 0) / t.n_conv, 6)
         AS last_touch_share
FROM ft f FULL JOIN lt l ON f.channel = l.channel CROSS JOIN tot t
ORDER BY channel
"""


def x213_markov_prediction(spark, sf_dir):
    """Next-event top-1 prediction accuracy (funnel.markov_prediction):
    the x128 transition argmax as a predictor, scored on the observed
    transitions — x201's entropy rate turned into a decision metric."""
    return funnel.markov_prediction(_t(spark, sf_dir, "events"))


X213_SQL = """
WITH pairs AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type,
         event_type AS next_type
  FROM events
),
cells AS (
  SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
  FROM pairs WHERE prev_type IS NOT NULL GROUP BY 1, 2
),
best AS (
  SELECT prev_type, next_type AS predicted, n AS n_correct FROM (
    SELECT prev_type, next_type, n,
           row_number() OVER (PARTITION BY prev_type
                              ORDER BY n DESC, next_type) AS rn
    FROM cells
  ) WHERE rn = 1
),
totals AS (
  SELECT prev_type, CAST(SUM(n) AS BIGINT) AS n_transitions
  FROM cells GROUP BY 1
)
SELECT t.prev_type, b.predicted, t.n_transitions, b.n_correct,
       round(b.n_correct / CAST(t.n_transitions AS DOUBLE), 6) AS accuracy
FROM totals t JOIN best b USING (prev_type)
ORDER BY t.prev_type
"""


def x214_bot_regularity(spark, sf_dir):
    """Bot/automation screen (funnel.bot_regularity): per user with
    >= 5 inter-event gaps, mean gap and coefficient of variation —
    clockwork traffic (CV <= 0.1, or all-zero-gap replays) is flagged
    before user events are trusted as training signal."""
    return funnel.bot_regularity(_t(spark, sf_dir, "events"))


X214_SQL = """
WITH ordered AS (
  SELECT user_id,
         date_diff('second',
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                   ts) AS g
  FROM events
),
gaps AS (
  SELECT user_id, CAST(g AS DOUBLE) AS g FROM ordered WHERE g IS NOT NULL
),
agg AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
         SUM(g) AS s, SUM(g * g) AS ss
  FROM gaps GROUP BY 1 HAVING count(*) >= 5
)
SELECT user_id, n_gaps,
       round(s / n_gaps, 6) AS mean_gap_s,
       CASE WHEN s > 0
            THEN round(sqrt((ss - s * s / n_gaps) / (n_gaps - 1))
                       / (s / n_gaps), 6)
       END AS cv,
       (s = 0) OR (s > 0
                   AND sqrt((ss - s * s / n_gaps) / (n_gaps - 1))
                       / (s / n_gaps) <= 0.1) AS bot_like
FROM agg
ORDER BY user_id
"""


def x221_mix_rate_decomposition(spark, sf_dir):
    """Two-period mix-vs-rate bridge (funnel.mix_rate_decomposition):
    the change in mean order value split into share-shift and
    repricing contributions per priority segment — the 'why did the
    metric move' artifact; the two columns telescope to mean2-mean1."""
    return funnel.mix_rate_decomposition(_t(spark, sf_dir, "orders"))


X221_SQL = """
WITH span AS (
  SELECT MIN(CAST(o_orderdate AS DATE)) AS d0,
         MAX(CAST(o_orderdate AS DATE)) AS d1
  FROM orders
),
mids AS (
  SELECT d0 + CAST(floor(date_diff('day', d0, d1) / 2) AS INTEGER) AS mid
  FROM span
),
seg AS (
  SELECT o_orderpriority AS segment,
         CASE WHEN CAST(o_orderdate AS DATE) <= mid THEN 1 ELSE 2 END
           AS period,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders CROSS JOIN mids
),
cells AS (
  SELECT segment,
         CAST(SUM(CASE WHEN period = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN period = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(SUM(CASE WHEN period = 1 THEN cents ELSE 0 END) AS BIGINT) AS s1,
         CAST(SUM(CASE WHEN period = 2 THEN cents ELSE 0 END) AS BIGINT) AS s2
  FROM seg GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n1) AS DOUBLE) AS t1, CAST(SUM(n2) AS DOUBLE) AS t2
  FROM cells
),
m AS (
  SELECT segment, n1, n2,
         n1 / t1 AS sh1, n2 / t2 AS sh2,
         CASE WHEN n1 > 0 THEN s1 / CAST(n1 AS DOUBLE) / 100.0
              ELSE 0.0 END AS r1,
         CASE WHEN n2 > 0 THEN s2 / CAST(n2 AS DOUBLE) / 100.0
              ELSE 0.0 END AS r2
  FROM cells CROSS JOIN tot
)
SELECT segment, n1, n2,
       round(sh1, 6) AS share_1,
       round(sh2, 6) AS share_2,
       round(r1, 6) AS rate_1,
       round(r2, 6) AS rate_2,
       round((sh2 - sh1) * r1, 6) AS mix_contrib,
       round(sh2 * (r2 - r1), 6) AS rate_contrib
FROM m
ORDER BY segment
"""


def x224_absorption_conversion(spark, sf_dir):
    """Eventual-conversion probability by state
    (funnel.absorption_conversion): absorbing-Markov-chain solve
    (purchase = 1, session END = 0) by 25 Jacobi sweeps on the
    session transition matrix — 'a user currently at t: how likely do
    they convert before the session dies?'."""
    return funnel.absorption_conversion(_t(spark, sf_dir, "events"))


def _x224_step(i: int) -> str:
    return f""",
a{i} AS MATERIALIZED (
  SELECT t.a AS state,
         list_aggregate(list(t.p * av.val ORDER BY t.b), 'sum') AS val
  FROM trans t JOIN a{i - 1} av ON av.state = t.b
  GROUP BY 1
  UNION ALL SELECT 'purchase', 1.0
  UNION ALL SELECT '__END__', 0.0
)"""


X224_SQL = (
    """
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         date_diff('second',
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                   ts) AS gap
  FROM events
),
sess AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(CASE WHEN gap > 1800 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sn
  FROM ordered
),
pairs AS (
  SELECT event_type AS a,
         COALESCE(lead(event_type) OVER (PARTITION BY user_id, sn
                                         ORDER BY ts, event_id),
                  '__END__') AS b
  FROM sess
),
cells AS MATERIALIZED (
  SELECT a, b, CAST(count(*) AS BIGINT) AS n
  FROM pairs WHERE a <> 'purchase' GROUP BY 1, 2
),
trans AS MATERIALIZED (
  SELECT a, b,
         n / CAST(SUM(n) OVER (PARTITION BY a) AS DOUBLE) AS p,
         CAST(SUM(n) OVER (PARTITION BY a) AS BIGINT) AS out_tot
  FROM cells
),
a0 AS MATERIALIZED (
  SELECT DISTINCT a AS state, 0.0 AS val FROM trans
  UNION ALL SELECT 'purchase', 1.0
  UNION ALL SELECT '__END__', 0.0
)"""
    + "".join(_x224_step(i) for i in range(1, 26))
    + """
SELECT f.state, f.out_tot AS n_out_transitions, a25.val AS p_convert
FROM (SELECT DISTINCT a AS state, out_tot FROM trans) f
JOIN a25 ON a25.state = f.state
UNION ALL
SELECT 'purchase', CAST(0 AS BIGINT), 1.0
ORDER BY state
"""
)
