"""Evaluation metrics, statistical tests, drift, sketches, data-quality profiling."""


from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ...operators import bloom, clustering, countmin, curation, dedup, funnel, heavyhitters, multimodal, profile, simsearch, textstats, theta
from ...operators.profile import profile_table
from ...sources.tables import load_table as _t
from ._shared import (
    _STOP_EN,
    _X19X_DAILY,
    _X67_NORM,
    _X73_U,
    _hex12_int_sql,
)



def x14_table_profile(spark, sf_dir):
    """One-pass per-column profile of orders (exact distinct mode so the
    oracle can mirror; approx mode is the scale default)."""
    return profile_table(_t(spark, sf_dir, "orders"), approx_distinct=False)


def _profile_col_sql(name: str, numeric: bool, cast_minmax: bool = True) -> str:
    mm = f"CAST(MIN({name}) AS VARCHAR)" if cast_minmax else f"MIN({name})"
    mx = f"CAST(MAX({name}) AS VARCHAR)" if cast_minmax else f"MAX({name})"
    mean = f"round(AVG({name}), 4)" if numeric else "CAST(NULL AS DOUBLE)"
    return (
        f"SELECT '{name}' AS \"column\", count(*) AS n_rows, "
        f"CAST(SUM(CASE WHEN {name} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls, "
        f"count(DISTINCT {name}) AS n_distinct, "
        f"{mm} AS min_val, {mx} AS max_val, {mean} AS mean_val FROM orders"
    )


X14_SQL = "\nUNION ALL\n".join(
    [
        _profile_col_sql("o_orderkey", True),
        _profile_col_sql("o_custkey", True),
        _profile_col_sql("o_orderstatus", False),
        _profile_col_sql("o_totalprice", True),
        _profile_col_sql("o_orderdate", False),
        _profile_col_sql("o_orderpriority", False),
    ]
)


def x15_approx_aggregates(spark, sf_dir):
    """Sketch aggregates (HyperLogLog++ distinct, approximate quantiles) —
    estimator implementations differ per engine, so rows-only check; the
    companion test bounds the error against exact values."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
        F.percentile_approx("l_extendedprice", 0.5).alias("approx_median_price"),
        F.percentile_approx("l_extendedprice", 0.99).alias("approx_p99_price"),
    )


def x31_hll_mergeable_sketches(spark, sf_dir):
    """Mergeable HLL sketches (Datasketches via hll_sketch_agg): per-type
    distinct-user sketches UNIONED into a global estimate without
    re-scanning — the re-aggregation property plain approx_count_distinct
    lacks, and the 100 TB shape for distinct counts over rollup
    hierarchies (sketch once per leaf, merge upward). Rows-only (estimator
    internals differ per engine); the companion pytest bounds the error
    against exact distinct counts."""
    ev = _t(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count(F.lit(1)).alias("n_events"),
    )
    leaf = per_type.select(
        "event_type",
        "n_events",
        F.hll_sketch_estimate("sk").alias("approx_users"),
    )
    total = per_type.agg(
        F.hll_union_agg("sk").alias("sk"), F.sum("n_events").alias("n_events")
    ).select(
        F.lit("__all__").alias("event_type"),
        "n_events",
        F.hll_sketch_estimate("sk").alias("approx_users"),
    )
    return leaf.unionAll(total)


def x32_expectations(spark, sf_dir):
    """Declarative data-quality gate (operators/expectations.py): every
    rule compiles into ONE aggregate pass; result is the per-rule
    violation count. On this clean testdata a negative rule (price
    capped at 1000) is included so the op demonstrably counts."""
    from ...operators.expectations import Expect, check_expectations

    o = _t(spark, sf_dir, "orders")
    rules = [
        Expect("o_orderkey", "unique"),
        Expect("o_custkey", "not_null"),
        Expect(
            "o_orderpriority",
            "in_set",
            ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
        ),
        Expect("o_totalprice", "between", (0.0, 1000.0)),
    ]
    return check_expectations(o, rules).select("rule", "violations")


X32_SQL = """
SELECT 'o_orderkey:unique' AS rule,
       CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS BIGINT) AS violations
FROM orders
UNION ALL
SELECT 'o_custkey:not_null',
       CAST(COALESCE(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
FROM orders
UNION ALL
SELECT 'o_orderpriority:in_set',
       CAST(COALESCE(SUM(CASE WHEN o_orderpriority IS NOT NULL
                               AND o_orderpriority NOT IN
            ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW')
                              THEN 1 ELSE 0 END), 0) AS BIGINT)
FROM orders
UNION ALL
SELECT 'o_totalprice:between',
       CAST(COALESCE(SUM(CASE WHEN o_totalprice IS NOT NULL
                               AND (o_totalprice < 0.0 OR o_totalprice > 1000.0)
                              THEN 1 ELSE 0 END), 0) AS BIGINT)
FROM orders
"""


def x33_theta_set_sketches(spark, sf_dir):
    """Theta/KMV sketches (operators/theta.py): distinct event_ids per
    type (k=256 — smaller than the ~2000 true distinct, so the (k-1)/theta
    estimator is actually exercised), their union, and the INTERSECTION of
    click/view user sets — the set operation HLL (x31) cannot do. Rows-only
    (the estimator is hash-defined, not SQL-expressible); KMV over xxhash64
    is a pure set property, so results are partition-count-independent and
    cross-run stable. The companion pytest bounds every estimate against
    exact distinct counts."""
    ev = _t(spark, sf_dir, "events")
    sk = theta.theta_sketch(ev, ["event_type"], "event_id", k=256)
    leaf = sk.select(
        F.col("event_type").alias("set_name"),
        F.round(theta.theta_estimate(F.col("ks"), F.col("k")), 2).alias(
            "approx_distinct"
        ),
    )
    union = sk.agg(theta.theta_union_agg(F.col("ks"), 256).alias("ks")).select(
        F.lit("__union__").alias("set_name"),
        F.round(theta.theta_estimate(F.col("ks"), F.lit(256)), 2).alias(
            "approx_distinct"
        ),
    )
    usk = theta.theta_sketch(
        ev.where(F.col("event_type").isin("click", "view")),
        ["event_type"],
        "user_id",
        k=1024,
    )
    # pair the two 1-row sketches via conditional agg — no join needed
    inter = usk.agg(
        F.any_value(
            F.when(F.col("event_type") == "click", F.col("ks")), True
        ).alias("ks_a"),
        F.any_value(
            F.when(F.col("event_type") == "view", F.col("ks")), True
        ).alias("ks_b"),
    ).select(
        F.lit("click&view:user_id").alias("set_name"),
        F.round(
            theta.theta_intersect_estimate(
                F.col("ks_a"), F.col("ks_b"), F.lit(1024), F.lit(1024)
            ),
            2,
        ).alias("approx_distinct"),
    )
    return leaf.unionAll(union).unionAll(inter)


def x244_theta_sketch_md5(spark, sf_dir):
    """x33's theta/KMV sketches re-keyed to the md5 hash family
    (VERDICT r9 #2, the x243 knob-twin pattern): the uniform hash is
    (dedup._md5_hash48(value, 0) + 1) / 2^48 — a dyadic rational DuckDB
    re-derives bit-for-bit from the same md5 hex — so min-k retention,
    theta, and the (k-1)/theta estimator all become closed-form SQL and
    the driver hash-checks the WHOLE estimator, not just row counts.
    Same shape as x33: per-type distinct-event_id estimates at k=256
    (smaller than the true distinct so the estimator is exercised), the
    sketch UNION, and the click∩view user-set intersection at k=1024.
    The oracle replays the sketch as pure set algebra: a KMV sketch IS
    the k smallest distinct hashes, union-of-sketches = k smallest of
    the distinct-hash union, and every hash below min(theta_a, theta_b)
    is retained by both sides — so full-set SQL windows reproduce the
    sketch results exactly (operators/theta.py docstring, Dasgupta et
    al. 2016). xxhash64 (x33) stays the library default — ~2× faster
    JVM-side; this entry certifies the estimator pipeline."""
    ev = _t(spark, sf_dir, "events")
    sk = theta.theta_sketch(ev, ["event_type"], "event_id", k=256, hash_fn="md5")
    leaf = sk.select(
        F.col("event_type").alias("set_name"),
        F.round(theta.theta_estimate(F.col("ks"), F.col("k")), 2).alias(
            "approx_distinct"
        ),
    )
    union = sk.agg(theta.theta_union_agg(F.col("ks"), 256).alias("ks")).select(
        F.lit("__union__").alias("set_name"),
        F.round(theta.theta_estimate(F.col("ks"), F.lit(256)), 2).alias(
            "approx_distinct"
        ),
    )
    usk = theta.theta_sketch(
        ev.where(F.col("event_type").isin("click", "view")),
        ["event_type"],
        "user_id",
        k=1024,
        hash_fn="md5",
    )
    inter = usk.agg(
        F.any_value(
            F.when(F.col("event_type") == "click", F.col("ks")), True
        ).alias("ks_a"),
        F.any_value(
            F.when(F.col("event_type") == "view", F.col("ks")), True
        ).alias("ks_b"),
    ).select(
        F.lit("click&view:user_id").alias("set_name"),
        F.round(
            theta.theta_intersect_estimate(
                F.col("ks_a"), F.col("ks_b"), F.lit(1024), F.lit(1024)
            ),
            2,
        ).alias("approx_distinct"),
    )
    return leaf.unionAll(union).unionAll(inter)


# The sketch replayed as set algebra over the full hash sets (see the
# x244 docstring for why that is exact): u = (md5-fold + 1) / 2^48; per
# type the k-th smallest distinct u is theta, estimate = (k-1)/theta or
# the exact count while unfilled; union = the same window over the
# distinct-u union; intersection counts u present in BOTH full sets
# strictly below min(theta_a, theta_b).
X244_SQL = f"""
WITH h0 AS (
  SELECT DISTINCT event_type, md5(CAST(event_id AS VARCHAR) || '#0') AS hx
  FROM events
),
hu AS (
  SELECT DISTINCT event_type,
         ({_hex12_int_sql('hx')} + 1) / 281474976710656.0 AS u
  FROM h0
),
rk AS (
  SELECT event_type, u,
         row_number() OVER (PARTITION BY event_type ORDER BY u) AS rn
  FROM hu
),
stats AS (
  SELECT event_type, count(*) AS n,
         max(CASE WHEN rn = 256 THEN u END) AS theta
  FROM rk GROUP BY 1
),
leaf AS (
  SELECT event_type AS set_name,
         round(CASE WHEN n < 256 THEN CAST(n AS DOUBLE)
                    ELSE 255.0 / theta END, 2) AS approx_distinct
  FROM stats
),
urk AS (
  SELECT u, row_number() OVER (ORDER BY u) AS rn
  FROM (SELECT DISTINCT u FROM hu)
),
ustats AS (
  SELECT count(*) AS n, max(CASE WHEN rn = 256 THEN u END) AS theta FROM urk
),
uni AS (
  SELECT '__union__' AS set_name,
         round(CASE WHEN n < 256 THEN CAST(n AS DOUBLE)
                    ELSE 255.0 / theta END, 2) AS approx_distinct
  FROM ustats
),
uh0 AS (
  SELECT DISTINCT event_type, md5(CAST(user_id AS VARCHAR) || '#0') AS hx
  FROM events WHERE event_type IN ('click', 'view')
),
uhu AS (
  SELECT DISTINCT event_type,
         ({_hex12_int_sql('hx')} + 1) / 281474976710656.0 AS u
  FROM uh0
),
upar AS (
  SELECT event_type, u,
         row_number() OVER (PARTITION BY event_type ORDER BY u) AS rn
  FROM uhu
),
ts AS (
  SELECT
    coalesce(max(CASE WHEN event_type = 'click' AND rn = 1024 THEN u END), 1.0) AS ta,
    coalesce(max(CASE WHEN event_type = 'view' AND rn = 1024 THEN u END), 1.0) AS tb
  FROM upar
),
inter AS (
  SELECT 'click&view:user_id' AS set_name,
         round(CAST(count(*) AS DOUBLE)
               / (SELECT least(ta, tb) FROM ts), 2) AS approx_distinct
  FROM uhu c JOIN uhu v ON c.u = v.u
  WHERE c.event_type = 'click' AND v.event_type = 'view'
    AND c.u < (SELECT least(ta, tb) FROM ts)
)
SELECT * FROM leaf
UNION ALL SELECT * FROM uni
UNION ALL SELECT * FROM inter
"""


def x41_heavy_hitters(spark, sf_dir):
    """Heavy-hitter tokens (operators/heavyhitters.py): Misra-Gries
    candidate sketch per partition + exact recount — returns EXACTLY the
    tokens with frequency >= ceil(0.002·N), so the sketch inside is
    invisible to the oracle. The wide long-tail shuffle never happens:
    candidates are bounded at k per partition."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        F.explode(
            textstats.tokens(textstats.normalize_text(F.col("text")))
        ).alias("token")
    )
    return (
        heavyhitters.heavy_hitters(tok, "token", k=999, min_frac=0.002)
        .withColumnRenamed("item", "token")
    )


X41_SQL = r"""
WITH tok AS (
  SELECT unnest(list_filter(regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), '\s+'), t -> t <> '')) AS token
  FROM documents
), tot AS (SELECT count(*) AS n FROM tok)
SELECT token, CAST(count(*) AS BIGINT) AS cnt
FROM tok CROSS JOIN tot
GROUP BY token, tot.n
HAVING count(*) >= ceil(0.002 * n)
"""


def x48_ab_welch_ttest(spark, sf_dir):
    """A/B experiment readout: users split into two variants by id
    parity; per event_type the per-variant sample stats plus Welch's
    t statistic and degrees of freedom over `value` — the unequal-
    variance two-sample test every experimentation platform computes.
    Scale notes: one map-side-combinable conditional aggregate per
    event_type (count/avg/var_samp under CASE); the t/dof arithmetic is
    a scalar projection over the G-row aggregate. Nothing but
    (event_type, value, parity) ever shuffles."""
    ev = _t(spark, sf_dir, "events")
    va = F.when(F.col("user_id") % 2 == 0, F.col("value"))
    vb = F.when(F.col("user_id") % 2 == 1, F.col("value"))
    agg = ev.groupBy("event_type").agg(
        F.count(va).alias("n_a"),
        F.count(vb).alias("n_b"),
        F.avg(va).alias("m_a"),
        F.avg(vb).alias("m_b"),
        F.var_samp(va).alias("v_a"),
        F.var_samp(vb).alias("v_b"),
    )
    se_a = F.col("v_a") / F.col("n_a")
    se_b = F.col("v_b") / F.col("n_b")
    t = (F.col("m_a") - F.col("m_b")) / F.sqrt(se_a + se_b)
    dof = (se_a + se_b) * (se_a + se_b) / (
        se_a * se_a / (F.col("n_a") - 1) + se_b * se_b / (F.col("n_b") - 1)
    )
    return agg.select(
        "event_type",
        "n_a",
        "n_b",
        F.round("m_a", 4).alias("mean_a"),
        F.round("m_b", 4).alias("mean_b"),
        F.round("v_a", 4).alias("var_a"),
        F.round("v_b", 4).alias("var_b"),
        F.round(t, 4).alias("welch_t"),
        F.round(dof, 2).alias("welch_dof"),
    ).orderBy("event_type")


X48_SQL = """
WITH agg AS (
  SELECT event_type,
         count(CASE WHEN user_id % 2 = 0 THEN value END) AS n_a,
         count(CASE WHEN user_id % 2 = 1 THEN value END) AS n_b,
         avg(CASE WHEN user_id % 2 = 0 THEN value END) AS m_a,
         avg(CASE WHEN user_id % 2 = 1 THEN value END) AS m_b,
         var_samp(CASE WHEN user_id % 2 = 0 THEN value END) AS v_a,
         var_samp(CASE WHEN user_id % 2 = 1 THEN value END) AS v_b
  FROM events GROUP BY event_type
)
SELECT event_type, n_a, n_b,
       round(m_a, 4) AS mean_a,
       round(m_b, 4) AS mean_b,
       round(v_a, 4) AS var_a,
       round(v_b, 4) AS var_b,
       round((m_a - m_b) / sqrt(v_a / n_a + v_b / n_b), 4) AS welch_t,
       round((v_a / n_a + v_b / n_b) * (v_a / n_a + v_b / n_b)
             / ((v_a / n_a) * (v_a / n_a) / (n_a - 1)
                + (v_b / n_b) * (v_b / n_b) / (n_b - 1)), 2) AS welch_dof
FROM agg ORDER BY event_type
"""


def x55_countmin_freq(spark, sf_dir):
    """Count-min sketch frequency estimation (operators/countmin.py):
    build a 4x512 md5-hashed grid over the whitespace-token stream of
    `documents`, then point-query it for the 20 exact-top tokens and
    report estimate vs truth. The sketch shuffle is capped at
    depth*width rows no matter the corpus size — the frequency profile
    to reach for when even a Misra-Gries candidate set would be too
    big. Fully oracle-checked: the md5 bucket fold replays bit-for-bit
    in DuckDB."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        F.explode(
            textstats.tokens(textstats.normalize_text(F.col("text")))
        ).alias("token")
    )
    sketch = countmin.cm_build(tok, "token", depth=4, width=512)
    top = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), "token")
        .limit(20)
    )
    est = countmin.cm_estimate(sketch, top, "token", width=512, depth=4)
    return (
        top.join(est, "token")
        .select("token", "true_cnt", "est_cnt")
        .orderBy(F.desc("true_cnt"), "token")
    )


X55_SQL = r"""
WITH tok AS (
  SELECT unnest(list_filter(regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), '\s+'), t -> t <> '')) AS token
  FROM documents
),
depths AS (SELECT unnest(range(4)) AS depth),
hashed AS (
  SELECT depth, token, md5(depth || ':' || token) AS h
  FROM tok CROSS JOIN depths
),
cells AS (
  SELECT depth,
         ((ascii(substring(h, 1, 1)) - CASE WHEN ascii(substring(h, 1, 1)) >= 97 THEN 87 ELSE 48 END) * 4096
          + (ascii(substring(h, 2, 1)) - CASE WHEN ascii(substring(h, 2, 1)) >= 97 THEN 87 ELSE 48 END) * 256
          + (ascii(substring(h, 3, 1)) - CASE WHEN ascii(substring(h, 3, 1)) >= 97 THEN 87 ELSE 48 END) * 16
          + (ascii(substring(h, 4, 1)) - CASE WHEN ascii(substring(h, 4, 1)) >= 97 THEN 87 ELSE 48 END)) % 512 AS bucket,
         count(*) AS cnt
  FROM hashed
  GROUP BY 1, 2
),
top AS (
  SELECT token, count(*) AS true_cnt FROM tok GROUP BY token
  ORDER BY true_cnt DESC, token LIMIT 20
),
probe_h AS (
  SELECT t.token, t.true_cnt, d.depth, md5(d.depth || ':' || t.token) AS h
  FROM top t CROSS JOIN depths d
),
probe AS (
  SELECT token, true_cnt, depth,
         ((ascii(substring(h, 1, 1)) - CASE WHEN ascii(substring(h, 1, 1)) >= 97 THEN 87 ELSE 48 END) * 4096
          + (ascii(substring(h, 2, 1)) - CASE WHEN ascii(substring(h, 2, 1)) >= 97 THEN 87 ELSE 48 END) * 256
          + (ascii(substring(h, 3, 1)) - CASE WHEN ascii(substring(h, 3, 1)) >= 97 THEN 87 ELSE 48 END) * 16
          + (ascii(substring(h, 4, 1)) - CASE WHEN ascii(substring(h, 4, 1)) >= 97 THEN 87 ELSE 48 END)) % 512 AS bucket
  FROM probe_h
)
SELECT p.token, p.true_cnt, MIN(COALESCE(c.cnt, 0)) AS est_cnt
FROM probe p LEFT JOIN cells c USING (depth, bucket)
GROUP BY p.token, p.true_cnt
ORDER BY p.true_cnt DESC, p.token
"""


def x58_quantile_sketch(spark, sf_dir):
    """Mergeable KLL/MRL-style quantile sketch (operators/quantiles.py):
    p50/p90/p99 of events.value from a bounded compactor sketch built
    map-side per Arrow batch and tree-merged — the persist-and-re-aggregate
    quantile primitive the sketch family was missing (HLL/theta give
    distincts, count-min frequencies; this gives rank statistics that
    merge across days/partitions without re-scanning). Rows-only (the
    compaction rule is not SQL-expressible); the companion pytest bounds
    rank error against exact quantiles and pins merge associativity."""
    from ...operators import quantiles

    ev = _t(spark, sf_dir, "events").select("value")
    sk = quantiles.quantile_sketch(ev, "value", k=200)
    return quantiles.sketch_quantiles(sk, [0.5, 0.9, 0.99], k=200).select(
        "prob", F.round("approx_value", 4).alias("approx_value")
    )


def x247_det_quantile_sketch(spark, sf_dir):
    """x58's quantile sketch in its order-independent configuration
    (VERDICT r9 #6): the whole multiset as ONE batch makes the KLL/MRL
    compaction a pure set function — the surviving level holds the
    sorted values at ranks ≡ r (mod 2^h) with h the first level whose
    survivor count drops to ≤ k — so the compaction rule AND the
    weighted-rank estimator replay exactly in SQL
    (quantiles.det_quantile_sketch_quantiles; the oracle picks the same
    (h, r) from closed forms over count(*)). Same query shape as x58:
    p50/p90/p99 of events.value at k=200. x58's adaptive two-tier build
    stays rows-only (batch-dependent compaction counts ARE its point);
    this entry certifies the shared rule the batches apply."""
    from ...operators.quantiles import det_quantile_sketch_quantiles

    ev = _t(spark, sf_dir, "events")
    return det_quantile_sketch_quantiles(
        ev, "value", [0.5, 0.9, 0.99], k=200
    ).select("prob", F.round("approx_value", 4).alias("approx_value"))


# h selection: the first level whose survivor count m_h <= k, with
# r_h = 2*(4^(h//2) - 1)/3 (sum of 2^l over odd l < h) and ceil-halving
# survivor counts m_h = (n - r_h - 1) // 2^h + 1; then the kept values
# are the sorted ranks ≡ r (mod 2^h) and the estimate is the
# ceil(prob*m)-th kept value.
X247_SQL = """
WITH v AS (
  SELECT CAST(value AS DOUBLE) AS v FROM events WHERE value IS NOT NULL
),
nn AS (SELECT count(*) AS n FROM v),
hs AS (
  SELECT l AS h,
         2 * ((CAST(1 AS BIGINT) << (2 * (l // 2))) - 1) // 3 AS r,
         (CAST(1 AS BIGINT) << l) AS step
  FROM range(0, 48) t(l)
),
cand AS (
  SELECT h, r, step, (n - r - 1) // step + 1 AS m
  FROM hs CROSS JOIN nn WHERE n > r
),
g AS (
  SELECT h, r, step, m FROM cand WHERE m <= 200 ORDER BY h LIMIT 1
),
idx AS (
  SELECT v, row_number() OVER (ORDER BY v) - 1 AS i FROM v
),
kept AS (
  SELECT x.v, (x.i - g.r) // g.step + 1 AS j
  FROM idx x CROSS JOIN g
  WHERE x.i % g.step = g.r
),
probs(prob) AS (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.9 AS DOUBLE)),
                       (CAST(0.99 AS DOUBLE)))
SELECT p.prob,
       round(k.v, 4) AS approx_value
FROM probs p
JOIN g ON TRUE
JOIN kept k ON k.j = CAST(ceil(p.prob * g.m) AS BIGINT)
ORDER BY p.prob
"""


def x63_approx_groupby(spark, sf_dir):
    """Approximate query processing (operators/aqp.py): per-event-type
    revenue totals from a 10% Bernoulli sample with Horvitz-Thompson
    scale-up and 95% CIs — the interactive first pass at 100 TB (sample
    predicate pushed into the scan; the exact query is the same plan
    minus the sample). Rows-only: Spark's split-deterministic sampler is
    not reproducible in the oracle engine; the CI-coverage pytest pins
    the estimator semantics instead."""
    from ...operators.aqp import approx_groupby_sum

    ev = _t(spark, sf_dir, "events")
    out = approx_groupby_sum(ev, ["event_type"], "value", fraction=0.1, seed=42)
    return out.select(
        "event_type",
        "n_sampled",
        F.round("est_count", 2).alias("est_count"),
        F.round("est_total", 2).alias("est_total"),
        F.round("se_total", 2).alias("se_total"),
    )


def x245_approx_groupby_md5(spark, sf_dir):
    """x63's approximate grouped revenue with the sampler re-keyed to
    the deterministic md5-Bernoulli predicate (VERDICT r9 #3, the x243
    knob-twin pattern): a row is sampled iff
    (md5-fold(event_id # aqp42) + 1) / 2^48 <= 0.1 — a dyadic-rational
    compare DuckDB replays bit-for-bit — so the sample membership, the
    Horvitz-Thompson scale-up, and the CLT standard errors are ALL
    value-checked by the driver, not just row counts. Same plan shape
    as x63 (sample predicate pushed into the scan, one map-side-
    combinable aggregate); the built-in sampler stays the operator
    default (faster per row; x63 pins its CI semantics via pytest).
    The hash-Bernoulli sample is also relayout-stable: the same rows
    are in the sample regardless of partitioning — the reproducibility
    property a 100 TB interactive tier actually wants."""
    from ...operators.aqp import approx_groupby_sum

    ev = _t(spark, sf_dir, "events")
    out = approx_groupby_sum(
        ev, ["event_type"], "value", fraction=0.1, seed=42,
        method="md5", sample_key="event_id",
    )
    return out.select(
        "event_type",
        "n_sampled",
        F.round("est_count", 2).alias("est_count"),
        F.round("est_total", 2).alias("est_total"),
        F.round("se_total", 2).alias("se_total"),
    )


X245_SQL = f"""
WITH s AS (
  SELECT event_type, CAST(value AS DOUBLE) AS v
  FROM (
    SELECT event_type, value,
           md5(CAST(event_id AS VARCHAR) || '#aqp42') AS hx
    FROM events
  )
  WHERE ({_hex12_int_sql('hx')} + 1) / 281474976710656.0 <= 0.1
),
agg AS (
  SELECT event_type,
         count(*) AS n_sampled,
         SUM(v) AS sv,
         SUM(v * v) AS sv2
  FROM s GROUP BY 1
)
SELECT event_type,
       n_sampled,
       round(n_sampled / 0.1, 2) AS est_count,
       round(sv / 0.1, 2) AS est_total,
       round(sqrt(sv2 * (1.0 - 0.1) / (0.1 * 0.1)), 2) AS se_total
FROM agg
"""


def x64_group_quantiles(spark, sf_dir):
    """Per-group quantiles from keyed mergeable sketches
    (operators/quantiles.py:group_quantiles): p50/p90 of events.value per
    (event_type, day). Two-tier build — per-batch partial sketches
    map-side, sketch-only shuffle keyed by group — and the rank rule
    matches SQL quantile_disc EXACTLY while a group fits one uncompacted
    buffer (k=4096 ≥ max group 739 here), which is what makes this
    oracle row a hard equality check on the sketch machinery; larger
    groups degrade gracefully to ~log2(n/k)/k rank error (pytest covers
    that regime)."""
    from ...operators import quantiles

    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day"), "value"
    )
    return quantiles.group_quantiles(
        ev, ["event_type", "day"], "value", [0.5, 0.9], k=4096
    )


X64_SQL = """
SELECT event_type, CAST(ts AS DATE) AS day, CAST(0.5 AS DOUBLE) AS prob,
       quantile_disc(value, 0.5) AS approx_value
FROM events GROUP BY 1, 2
UNION ALL
SELECT event_type, CAST(ts AS DATE) AS day, CAST(0.9 AS DOUBLE) AS prob,
       quantile_disc(value, 0.9) AS approx_value
FROM events GROUP BY 1, 2
"""


def x70_ndcg_eval(spark, sf_dir):
    """Retrieval-quality eval (operators/textstats.ndcg_eval): NDCG@10
    of the BM25 ranking per single-term query with graded relevance =
    term frequency — the metric watched when tuning k1/b. Same query
    bag as x45; windows partition by term, so parallelism is bounded by
    |queries|, each partition carrying only (term, doc, tf, dl) rows."""
    return textstats.ndcg_eval(
        _t(spark, sf_dir, "documents"), ["spark", "join", "window"]
    )


X70_SQL = rf"""
WITH tok AS (
  SELECT doc_id, toks FROM (SELECT doc_id, {_X67_NORM} AS toks FROM documents)
),
flat AS (
  SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM tok
),
tf AS (
  SELECT term, doc_id, dl, count(*) AS tf
  FROM flat WHERE term IN ('spark', 'join', 'window')
  GROUP BY 1, 2, 3
),
dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
stats AS (SELECT count(*) AS n, avg(len(toks)) AS avgdl FROM tok),
scored AS (
  SELECT t.term, t.doc_id, t.tf AS rel,
         ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1)
           * t.tf * 2.2 / (t.tf + 1.2 * (1 - 0.75 + 0.75 * t.dl / s.avgdl)) AS score
  FROM tf t JOIN dfx d USING (term) CROSS JOIN stats s
),
ranked AS (
  SELECT term, rel,
         row_number() OVER (PARTITION BY term ORDER BY score DESC, doc_id) AS rk,
         row_number() OVER (PARTITION BY term ORDER BY rel DESC, doc_id) AS irk
  FROM scored
)
SELECT term,
       count(*) AS n_candidates,
       round(sum(CASE WHEN rk <= 10 THEN rel / log2(rk + 1.0) ELSE 0 END)
             / sum(CASE WHEN irk <= 10 THEN rel / log2(irk + 1.0) ELSE 0 END), 6) AS ndcg
FROM ranked
GROUP BY term
"""


def x77_quality_psi(spark, sf_dir):
    """Per-source quality drift as Population Stability Index: each
    source's quality-score histogram (10 equal-width bins, Laplace
    0.5-smoothed) vs the corpus-wide one; PSI = Σ (p_s − p_c)·ln(p_s /
    p_c) — the data-monitoring metric that flags a crawl source going
    bad between snapshots. Two map-side-combinable aggregates + a
    10×|sources| grid (broadcast-tiny); the score is the closed-form
    x9 heuristic so the oracle mirrors it bit-for-bit."""
    from ...operators.textstats import quality_score

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "source",
        F.least(F.floor(quality_score(F.col("text")) * 10), F.lit(9))
        .cast("int")
        .alias("b"),
    )
    per_sb = scored.groupBy("source", "b").agg(F.count(F.lit(1)).alias("n_sb"))
    per_s = scored.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    per_b = scored.groupBy("b").agg(F.count(F.lit(1)).alias("n_b"))
    total = scored.agg(F.count(F.lit(1)).alias("n"))
    grid = per_s.crossJoin(spark.range(10).select(F.col("id").cast("int").alias("b")))
    joined = (
        grid.join(per_sb, ["source", "b"], "left")
        .join(F.broadcast(per_b), "b", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_s",
            ((F.coalesce("n_sb", F.lit(0)) + 0.5) / (F.col("n_s") + 5)).alias("ps"),
            ((F.coalesce("n_b", F.lit(0)) + 0.5) / (F.col("n") + 5)).alias("pc"),
        )
    )
    return (
        joined.groupBy("source")
        .agg(
            F.max("n_s").alias("n_docs"),
            F.round(F.sum((F.col("ps") - F.col("pc")) * F.log(F.col("ps") / F.col("pc"))), 6).alias("psi"),
        )
        .select("source", F.col("n_docs").cast("long").alias("n_docs"), "psi")
    )


X77_SQL = rf"""
WITH base AS (
  SELECT source, text,
         list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS toks
  FROM documents
),
q AS (
  SELECT source,
         (CASE WHEN len(toks) BETWEEN 10 AND 10000 THEN 0.4 ELSE 0.0 END
          + CASE WHEN CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum') AS DOUBLE)
                      / greatest(len(toks), 1) BETWEEN 3.0 AND 10.0 THEN 0.3 ELSE 0.0 END
          + CASE WHEN CAST(len(list_filter(list_transform(toks, t -> lower(t)),
                               t -> list_contains({_STOP_EN}, t))) AS DOUBLE)
                      / greatest(len(toks), 1) >= 0.01 THEN 0.2 ELSE 0.0 END
          + CASE WHEN CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                      / greatest(length(text), 1) <= 0.2 THEN 0.1 ELSE 0.0 END) AS score
  FROM base
),
binned AS (SELECT source, CAST(least(floor(score * 10), 9) AS INT) AS b FROM q),
per_sb AS (SELECT source, b, count(*) AS n_sb FROM binned GROUP BY 1, 2),
per_s AS (SELECT source, count(*) AS n_s FROM binned GROUP BY 1),
per_b AS (SELECT b, count(*) AS n_b FROM binned GROUP BY 1),
total AS (SELECT count(*) AS n FROM binned),
grid AS (
  SELECT s.source, s.n_s, g.b
  FROM per_s s CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS b) g
),
joined AS (
  SELECT gr.source, gr.n_s,
         (COALESCE(sb.n_sb, 0) + 0.5) / (gr.n_s + 5) AS ps,
         (COALESCE(pb.n_b, 0) + 0.5) / (t.n + 5) AS pc
  FROM grid gr
  LEFT JOIN per_sb sb ON gr.source = sb.source AND gr.b = sb.b
  LEFT JOIN per_b pb ON gr.b = pb.b
  CROSS JOIN total t
)
SELECT source, CAST(MAX(n_s) AS BIGINT) AS n_docs,
       round(SUM((ps - pc) * ln(ps / pc)), 6) AS psi
FROM joined
GROUP BY source
"""


def x78_ks_drift(spark, sf_dir):
    """Exact two-sample Kolmogorov–Smirnov drift between the two md5
    halves of orders.o_totalprice (profile.ks_two_sample) — the
    distribution-drift monitor between snapshot halves. The global
    ordered CDF runs on scalable_running_sum (range-bucketed prefix
    sums + broadcast offsets), exercising the round-3-fixed helper on
    TWO stacked cumulative columns; integer cumulative counts divide
    only at the end, so the statistic is bit-identical cross-engine
    with no rounding convention needed."""
    return profile.ks_two_sample(
        _t(spark, sf_dir, "orders"), "o_totalprice", "o_orderkey"
    )


X78_SQL = """
WITH assigned AS (
  SELECT o_totalprice AS val,
         CASE WHEN (ascii(substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) * 256
                  + ascii(substring(md5(CAST(o_orderkey AS VARCHAR)), 2, 1))) % 100 < 50
              THEN 1 ELSE 0 END AS a
  FROM orders
),
grouped AS (
  SELECT val, SUM(a) AS cnt_a, SUM(1 - a) AS cnt_b FROM assigned GROUP BY val
),
cum AS (
  SELECT val,
         SUM(cnt_a) OVER (ORDER BY val ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
         SUM(cnt_b) OVER (ORDER BY val ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b
  FROM grouped
),
tot AS (SELECT CAST(SUM(cnt_a) AS BIGINT) AS n_a,
               CAST(SUM(cnt_b) AS BIGINT) AS n_b FROM grouped),
scored AS (
  SELECT t.n_a, t.n_b,
         abs(CAST(c.cum_a AS DOUBLE) / t.n_a - CAST(c.cum_b AS DOUBLE) / t.n_b) AS d,
         CAST(c.val AS DOUBLE) AS val
  FROM cum c CROSS JOIN tot t
)
SELECT n_a, n_b, round(max(d), 6) AS ks_stat,
       round(min(val) FILTER (d = (SELECT max(d) FROM scored)), 2) AS at_value
FROM scored GROUP BY n_a, n_b
"""


def x100_lang_source_mi(spark, sf_dir):
    """Language×source mutual information (profile.categorical_mi):
    per-cell joint probability, pointwise MI, and MI contribution — the
    covariate-confounding audit that decides whether splits must
    stratify on both columns."""
    return profile.categorical_mi(_t(spark, sf_dir, "documents"))


X100_SQL = """
WITH joint AS (SELECT lang, source, count(*) AS n FROM documents GROUP BY 1, 2),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM joint),
ma AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_a FROM joint GROUP BY 1),
mb AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_b FROM joint GROUP BY 1)
SELECT j.lang, j.source, j.n, ma.n_a, mb.n_b,
       round(CAST(j.n AS DOUBLE) / t.n_total, 6) AS p_joint,
       round(ln(CAST(j.n AS DOUBLE) * t.n_total / (ma.n_a * mb.n_b)), 6)
         AS pmi,
       round((CAST(j.n AS DOUBLE) / t.n_total)
             * ln(CAST(j.n AS DOUBLE) * t.n_total / (ma.n_a * mb.n_b)), 6)
         AS mi_contrib
FROM joint j JOIN ma USING (lang) JOIN mb USING (source) CROSS JOIN tot t
"""


def x104_label_separability(spark, sf_dir):
    """Per-dimension Fisher discriminant audit
    (profile.label_separability): between-label vs within-label variance
    per embedding dimension — which dimensions actually separate the
    classes. Sum-of-moments identities over one (dim, label) aggregate;
    the shuffle carries dims x labels rows, never vectors."""
    return profile.label_separability(_t(spark, sf_dir, "embeddings"))


X104_SQL = """
WITH exploded AS (
  SELECT label, generate_subscripts(embedding, 1) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
cells AS (
  SELECT dim, label, count(*) AS n, avg(v) AS m, avg(v * v) AS m2
  FROM exploded GROUP BY 1, 2
),
agg AS (
  SELECT dim, count(*) AS n_labels,
         CAST(SUM(n) AS DOUBLE) AS s0,
         SUM(n * m) AS s1,
         SUM(n * m * m) AS s2,
         SUM(n * m2) AS sw
  FROM cells GROUP BY 1
)
SELECT dim, n_labels,
       round(s1 / s0, 6) + 0 AS grand_mean,
       round(s2 / s0 - (s1 / s0) * (s1 / s0), 6) + 0 AS between_var,
       round((sw - s2) / s0, 6) + 0 AS within_var,
       CASE WHEN (sw - s2) / s0 > 0
            THEN round((s2 / s0 - (s1 / s0) * (s1 / s0)) / ((sw - s2) / s0), 6) + 0
       END AS fisher_ratio
FROM agg
"""


def x113_lf_agreement(spark, sf_dir):
    """Weak-supervision LF agreement matrix (textstats.lf_agreement):
    pairwise agreement/conflict/co-fire counts of the four quality_score
    component heuristics treated as binary voters — the Snorkel
    label-model input audit. One global 10-sum aggregate; the 6-pair
    matrix is a constant-width stack of the 1-row result."""
    return textstats.lf_agreement(_t(spark, sf_dir, "documents"))


_X113_PAIRS = [
    ("lf_len", "lf_mtl"), ("lf_len", "lf_stop"), ("lf_len", "lf_digit"),
    ("lf_mtl", "lf_stop"), ("lf_mtl", "lf_digit"), ("lf_stop", "lf_digit"),
]

_X113_AGGS = ",\n         ".join(
    f"CAST(SUM(CASE WHEN {a} = {b} THEN 1 ELSE 0 END) AS BIGINT) AS ag_{a}_{b},\n"
    f"         CAST(SUM(CASE WHEN {a} = 1 AND {b} = 1 THEN 1 ELSE 0 END) AS BIGINT)"
    f" AS bo_{a}_{b}"
    for a, b in _X113_PAIRS
)

_X113_ROWS = "\nUNION ALL\n".join(
    f"SELECT '{a}' AS lf_a, '{b}' AS lf_b, ag_{a}_{b} AS n_agree,\n"
    f"       CAST(n_docs - ag_{a}_{b} AS BIGINT) AS n_conflict,\n"
    f"       bo_{a}_{b} AS n_both_fire,\n"
    f"       round(CAST(ag_{a}_{b} AS DOUBLE) / n_docs, 6) AS agree_rate\n"
    f"FROM agg"
    for a, b in _X113_PAIRS
)

X113_SQL = rf"""
WITH base AS (
  SELECT text,
         list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS toks
  FROM documents
),
feats AS (
  SELECT len(toks) AS nt,
         CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum') AS DOUBLE)
           / greatest(len(toks), 1) AS mtl,
         CAST(len(list_filter(list_transform(toks, t -> lower(t)),
                  t -> list_contains({_STOP_EN}, t))) AS DOUBLE)
           / greatest(len(toks), 1) AS swr,
         CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS digr
  FROM base
),
votes AS (
  SELECT CASE WHEN nt BETWEEN 10 AND 10000 THEN 1 ELSE 0 END AS lf_len,
         CASE WHEN mtl BETWEEN 3.0 AND 10.0 THEN 1 ELSE 0 END AS lf_mtl,
         CASE WHEN swr >= 0.01 THEN 1 ELSE 0 END AS lf_stop,
         CASE WHEN digr <= 0.2 THEN 1 ELSE 0 END AS lf_digit
  FROM feats
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         {_X113_AGGS}
  FROM votes
)
{_X113_ROWS}
"""


def x137_iqr_outliers(spark, sf_dir):
    """Tukey IQR-fence outliers per market segment
    (profile.iqr_outliers): exact integer-cents quartiles, 1.5-IQR
    fences, outlier counts/shares — one percentile aggregate broadcast
    back + one counting pass."""
    return profile.iqr_outliers(_t(spark, sf_dir, "customer"))


X137_SQL = """
WITH vals AS (
  SELECT c_mktsegment AS grp,
         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents
  FROM customer
),
fences AS (
  SELECT grp,
         quantile_cont(CAST(cents AS DOUBLE), 0.25) AS q1c,
         quantile_cont(CAST(cents AS DOUBLE), 0.75) AS q3c
  FROM vals GROUP BY 1
)
SELECT v.grp AS c_mktsegment,
       CAST(count(*) AS BIGINT) AS n,
       round(MIN(q1c) / 100.0, 4) AS q1,
       round(MIN(q3c) / 100.0, 4) AS q3,
       round(MIN(q1c - 1.5 * (q3c - q1c)) / 100.0, 4) AS lo_fence,
       round(MIN(q3c + 1.5 * (q3c - q1c)) / 100.0, 4) AS hi_fence,
       CAST(SUM(CASE WHEN v.cents < q1c - 1.5 * (q3c - q1c)
                       OR v.cents > q3c + 1.5 * (q3c - q1c)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       round(CAST(SUM(CASE WHEN v.cents < q1c - 1.5 * (q3c - q1c)
                             OR v.cents > q3c + 1.5 * (q3c - q1c)
                           THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
         AS outlier_share
FROM vals v JOIN fences f USING (grp)
GROUP BY 1
"""


def x141_winsorization(spark, sf_dir):
    """Winsorization impact report (profile.winsorization_report): per
    order priority, exact p01/p99 integer-cents fences, clamp counts,
    and the raw->clamped mean shift — one G-row percentile aggregate
    broadcast back + one counting/means pass."""
    return profile.winsorization_report(_t(spark, sf_dir, "orders"))


X141_SQL = """
WITH vals AS (
  SELECT o_orderpriority AS grp,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
),
fences AS (
  SELECT grp,
         quantile_cont(CAST(cents AS DOUBLE), 0.01) AS loc,
         quantile_cont(CAST(cents AS DOUBLE), 0.99) AS hic
  FROM vals GROUP BY 1
),
agg AS (
  SELECT v.grp,
         CAST(count(*) AS BIGINT) AS n,
         round(MIN(loc) / 100.0, 4) AS lo_fence,
         round(MIN(hic) / 100.0, 4) AS hi_fence,
         CAST(SUM(CASE WHEN v.cents < loc THEN 1 ELSE 0 END) AS BIGINT)
           AS n_lo,
         CAST(SUM(CASE WHEN v.cents > hic THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hi,
         round(avg(CAST(v.cents AS DOUBLE)) / 100.0, 4) AS raw_mean,
         round(avg(LEAST(GREATEST(CAST(v.cents AS DOUBLE), loc), hic))
               / 100.0, 4) AS wins_mean
  FROM vals v JOIN fences f USING (grp)
  GROUP BY 1
)
SELECT grp AS o_orderpriority, n, lo_fence, hi_fence, n_lo, n_hi,
       round(CAST(n_lo + n_hi AS DOUBLE) / n, 6) AS clamp_share,
       raw_mean, wins_mean,
       round(wins_mean - raw_mean, 4) AS mean_shift
FROM agg
"""


def x147_benford_audit(spark, sf_dir):
    """Benford first-digit forensic audit on order totals
    (profile.benford_audit): 9-cell digit histogram vs log10(1+1/d)
    expectation with chi-square contributions — one map-side aggregate
    + broadcast 1-row total."""
    return profile.benford_audit(_t(spark, sf_dir, "orders"))


X147_SQL = """
WITH cells AS (
  SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)
                             AS VARCHAR), 1, 1) AS INT) AS digit,
         CAST(count(*) AS BIGINT) AS n
  FROM orders
  WHERE CAST(round(o_totalprice * 100, 0) AS BIGINT) > 0
  GROUP BY 1
),
tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS total FROM cells)
SELECT digit, n,
       round(n / total, 6) AS obs_share,
       round(log10(1.0 + 1.0 / digit), 6) AS exp_share,
       round(n / total - log10(1.0 + 1.0 / digit), 6) AS deviation,
       round(total * pow(n / total - log10(1.0 + 1.0 / digit), 2)
             / log10(1.0 + 1.0 / digit), 6) AS chi2_contrib
FROM cells CROSS JOIN tot
ORDER BY digit
"""


def x156_wilson_error_rates(spark, sf_dir):
    """Wilson-lower-bound error-rate screening
    (funnel.wilson_error_rates): one user-keyed aggregate, closed-form
    Wilson interval from exact integers, top-20 by lower bound — the
    small-sample-proof ranking."""
    return funnel.wilson_error_rates(_t(spark, sf_dir, "events"))


X156_SQL = """
WITH cells AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_errors
  FROM events GROUP BY 1
),
scored AS (
  SELECT user_id, n_events, n_errors,
         round(CAST(n_errors AS DOUBLE) / n_events, 6) AS error_share,
         round(((CAST(n_errors AS DOUBLE) / n_events
                 + 3.8416 / (2 * n_events))
                - 1.96 * sqrt((CAST(n_errors AS DOUBLE) / n_events
                               * (1 - CAST(n_errors AS DOUBLE) / n_events)
                               + 3.8416 / (4 * n_events)) / n_events))
               / (1 + 3.8416 / n_events), 6) AS wilson_lo,
         round(((CAST(n_errors AS DOUBLE) / n_events
                 + 3.8416 / (2 * n_events))
                + 1.96 * sqrt((CAST(n_errors AS DOUBLE) / n_events
                               * (1 - CAST(n_errors AS DOUBLE) / n_events)
                               + 3.8416 / (4 * n_events)) / n_events))
               / (1 + 3.8416 / n_events), 6) AS wilson_hi
  FROM cells
)
SELECT user_id, n_events, n_errors, error_share, wilson_lo, wilson_hi
FROM scored
ORDER BY wilson_lo DESC, user_id
LIMIT 20
"""


def x160_fk_coverage(spark, sf_dir):
    """Whole-schema FK integrity matrix (quality.fk_coverage_matrix):
    one left-anti join per FK edge of the TPC-H-ish graph, orphan
    counts/shares per edge — q28's one-edge orphan check generalized."""
    from ...operators.quality import fk_coverage_matrix

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return fk_coverage_matrix(
        {
            "orders.custkey": (o, F.col("o_custkey"), c, F.col("c_custkey")),
            "lineitem.orderkey": (
                li, F.col("l_orderkey"), o, F.col("o_orderkey")),
            "lineitem.partkey": (
                li, F.col("l_partkey"), p, F.col("p_partkey")),
            "lineitem.suppkey": (
                li, F.col("l_suppkey"), s, F.col("s_suppkey")),
            "customer.nationkey": (
                c, F.col("c_nationkey"), n, F.col("n_nationkey")),
            "supplier.nationkey": (
                s, F.col("s_nationkey"), n, F.col("n_nationkey")),
            "nation.regionkey": (
                n, F.col("n_regionkey"), r, F.col("r_regionkey")),
        }
    )


X160_SQL = """
WITH e1 AS (
  SELECT 'orders.custkey' AS edge, CAST(count(*) AS BIGINT) AS n_child,
         CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_orphans
  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
),
e2 AS (
  SELECT 'lineitem.orderkey', CAST(count(*) AS BIGINT),
         CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT)
  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
),
e3 AS (
  SELECT 'lineitem.partkey', CAST(count(*) AS BIGINT),
         CAST(SUM(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT)
  FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
),
e4 AS (
  SELECT 'lineitem.suppkey', CAST(count(*) AS BIGINT),
         CAST(SUM(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT)
  FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
),
e5 AS (
  SELECT 'customer.nationkey', CAST(count(*) AS BIGINT),
         CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT)
  FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
),
e6 AS (
  SELECT 'supplier.nationkey', CAST(count(*) AS BIGINT),
         CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT)
  FROM supplier s LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
),
e7 AS (
  SELECT 'nation.regionkey', CAST(count(*) AS BIGINT),
         CAST(SUM(CASE WHEN r.r_regionkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT)
  FROM nation n LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
),
u AS (
  SELECT * FROM e1 UNION ALL SELECT * FROM e2 UNION ALL SELECT * FROM e3
  UNION ALL SELECT * FROM e4 UNION ALL SELECT * FROM e5
  UNION ALL SELECT * FROM e6 UNION ALL SELECT * FROM e7
)
SELECT edge, n_child, n_orphans,
       round(CAST(n_orphans AS DOUBLE) / GREATEST(n_child, 1), 6)
         AS orphan_share
FROM u
"""


def x167_brand_type_chi2(spark, sf_dir):
    """Brand x type chi-square independence table
    (profile.chi2_independence): bounded contingency cells, broadcast
    margins + 1-row grand total, per-cell contributions."""
    return profile.chi2_independence(_t(spark, sf_dir, "part"))


X167_SQL = """
WITH cells AS (
  SELECT p_brand AS r, p_type AS c,
         CAST(count(*) AS BIGINT) AS n
  FROM part GROUP BY 1, 2
),
rmarg AS (SELECT r, CAST(SUM(n) AS BIGINT) AS n_r FROM cells GROUP BY 1),
cmarg AS (SELECT c, CAST(SUM(n) AS BIGINT) AS n_c FROM cells GROUP BY 1),
tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS N FROM cells)
SELECT cells.r AS p_brand, cells.c AS p_type, cells.n,
       round(n_r * n_c / t.N, 6) AS expected,
       round((cells.n - n_r * n_c / t.N)
             * (cells.n - n_r * n_c / t.N)
             / (n_r * n_c / t.N), 6) AS chi2_contrib
FROM cells
JOIN rmarg USING (r)
JOIN cmarg USING (c)
CROSS JOIN tot t
"""


def x168_quality_outliers(spark, sf_dir):
    """Multivariate quality-outlier screen (textstats.quality_outliers):
    4 row-local style features z-scored against broadcast 1-row corpus
    moments, summed squared z rounded BEFORE ordering, top-20."""
    return textstats.quality_outliers(_t(spark, sf_dir, "documents"))


_X168_FEATS = r"""
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                              t -> t <> '')) AS DOUBLE) AS f1,
         CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS f2,
         CAST(list_aggregate(list_transform(
                list_filter(regexp_split_to_array(trim(text), '\s+'),
                            t -> t <> ''),
                t -> length(t)), 'sum') AS DOUBLE)
           / greatest(len(list_filter(
               regexp_split_to_array(trim(text), '\s+'), t -> t <> '')), 1)
           AS f3,
         CAST(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g'))
              AS DOUBLE) / greatest(length(text), 1) AS f4
  FROM documents
"""

X168_SQL = f"""
WITH feats AS ({_X168_FEATS}),
m AS (
  SELECT avg(f1) AS m1, stddev_pop(f1) AS s1,
         avg(f2) AS m2, stddev_pop(f2) AS s2,
         avg(f3) AS m3, stddev_pop(f3) AS s3,
         avg(f4) AS m4, stddev_pop(f4) AS s4
  FROM feats
),
zs AS (
  SELECT doc_id, f1, f2, f3, f4,
         CASE WHEN s1 > 0 THEN (f1 - m1) / s1 ELSE 0 END AS z1,
         CASE WHEN s2 > 0 THEN (f2 - m2) / s2 ELSE 0 END AS z2,
         CASE WHEN s3 > 0 THEN (f3 - m3) / s3 ELSE 0 END AS z3,
         CASE WHEN s4 > 0 THEN (f4 - m4) / s4 ELSE 0 END AS z4
  FROM feats CROSS JOIN m
),
scored AS (
  SELECT doc_id,
         CAST(f1 AS BIGINT) AS n_tokens,
         round(f2, 6) AS digit_ratio,
         round(f3, 6) AS mean_token_len,
         round(f4, 6) AS punct_ratio,
         round(z1 * z1 + z2 * z2 + z3 * z3 + z4 * z4, 6)
           AS outlier_score
  FROM zs
)
SELECT * FROM scored
ORDER BY outlier_score DESC, doc_id
LIMIT 20
"""


def x170_weighted_median(spark, sf_dir):
    """Quantity-weighted median price per return flag
    (profile.weighted_median): integer-cents value histogram,
    group-partitioned cumulative-weight walk, lower-median at
    2*cum_w >= tot_w — halves never materialize."""
    return profile.weighted_median(_t(spark, sf_dir, "lineitem"))


X170_SQL = """
WITH cells AS (
  SELECT l_returnflag AS grp,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents,
         CAST(SUM(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT) AS w,
         CAST(count(*) AS BIGINT) AS n
  FROM lineitem GROUP BY 1, 2
),
walked AS (
  SELECT grp, cents, w,
         CAST(SUM(w) OVER (PARTITION BY grp ORDER BY cents) AS BIGINT)
           AS cum_w
  FROM cells
),
tot AS (
  SELECT grp, CAST(SUM(w) AS BIGINT) AS tot_w,
         CAST(SUM(n) AS BIGINT) AS n_lines
  FROM cells GROUP BY 1
),
hit AS (
  SELECT wk.grp, MIN(wk.cents) AS med_cents
  FROM walked wk JOIN tot USING (grp)
  WHERE 2 * wk.cum_w >= tot.tot_w
  GROUP BY 1
)
SELECT t.grp AS l_returnflag, t.n_lines, t.tot_w,
       round(h.med_cents / 100.0, 2) AS weighted_median
FROM tot t JOIN hit h USING (grp)
"""


def x180_cusum_changepoint(spark, sf_dir):
    """CUSUM change-point detection on the daily event-value series
    (funnel.cusum_changepoint): one-sided CUSUMs via the prefix-sum /
    running-extrema identity, every float fold an ordered window over
    the bounded day-cell frame."""
    return funnel.cusum_changepoint(_t(spark, sf_dir, "events"))


X180_SQL = """
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(SUM(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS micro,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1
),
base AS (
  SELECT day, CAST(micro AS DOUBLE) / n / 1e6 AS day_mean FROM daily
),
leveled AS (
  SELECT day, day_mean,
         SUM(day_mean) OVER wf / COUNT(*) OVER wf AS level
  FROM base
  WINDOW wf AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                AND UNBOUNDED FOLLOWING)
),
prefixed AS (
  SELECT day, day_mean, level,
         SUM(day_mean - level) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                                     PRECEDING AND CURRENT ROW) AS p
  FROM leveled
),
scored AS (
  SELECT day, day_mean, level, p,
         p - least(MIN(p) OVER wu, 0.0) AS s_pos,
         greatest(MAX(p) OVER wu, 0.0) - p AS s_neg
  FROM prefixed
  WINDOW wu AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW)
)
SELECT day, round(day_mean, 6) AS day_mean, round(level, 6) AS level,
       round(p, 6) AS cusum, round(s_pos, 6) AS s_pos,
       round(s_neg, 6) AS s_neg,
       CAST(ROW_NUMBER() OVER (ORDER BY round(greatest(s_pos, s_neg), 6)
                               DESC, day) AS BIGINT) AS change_rank
FROM scored
ORDER BY day
"""



def x186_mannwhitney_quality(spark, sf_dir):
    """Exact tie-corrected Mann-Whitney U of quality between md5
    halves (profile.mannwhitney_quality): <= 11 lattice cells, ordered
    midrank window, one 1-row closed-form fold."""
    return profile.mannwhitney_quality(_t(spark, sf_dir, "documents"))


_X186_NA = "CAST(n_a AS DOUBLE)"
_X186_NB = "CAST(n_b AS DOUBLE)"
_X186_UA = f"ra - {_X186_NA} * ({_X186_NA} + 1.0) / 2.0"
_X186_S2 = (
    f"{_X186_NA} * {_X186_NB} / 12.0 * (({_X186_NA} + {_X186_NB} + 1.0) "
    f"- tie / (({_X186_NA} + {_X186_NB}) * ({_X186_NA} + {_X186_NB} - 1.0)))"
)

X186_SQL = rf"""
WITH base AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS toks
  FROM documents
),
q AS (
  SELECT doc_id,
         (CASE WHEN len(toks) BETWEEN 10 AND 10000 THEN 0.4 ELSE 0.0 END
          + CASE WHEN CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum') AS DOUBLE)
                      / greatest(len(toks), 1) BETWEEN 3.0 AND 10.0 THEN 0.3 ELSE 0.0 END
          + CASE WHEN CAST(len(list_filter(list_transform(toks, t -> lower(t)),
                               t -> list_contains({_STOP_EN}, t))) AS DOUBLE)
                      / greatest(len(toks), 1) >= 0.01 THEN 0.2 ELSE 0.0 END
          + CASE WHEN CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                      / greatest(length(text), 1) <= 0.2 THEN 0.1 ELSE 0.0 END) AS score
  FROM base
),
scored AS (
  SELECT CAST(round(score * 10) AS BIGINT) AS s10,
         CASE WHEN (ascii(substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 256
                    + ascii(substring(md5(CAST(doc_id AS VARCHAR)), 2, 1))) % 100 < 50
              THEN 1 ELSE 0 END AS in_a
  FROM q
),
cells AS (
  SELECT s10, CAST(SUM(in_a) AS BIGINT) AS n_a,
         CAST(count(*) - SUM(in_a) AS BIGINT) AS n_b
  FROM scored GROUP BY 1
),
ranked AS (
  SELECT s10, n_a, n_b,
         CAST(coalesce(SUM(n_a + n_b) OVER (ORDER BY s10 ROWS BETWEEN
              UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
           + (CAST(n_a + n_b AS DOUBLE) + 1.0) / 2.0 AS midrank,
         CAST(n_a + n_b AS DOUBLE) AS t
  FROM cells
),
agg AS (
  SELECT CAST(SUM(n_a) AS BIGINT) AS n_a, CAST(SUM(n_b) AS BIGINT) AS n_b,
         SUM(n_a * midrank) AS ra,
         SUM(t * t * t - t) AS tie
  FROM ranked
)
SELECT n_a, n_b,
       {_X186_UA} AS u_a,
       {_X186_NA} * {_X186_NB} - ({_X186_UA}) AS u_b,
       CASE WHEN {_X186_S2} > 0
            THEN round((({_X186_UA}) - {_X186_NA} * {_X186_NB} / 2.0)
                       / sqrt({_X186_S2}), 6)
            END AS z_score
FROM agg
"""


def x191_theilsen_trend(spark, sf_dir):
    """Theil-Sen robust revenue trend (funnel.theilsen_trend): median
    pairwise slope + median-residual intercept over calendar-bounded
    day cells — the outlier-proof companion to x149's OLS."""
    return funnel.theilsen_trend(_t(spark, sf_dir, "orders"))


X191_SQL = f"""
WITH daily AS ({_X19X_DAILY}),
t0 AS (SELECT MIN(day) AS d0 FROM daily),
cells AS (
  SELECT CAST(date_diff('day', d0, day) AS BIGINT) AS t, cents
  FROM daily CROSS JOIN t0
),
slopes AS (
  SELECT CAST(b.cents - a.cents AS DOUBLE) / CAST(b.t - a.t AS DOUBLE)
    AS slope
  FROM cells a JOIN cells b ON a.t < b.t
),
fit AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         quantile_cont(slope, 0.5) AS slope_c
  FROM slopes
),
resid AS (
  SELECT f.n_pairs, f.slope_c,
         CAST(c.cents AS DOUBLE) - f.slope_c * c.t AS r
  FROM cells c CROSS JOIN fit f
),
out AS (
  SELECT n_pairs, slope_c,
         CAST(count(*) AS BIGINT) AS n_days,
         quantile_cont(r, 0.5) AS icept_c
  FROM resid GROUP BY 1, 2
)
SELECT n_days, n_pairs,
       round(slope_c / 100.0, 6) AS slope_per_day,
       round(icept_c / 100.0, 6) AS intercept
FROM out
"""


def x206_eb_shrinkage(spark, sf_dir):
    """Empirical-Bayes shrinkage of per-source quality means
    (curation.eb_quality_shrinkage): normal method-of-moments prior,
    exact lattice moments."""
    return curation.eb_quality_shrinkage(_t(spark, sf_dir, "documents"))


X206_SQL = rf"""
WITH qb AS (
  SELECT source, text,
         list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS toks
  FROM documents
),
qq AS (
  SELECT source,
         (CASE WHEN len(toks) BETWEEN 10 AND 10000 THEN 0.4 ELSE 0.0 END
          + CASE WHEN CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum') AS DOUBLE)
                      / greatest(len(toks), 1) BETWEEN 3.0 AND 10.0 THEN 0.3 ELSE 0.0 END
          + CASE WHEN CAST(len(list_filter(list_transform(toks, t -> lower(t)),
                               t -> list_contains({_STOP_EN}, t))) AS DOUBLE)
                      / greatest(len(toks), 1) >= 0.01 THEN 0.2 ELSE 0.0 END
          + CASE WHEN CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                      / greatest(length(text), 1) <= 0.2 THEN 0.1 ELSE 0.0 END) AS score
  FROM qb
),
qst AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_h,
         CAST(SUM(s10) AS BIGINT) AS s, CAST(SUM(s10 * s10) AS BIGINT) AS ss
  FROM (SELECT source, CAST(round(score * 10) AS BIGINT) AS s10 FROM qq)
  GROUP BY 1
),
tots AS (
  SELECT CAST(SUM(n_h) AS BIGINT) AS n_tot, CAST(SUM(s) AS BIGINT) AS s_tot
  FROM qst
),
based AS (
  SELECT source, n_h,
         CAST(s AS DOUBLE) / CAST(n_h AS DOUBLE) / 10.0 AS mean_h,
         CAST(s_tot AS DOUBLE) / CAST(n_tot AS DOUBLE) / 10.0 AS grand,
         (CAST(n_h AS DOUBLE) * CAST(ss AS DOUBLE)
          - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
           / CAST(n_h AS DOUBLE) / 100.0 AS nvar_h,
         CAST(n_h AS DOUBLE)
           * (CAST(s AS DOUBLE) / CAST(n_h AS DOUBLE) / 10.0
              - CAST(s_tot AS DOUBLE) / CAST(n_tot AS DOUBLE) / 10.0)
           * (CAST(s AS DOUBLE) / CAST(n_h AS DOUBLE) / 10.0
              - CAST(s_tot AS DOUBLE) / CAST(n_tot AS DOUBLE) / 10.0)
           AS nbet_h,
         CAST(n_tot AS DOUBLE) AS n_tot_d
  FROM qst CROSS JOIN tots
),
folded AS (
  SELECT source, n_h, mean_h, grand,
         SUM(nvar_h) OVER wf / n_tot_d AS var_w,
         SUM(nbet_h) OVER wf / n_tot_d AS var_b
  FROM based
  WINDOW wf AS (ORDER BY source ROWS BETWEEN UNBOUNDED PRECEDING AND
                UNBOUNDED FOLLOWING)
)
SELECT source, n_h,
       round(mean_h, 6) AS raw_mean,
       round(CASE WHEN var_b > 0
                  THEN (CAST(n_h AS DOUBLE) * mean_h
                        + (var_w / var_b) * grand)
                       / (CAST(n_h AS DOUBLE) + var_w / var_b)
                  ELSE grand END, 6) AS shrunk_mean,
       round(CASE WHEN var_b > 0
                  THEN CAST(n_h AS DOUBLE)
                       / (CAST(n_h AS DOUBLE) + var_w / var_b)
                  ELSE 0.0 END, 6) AS own_weight,
       round(grand, 6) AS grand_mean
FROM folded
ORDER BY source
"""


def x211_aa_calibration(spark, sf_dir):
    """A/A experiment-harness calibration (funnel.aa_calibration):
    md5-bucket users into two arms and two-sample z-test four
    integer-exact per-user metrics — every metric must come back
    balanced before any real A/B readout is trusted."""
    return funnel.aa_calibration(_t(spark, sf_dir, "events"))


X211_SQL = """
WITH pu AS (
  SELECT user_id,
         CAST(count(*) AS DOUBLE) AS m_events,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS DOUBLE) AS m_errors,
         CAST(count(DISTINCT date_trunc('day', ts)) AS DOUBLE) AS m_days,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) AS m_cents
  FROM events GROUP BY 1
),
armed AS (
  SELECT CASE WHEN (ascii(substring(md5(CAST(user_id AS VARCHAR)), 1, 1)) * 256
                    + ascii(substring(md5(CAST(user_id AS VARCHAR)), 2, 1)))
                   % 2 = 0
              THEN 'a' ELSE 'b' END AS arm,
         m_events, m_errors, m_days, m_cents
  FROM pu
),
melt AS (
  SELECT arm, 'events_per_user' AS metric, m_events AS v FROM armed
  UNION ALL SELECT arm, 'errors_per_user', m_errors FROM armed
  UNION ALL SELECT arm, 'active_days_per_user', m_days FROM armed
  UNION ALL SELECT arm, 'value_cents_per_user', m_cents FROM armed
),
folded AS (
  SELECT metric,
         CAST(SUM(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         SUM(CASE WHEN arm = 'a' THEN v ELSE 0.0 END) AS s_a,
         SUM(CASE WHEN arm = 'b' THEN v ELSE 0.0 END) AS s_b,
         SUM(CASE WHEN arm = 'a' THEN v * v ELSE 0.0 END) AS ss_a,
         SUM(CASE WHEN arm = 'b' THEN v * v ELSE 0.0 END) AS ss_b
  FROM melt GROUP BY 1
),
m AS (
  SELECT metric, n_a, n_b,
         s_a / n_a AS mean_a, s_b / n_b AS mean_b,
         sqrt((ss_a - s_a * s_a / n_a) / (n_a - 1) / n_a
              + (ss_b - s_b * s_b / n_b) / (n_b - 1) / n_b) AS se
  FROM folded
)
SELECT metric, n_a, n_b,
       round(mean_a, 6) AS mean_a,
       round(mean_b, 6) AS mean_b,
       CASE WHEN se > 0 THEN round((mean_a - mean_b) / se, 6) END AS z,
       CASE WHEN se > 0 THEN abs((mean_a - mean_b) / se) < 1.96
            ELSE mean_a = mean_b END AS balanced
FROM m
ORDER BY metric
"""


def x212_spearman_quality(spark, sf_dir):
    """Length-vs-quality Spearman rho per source
    (textstats.spearman_quality): Pearson on doubled midranks, exact
    integer moment sums — 'are we selecting for long documents?'."""
    return textstats.spearman_quality(_t(spark, sf_dir, "documents"))


X212_SQL = rf"""
WITH qb AS (
  SELECT source, n_chars, text,
         list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS toks
  FROM documents
),
qq AS (
  SELECT source, CAST(n_chars AS BIGINT) AS x,
         CAST(round((CASE WHEN len(toks) BETWEEN 10 AND 10000 THEN 0.4 ELSE 0.0 END
          + CASE WHEN CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum') AS DOUBLE)
                      / greatest(len(toks), 1) BETWEEN 3.0 AND 10.0 THEN 0.3 ELSE 0.0 END
          + CASE WHEN CAST(len(list_filter(list_transform(toks, t -> lower(t)),
                               t -> list_contains({_STOP_EN}, t))) AS DOUBLE)
                      / greatest(len(toks), 1) >= 0.01 THEN 0.2 ELSE 0.0 END
          + CASE WHEN CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                      / greatest(length(text), 1) <= 0.2 THEN 0.1 ELSE 0.0 END) * 10)
          AS BIGINT) AS y
  FROM qb
),
ranked AS (
  SELECT source,
         CAST(2 * rank() OVER (PARTITION BY source ORDER BY x)
              + count(*) OVER (PARTITION BY source, x) - 1 AS DOUBLE) AS rx,
         CAST(2 * rank() OVER (PARTITION BY source ORDER BY y)
              + count(*) OVER (PARTITION BY source, y) - 1 AS DOUBLE) AS ry
  FROM qq
),
agg AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         SUM(rx) AS sx, SUM(ry) AS sy,
         SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy, SUM(rx * ry) AS sxy
  FROM ranked GROUP BY 1
)
SELECT source, n_docs,
       CASE WHEN n_docs * sxx - sx * sx > 0 AND n_docs * syy - sy * sy > 0
            THEN round((n_docs * sxy - sx * sy)
                       / sqrt((n_docs * sxx - sx * sx)
                              * (n_docs * syy - sy * sy)), 6)
       END AS spearman_rho
FROM agg
ORDER BY source
"""


def x216_poisson_bootstrap(spark, sf_dir):
    """One-pass Poisson-bootstrap CI for mean order value
    (profile.poisson_bootstrap_mean): every row draws a deterministic
    md5-derived Poisson(1) weight per replica, so all 50 replica sums
    accumulate in ONE grouped aggregate — the bootstrap that works on
    sharded data (Chamandy et al., Google)."""
    return profile.poisson_bootstrap_mean(
        _t(spark, sf_dir, "orders"),
        value_col="o_totalprice",
        id_col="o_orderkey",
        metric="mean_order_value",
    )


X216_SQL = f"""
WITH base AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS id,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
point AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         SUM(cents) / CAST(count(*) AS DOUBLE) / 100 AS pt
  FROM base
),
rep AS (
  SELECT id, cents, unnest(generate_series(1, 50)) AS b FROM base
),
uu AS (
  SELECT b, cents,
         ({_X73_U("md5(id || '-' || CAST(b AS VARCHAR))")}) / 16777216.0 AS u
  FROM rep
),
ww AS (
  SELECT b, cents,
         CASE WHEN u < 0.36787944117144233 THEN 0
              WHEN u < 0.7357588823428847 THEN 1
              WHEN u < 0.9196986029286058 THEN 2
              WHEN u < 0.9810118431238462 THEN 3
              WHEN u < 0.9963401531726563 THEN 4
              ELSE 5 END AS w
  FROM uu
),
means AS (
  SELECT b, SUM(w * cents) / CAST(SUM(w) AS DOUBLE) / 100 AS m
  FROM ww GROUP BY 1 HAVING SUM(w) > 0
),
ci AS (
  SELECT CAST(count(*) AS BIGINT) AS n_replicas,
         quantile_cont(m, 0.025) AS lo,
         quantile_cont(m, 0.975) AS hi
  FROM means
)
SELECT 'mean_order_value' AS metric, p.n_rows, c.n_replicas,
       round(p.pt, 6) AS point_estimate,
       round(c.lo, 6) AS ci_lo,
       round(c.hi, 6) AS ci_hi
FROM point p CROSS JOIN ci c
"""


def x218_ab_power_curve(spark, sf_dir):
    """A/B sizing curve (funnel.ab_power_curve): minimum detectable
    effect on mean per-user value at 80% power / 5% alpha for per-arm
    sizes {1k, 10k, 100k, 1M} — the planning artifact x211's A/A
    harness calibrates."""
    return funnel.ab_power_curve(_t(spark, sf_dir, "events"))


X218_SQL = """
WITH pu AS (
  SELECT user_id,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1
),
mom AS (
  SELECT CAST(count(*) AS BIGINT) AS n_users,
         CAST(SUM(cents) AS BIGINT) AS s,
         CAST(SUM(cents * cents) AS BIGINT) AS ss
  FROM pu
),
grid AS (
  SELECT n_users, s, ss,
         unnest([1000, 10000, 100000, 1000000]) AS n_per_arm
  FROM mom
),
m AS (
  SELECT n_per_arm, n_users,
         s / CAST(n_users AS DOUBLE) / 100.0 AS mean,
         (ss - s * CAST(s AS DOUBLE) / n_users)
           / (CAST(n_users AS DOUBLE) - 1) / 10000.0 AS var
  FROM grid
)
SELECT n_per_arm, n_users,
       round(mean, 6) AS metric_mean,
       round(sqrt(var), 6) AS metric_sd,
       round(2.8015852181129683 * sqrt(2.0 * var / n_per_arm), 6) AS mde_abs,
       CASE WHEN mean > 0
            THEN round(2.8015852181129683 * sqrt(2.0 * var / n_per_arm)
                       / mean, 6)
       END AS mde_rel
FROM m
ORDER BY n_per_arm
"""
