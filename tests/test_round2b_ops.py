"""Round-2 batch B: BM25 retrieval (x45), split-drift audit (x46),
PageRank vs NumPy (x47), Welch t-test (x48), MMR re-rank (x49),
mixture allocation (x50), within-label similarity (x51), bigram
entropy (x52), split-leakage audit (x53), TPC-H Q21/Q22 shapes
(q34/q35), and the TIMESTAMP_NTZ testdata regression guard."""

import datetime

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Row, functions as F

from shifts_etl_spark.operators.textstats import bm25_scores
from shifts_etl_spark.plans.extensions import x46_split_drift
from shifts_etl_spark.plans.relational import (
    q34_waiting_orders,
    q35_inactive_big_balance,
)
from shifts_etl_spark.schemas import TESTDATA_SCHEMAS
from shifts_etl_spark.sources.tables import load_table

SF001 = "/root/testdata/sf0.001"


def _docs(spark, texts):
    return spark.createDataFrame(
        [
            Row(doc_id=i, text=t, lang="en", source="s", n_chars=len(t))
            for i, t in enumerate(texts)
        ]
    )


def test_bm25_tf_and_length_normalization(spark):
    """More query-term hits rank higher; at equal tf the shorter doc
    ranks higher (the b·dl/avgdl length penalty); docs with no query
    term never appear."""
    docs = _docs(
        spark,
        [
            "spark spark spark join",          # 0: high tf, short
            "spark " + "filler " * 40,          # 1: tf=1, long
            "spark join",                       # 2: two terms, shortest
            "nothing relevant here",            # 3: no query terms
        ],
    )
    out = bm25_scores(docs, ["spark", "join"]).collect()
    scores = {r.doc_id: r.bm25 for r in out}
    matched = {r.doc_id: r.n_matched_terms for r in out}
    assert 3 not in scores
    assert matched[0] == 2 and matched[1] == 1 and matched[2] == 2
    # doc 2 (both terms, 2 tokens) beats doc 1 (one term, 41 tokens)
    assert scores[2] > scores[1]
    # doc 0 has the same terms as doc 2 plus extra tf → at least as high
    assert scores[0] > scores[1]


def test_bm25_idf_prefers_rare_terms(spark):
    """A term appearing in one doc outweighs a term in every doc."""
    docs = _docs(
        spark,
        ["common rare", "common x", "common y", "common z"],
    )
    out = {r.doc_id: r.bm25 for r in bm25_scores(docs, ["common", "rare"]).collect()}
    assert out[0] > out[1]  # doc 0 adds the rare term


def test_split_drift_is_probability_and_nonneg_kl(spark):
    """Smoothed shares sum to 1 within each split and the total KL
    contribution is non-negative (Gibbs' inequality)."""
    rows = x46_split_drift(spark, SF001).collect()
    assert rows, "drift query returned no langs"
    for col in ("p_train", "p_test"):
        s = sum(r[col] for r in rows)
        assert abs(s - 1.0) < 1e-4, f"{col} sums to {s}"
    assert sum(r.kl_term for r in rows) >= -1e-9


def test_q34_sole_offender_semantics(spark, tmp_path):
    """Supplier 10 is the only returner on multi-supplier order 1 →
    counted. Order 2 has two returners → neither counted. Order 3 is
    single-supplier → EXISTS fails. Order 4 is status 'O' → excluded."""
    li = [
        # order 1: supp 10 returns, supp 11 clean
        Row(l_orderkey=1, l_suppkey=10, l_returnflag="R"),
        Row(l_orderkey=1, l_suppkey=11, l_returnflag="N"),
        # order 2: both return → both blocked by NOT EXISTS
        Row(l_orderkey=2, l_suppkey=10, l_returnflag="R"),
        Row(l_orderkey=2, l_suppkey=12, l_returnflag="R"),
        # order 3: sole supplier returns → no second supplier, EXISTS fails
        Row(l_orderkey=3, l_suppkey=10, l_returnflag="R"),
        # order 4: open order → filtered by o_orderstatus
        Row(l_orderkey=4, l_suppkey=13, l_returnflag="R"),
        Row(l_orderkey=4, l_suppkey=14, l_returnflag="N"),
    ]
    orders = [
        Row(o_orderkey=1, o_orderstatus="F"),
        Row(o_orderkey=2, o_orderstatus="F"),
        Row(o_orderkey=3, o_orderstatus="F"),
        Row(o_orderkey=4, o_orderstatus="O"),
    ]
    supp = [Row(s_suppkey=k, s_name=f"s{k}") for k in (10, 11, 12, 13, 14)]
    spark.createDataFrame(li).write.parquet(f"{tmp_path}/lineitem.parquet")
    spark.createDataFrame(orders).write.parquet(f"{tmp_path}/orders.parquet")
    spark.createDataFrame(supp).write.parquet(f"{tmp_path}/supplier.parquet")
    out = {r.s_suppkey: r.numwait for r in q34_waiting_orders(spark, str(tmp_path)).collect()}
    assert out == {10: 1}


def test_q35_inactive_balance_semantics(spark, tmp_path):
    """Only customers above the positive-balance average AND without
    orders aggregate; negative balances dilute nothing."""
    cust = [
        Row(c_custkey=1, c_name="a", c_nationkey=0, c_acctbal=100.0, c_mktsegment="AUTO"),
        Row(c_custkey=2, c_name="b", c_nationkey=0, c_acctbal=200.0, c_mktsegment="AUTO"),
        Row(c_custkey=3, c_name="c", c_nationkey=0, c_acctbal=300.0, c_mktsegment="CAR"),
        Row(c_custkey=4, c_name="d", c_nationkey=0, c_acctbal=-50.0, c_mktsegment="CAR"),
    ]
    # avg positive balance = 200; strictly-above → custkeys {3} plus ties
    # excluded (2 == avg not counted); cust 3 has no order, qualifies.
    orders = [Row(o_orderkey=1, o_custkey=1, o_orderstatus="F")]
    spark.createDataFrame(cust).write.parquet(f"{tmp_path}/customer.parquet")
    spark.createDataFrame(orders).write.parquet(f"{tmp_path}/orders.parquet")
    rows = q35_inactive_big_balance(spark, str(tmp_path)).collect()
    assert [(r.c_mktsegment, r.numcust, r.totacctbal) for r in rows] == [
        ("CAR", 1, 300.0)
    ]


def test_pagerank_matches_numpy_power_iteration(spark):
    """Planted digraph WITH a dangling node (d has no out-edges): ranks
    after 5 iterations must match the dense NumPy power iteration that
    redistributes dangling mass uniformly."""
    import numpy as np

    from shifts_etl_spark.operators.graph import pagerank

    edge_list = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("c", "d")]
    nodes = sorted({n for e in edge_list for n in e})
    idx = {n: i for i, n in enumerate(nodes)}
    n, d = len(nodes), 0.85
    M = np.zeros((n, n))
    out = np.zeros(n)
    for s, t in edge_list:
        out[idx[s]] += 1
    for s, t in edge_list:
        M[idx[t], idx[s]] = 1.0 / out[idx[s]]
    r = np.full(n, 1.0 / n)
    for _ in range(5):
        dangling_mass = r[out == 0].sum()
        r = (1 - d) / n + d * (M @ r + dangling_mass / n)

    df = spark.createDataFrame(edge_list, ["src", "dst"])
    got = {row.node: row.pagerank for row in pagerank(df, iterations=5).collect()}
    for name in nodes:
        assert abs(got[name] - r[idx[name]]) < 1e-6, (name, got[name], r[idx[name]])
    assert abs(sum(got.values()) - 1.0) < 1e-6  # mass conservation


def test_welch_ttest_hand_computed(spark, tmp_path):
    """Two groups with known stats: a=[1,2,3] (even user ids),
    b=[2,4,6,8] (odd) → m_a=2, v_a=1, m_b=5, v_b=20/3; t and dof from
    the closed form."""
    import math

    from shifts_etl_spark.plans.extensions import x48_ab_welch_ttest

    rows = [
        Row(event_id=i, ts=_naive(i), user_id=uid, event_type="t", value=v, props="{}")
        for i, (uid, v) in enumerate(
            [(0, 1.0), (2, 2.0), (4, 3.0), (1, 2.0), (3, 4.0), (5, 6.0), (7, 8.0)]
        )
    ]
    spark.createDataFrame(rows).write.parquet(f"{tmp_path}/events.parquet")
    out = x48_ab_welch_ttest(spark, str(tmp_path)).collect()[0]
    se = 1.0 / 3 + (20.0 / 3) / 4
    t = (2.0 - 5.0) / math.sqrt(se)
    dof = se * se / ((1.0 / 3) ** 2 / 2 + ((20.0 / 3) / 4) ** 2 / 3)
    assert (out.n_a, out.n_b) == (3, 4)
    assert abs(out.mean_a - 2.0) < 1e-9 and abs(out.mean_b - 5.0) < 1e-9
    assert abs(out.welch_t - round(t, 4)) < 1e-9
    assert abs(out.welch_dof - round(dof, 2)) < 1e-9


def _naive(i):
    return datetime.datetime(2024, 1, 1, 0, 0, i)


def test_mmr_penalizes_redundant_candidates(spark):
    """Corpus: query q, a near-clone pair (c1≈c2) maximally relevant,
    and a distinct-direction c3. Pure top-2 would pick {c1, c2}; MMR
    must swap the redundant clone for the diverse c3."""
    from shifts_etl_spark.operators.simsearch import mmr_topk

    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0, 0.0], label="q"),
        Row(vec_id=1, embedding=[0.99, 0.14, 0.0], label="c"),   # rel ≈ .990
        Row(vec_id=2, embedding=[0.98, 0.14, 0.0], label="c"),   # clone of 1
        Row(vec_id=3, embedding=[0.7, 0.0, 0.71], label="c"),    # diverse
    ]
    emb = spark.createDataFrame(rows)
    got = [r.vec_id for r in mmr_topk(emb, query_id=0, k=2, lam=0.5).collect()]
    assert got[0] == 1          # most relevant first
    assert got[1] == 3          # diversity beats the clone
    # ranks are 1..k and scores are monotonically emitted
    out = mmr_topk(emb, query_id=0, k=3, lam=0.5).collect()
    assert [r.rank for r in out] == [1, 2, 3]


def test_within_label_topk_planted(spark, tmp_path):
    """An identical pair planted inside label 'a' must be its rank-1
    pair with cosine 1.0; pairs never cross labels."""
    from shifts_etl_spark.plans.extensions import x51_within_label_topk

    rows = [
        Row(vec_id=1, embedding=[1.0, 0.0], label=0),
        Row(vec_id=2, embedding=[1.0, 0.0], label=0),   # clone of 1
        Row(vec_id=3, embedding=[0.0, 1.0], label=0),
        Row(vec_id=4, embedding=[1.0, 0.0], label=1),   # same dir, other label
        Row(vec_id=5, embedding=[0.6, 0.8], label=1),
    ]
    # written with the contract schema load_table reads (float vectors, int labels)
    spark.createDataFrame(rows, TESTDATA_SCHEMAS["embeddings"]).write.parquet(
        f"{tmp_path}/embeddings.parquet"
    )
    out = x51_within_label_topk(spark, str(tmp_path)).collect()
    top_a = [r for r in out if r.label == 0 and r.rank == 1][0]
    assert (top_a.id_a, top_a.id_b, top_a.cosine) == (1, 2, 1.0)
    assert all({r.id_a, r.id_b} != {1, 4} for r in out)  # no cross-label pair


def test_bigram_entropy_planted(spark, tmp_path):
    """Fully predictable corpus (every prefix has ONE continuation) →
    H=0, perplexity 1; a prefix with two equally likely continuations
    contributes (2/3)·ln 2."""
    import math

    from shifts_etl_spark.plans.extensions import x52_bigram_entropy

    d1 = tmp_path / "det"
    _docs(spark, ["a b a b a b"]).write.parquet(f"{d1}/documents.parquet")
    out = x52_bigram_entropy(spark, str(d1)).collect()[0]
    assert out.cond_entropy_nats == 0.0 and out.perplexity == 1.0
    assert out.n_bigrams == 5 and out.n_distinct_bigrams == 2

    d2 = tmp_path / "mix"
    _docs(spark, ["a b a c"]).write.parquet(f"{d2}/documents.parquet")
    out2 = x52_bigram_entropy(spark, str(d2)).collect()[0]
    assert abs(out2.cond_entropy_nats - round(2 * math.log(2) / 3, 6)) < 1e-9


def test_split_leakage_planted(spark, tmp_path):
    """doc_ids 0/1/3 hash into train, 5/23/26 into test, 2 into val
    (md5-bucket assignment). Identical text planted in train(0) and
    test(5) must surface as leakage; the same text in val(2) must NOT
    (val excluded); near-identical-after-normalization counts too."""
    from shifts_etl_spark.plans.extensions import x53_split_leakage

    texts = {
        0: "The Quick  Brown-Fox!",   # train — normalizes same as 5
        5: "the quick brown fox",     # test  → leak
        2: "the quick brown fox",     # val   → ignored
        1: "only in train",
        23: "only in test",
        3: "another train doc",
        26: "yet another test doc",
    }
    rows = [
        Row(doc_id=i, text=t, lang="en", source="s", n_chars=len(t))
        for i, t in texts.items()
    ]
    spark.createDataFrame(rows).write.parquet(f"{tmp_path}/documents.parquet")
    out = x53_split_leakage(spark, str(tmp_path)).collect()
    assert len(out) == 1
    assert (out[0].train_doc, out[0].test_doc) == (0, 5)
    assert (out[0].n_train, out[0].n_test) == (1, 1)


def test_split_leakage_nonvacuous_at_sf001(spark):
    """The prefix-fingerprint key exists precisely so the audit has
    signal at small SF (full-content duplicates don't exist below
    sf0.1) — pin that the driver's sf0.01 row verifies >0 rows."""
    from shifts_etl_spark.plans.extensions import x53_split_leakage

    assert x53_split_leakage(spark, "/root/testdata/sf0.01").count() > 0


def test_iso_week_year_boundary(spark, tmp_path):
    """2021-01-01 belongs to ISO week 53 of ISO year 2020; 2024-12-30
    belongs to week 1 of 2025 — the two classic boundary traps."""
    from shifts_etl_spark.plans.relational import q41_iso_week_orders

    rows = [
        Row(o_orderkey=1, o_custkey=1, o_orderstatus="F", o_totalprice=1.0,
            o_orderdate=datetime.date(2021, 1, 1), o_orderpriority="1-URGENT"),
        Row(o_orderkey=2, o_custkey=1, o_orderstatus="F", o_totalprice=1.0,
            o_orderdate=datetime.date(2024, 12, 30), o_orderpriority="1-URGENT"),
    ]
    spark.createDataFrame(rows).write.parquet(f"{tmp_path}/orders.parquet")
    got = {(r.iso_year, r.iso_week): r.n_orders
           for r in q41_iso_week_orders(spark, str(tmp_path)).collect()}
    assert got == {(2020, 53): 1, (2025, 1): 1}


def test_mixture_allocation_invariants(spark):
    """Allocations sum exactly to the budget; T>1 upweights the small
    source relative to its raw token share; shares sum to 1."""
    from shifts_etl_spark.operators.curation import mixture_allocation

    docs = spark.createDataFrame(
        [
            Row(doc_id=i, text=("tok " * n).strip(), lang="en",
                source=src, n_chars=4 * n)
            for i, (src, n) in enumerate(
                [("big", 900)] * 9 + [("small", 100)] * 1
            )
        ]
    )
    out = {r.source: r for r in mixture_allocation(docs, budget=97, temperature=2.0).collect()}
    assert out["big"].alloc_docs + out["small"].alloc_docs == 97
    assert abs(out["big"].p + out["small"].p - 1.0) < 1e-6
    raw_small = 100 / (9 * 900 + 100)
    assert out["small"].p > raw_small  # temperature upweights the tail


def test_events_ntz_parquet_loads_as_castable_timestamp(spark, tmp_path):
    """Driver testdata stores events.ts as µs timestamp WITHOUT UTC
    adjustment (reads as TIMESTAMP_NTZ, which Spark cannot cast to
    numeric). load_table must normalize it so epoch arithmetic in the
    range/session operators keeps working."""
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(
                pd.to_datetime(
                    ["2024-01-01 00:00:00", "2024-01-01 00:05:00"]
                ),
                pa.timestamp("us"),
            ),
            "user_id": pa.array([1, 1], pa.int64()),
            "event_type": pa.array(["a", "b"]),
            "value": pa.array([1.0, 2.0]),
            "props": pa.array(["{}", "{}"]),
        }
    )
    pq.write_table(tbl, f"{tmp_path}/events.parquet")
    df = load_table(spark, str(tmp_path), "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    secs = df.select(F.col("ts").cast("double").alias("s")).collect()
    assert [r.s for r in secs] == [1704067200.0, 1704067500.0]
