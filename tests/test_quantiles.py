"""Mergeable quantile sketch (operators/quantiles.py): rank-error bound
against exact quantiles, and edge cases. Mirrors the error-bound test style of test_theta.py / x31's HLL."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from shifts_etl_spark.operators import quantiles


def _rank_error(vals: np.ndarray, est: float, prob: float) -> float:
    """|observed rank of est - target rank| / n."""
    n = len(vals)
    rank = np.searchsorted(np.sort(vals), est, side="right")
    return abs(rank - prob * n) / n


@pytest.fixture(scope="module")
def values(spark):
    rng = np.random.RandomState(7)
    vals = np.concatenate(
        [rng.normal(100, 15, 20_000), rng.exponential(50, 5_000)]
    )
    df = spark.createDataFrame(
        [(float(v),) for v in vals], "value double"
    ).repartition(8)
    return vals, df


def test_rank_error_within_bound(spark, values):
    vals, df = values
    sk = quantiles.quantile_sketch(df, "value", k=200)
    probs = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    got = {
        r["prob"]: r["approx_value"]
        for r in quantiles.sketch_quantiles(sk, probs, k=200).collect()
    }
    # theoretical eps ~ log2(n/k)/k ~ 0.035; observed is far tighter —
    # pin 0.02 so a compaction regression is caught early
    for p in probs:
        assert _rank_error(vals, got[p], p) <= 0.02, (p, got[p])


def test_sketch_is_bounded(spark, values):
    _, df = values
    row = quantiles.quantile_sketch(df, "value", k=100).collect()[0]
    assert row["n"] == df.count()
    total_items = sum(len(it) for it in row["items"])
    # bounded by k per level over ~log2(n/k) levels — nowhere near n
    assert total_items <= 100 * (2 + int(np.log2(row["n"] / 100)))


def test_empty_and_null_input(spark):
    df = spark.createDataFrame(
        [(None,), (None,)], "value double"
    )
    sk = quantiles.quantile_sketch(df, "value", k=50)
    assert quantiles.sketch_quantiles(sk, [0.5], k=50).count() == 0


def test_exact_on_tiny_input(spark):
    # fewer than k values: no compaction ever fires, quantiles are exact
    df = spark.createDataFrame([(float(i),) for i in range(1, 101)], "value double")
    sk = quantiles.quantile_sketch(df, "value", k=200)
    got = {
        r["prob"]: r["approx_value"]
        for r in quantiles.sketch_quantiles(sk, [0.5, 0.99], k=200).collect()
    }
    assert got[0.5] == 50.0
    assert got[0.99] == 99.0


def test_group_quantiles_exact_small_groups(spark):
    # groups under k: rank rule == SQL quantile_disc (lowest v with
    # cum-count >= p*n)
    rows = [("a", float(v)) for v in range(1, 6)] + [("b", 10.0), ("b", 20.0)]
    df = spark.createDataFrame(rows, "k string, value double")
    got = {
        (r["k"], r["prob"]): r["approx_value"]
        for r in quantiles.group_quantiles(
            df, ["k"], "value", [0.5, 0.9], k=100
        ).collect()
    }
    assert got[("a", 0.5)] == 3.0 and got[("a", 0.9)] == 5.0
    assert got[("b", 0.5)] == 10.0 and got[("b", 0.9)] == 20.0


def test_group_quantiles_large_group_bounded_error(spark, values):
    vals, df = values
    keyed = df.withColumn("k", F.lit("all"))
    got = {
        r["prob"]: r["approx_value"]
        for r in quantiles.group_quantiles(
            keyed, ["k"], "value", [0.25, 0.75], k=200
        ).collect()
    }
    for p in (0.25, 0.75):
        assert _rank_error(vals, got[p], p) <= 0.02, (p, got[p])


def test_det_variant_equals_single_batch_sketch(spark, values):
    """The x247 deterministic configuration must equal the compactor fed
    the whole multiset as ONE batch — same (h, r) selection, same
    weighted-rank rule — and stay within the sketch error bound."""
    vals, df = values
    probs = [0.5, 0.9, 0.99]
    got = {
        r["prob"]: r["approx_value"]
        for r in quantiles.det_quantile_sketch_quantiles(
            df, "value", probs, k=200
        ).collect()
    }
    sk = quantiles._Sketch(200)
    sk.update_batch(vals)
    for p in probs:
        assert got[p] == sk.quantile(p), p
        assert _rank_error(vals, got[p], p) < np.log2(len(vals) / 200) / 200 + 0.01


def test_det_variant_boundary_sizes(spark):
    """Ceil-halving boundaries (the h-selection off-by-one trap): sizes
    straddling powers of two of k match the one-batch compactor."""
    for n in (199, 200, 201, 400, 401, 800, 801):
        vals = np.random.RandomState(n).gamma(2.0, 50.0, n)
        df = spark.createDataFrame([(float(v),) for v in vals], "value double")
        got = {
            r["prob"]: r["approx_value"]
            for r in quantiles.det_quantile_sketch_quantiles(
                df, "value", [0.5, 0.99], k=200
            ).collect()
        }
        sk = quantiles._Sketch(200)
        sk.update_batch(vals)
        assert got[0.5] == sk.quantile(0.5), n
        assert got[0.99] == sk.quantile(0.99), n


def test_det_variant_empty_input(spark):
    df = spark.createDataFrame([], "value double")
    rows = quantiles.det_quantile_sketch_quantiles(
        df, "value", [0.5, 0.9], k=50
    ).collect()
    assert [r["prob"] for r in rows] == [0.5, 0.9]
    assert all(r["approx_value"] is None for r in rows)
