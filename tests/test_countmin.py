"""Count-min sketch (operators/countmin.py): never-underestimate
guarantee, eps*N overestimate bound, cell-wise merge == single-pass
build, and the compression-ratio signal's monotonicity
(textstats.compression_signal)."""

import pytest
from pyspark.sql import Row

from shifts_etl_spark.operators import countmin, textstats


@pytest.fixture(scope="module")
def zipfish(spark):
    """Skewed key stream: key k appears ~1000/k times (k = 1..50),
    N ≈ 1000 * H(50) ≈ 4500 — heavy head, long tail."""
    rows = [Row(k=f"key{k}") for k in range(1, 51) for _ in range(1000 // k)]
    return spark.createDataFrame(rows), {
        f"key{k}": 1000 // k for k in range(1, 51)
    }


def test_never_underestimates_and_bounded(spark, zipfish):
    df, truth = zipfish
    n_total = sum(truth.values())
    width = 256
    sketch = countmin.cm_build(df, "k", depth=4, width=width)
    probes = spark.createDataFrame([Row(k=k) for k in truth])
    est = {
        r["k"]: r["est_cnt"]
        for r in countmin.cm_estimate(sketch, probes, "k", width, depth=4).collect()
    }
    assert set(est) == set(truth)
    for k, true_cnt in truth.items():
        assert est[k] >= true_cnt, f"{k}: underestimate {est[k]} < {true_cnt}"
        # eps = e/width ≈ 0.0106 → bound ≈ 48; generous 2x slack for the
        # 1-(1/2)^4 failure probability across 50 probes
        assert est[k] <= true_cnt + 2 * 2.72 * n_total / width, k


def test_grid_size_capped(zipfish):
    df, _ = zipfish
    sketch = countmin.cm_build(df, "k", depth=4, width=64).collect()
    assert len(sketch) <= 4 * 64
    assert {r["depth"] for r in sketch} == {0, 1, 2, 3}


def test_compression_signal_orders_entropy(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="spam " * 400),
            Row(
                doc_id=2,
                text="the quick brown fox jumps over a lazy dog while "
                "seventeen zebras quarrel about jam 0x7f3b9 qwzjvxk",
            ),
        ]
    )
    out = {
        r["doc_id"]: r
        for r in textstats.compression_signal(docs).collect()
    }
    assert out[1]["n_bytes"] == 2000
    assert out[1]["compressed_bytes"] < out[1]["n_bytes"] * 0.05
    assert out[1]["ratio"] < out[2]["ratio"]
    assert 0 < out[2]["ratio"] <= 1.2
