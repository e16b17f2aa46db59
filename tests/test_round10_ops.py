"""Round-10 hardening tests: the ADVICE r9 fixes (empty-corpus
contracts, the ivf stride sentinel) and the
minhash_lsh_pairs shuffle-contract re-attach (VERDICT r9 "What's wrong"
#1 / next-round #5)."""

import pytest

from shifts_etl_spark import caching
from shifts_etl_spark.operators import dedup, simsearch

SF = "/root/testdata/sf0.001"


# --------------------------------------------------------------------------
# empty-corpus contracts (ADVICE r9 #2): the pre-r9 behavior — an empty
# input yields an empty, correctly-typed result frame, not a ValueError
# --------------------------------------------------------------------------

def test_embedding_nn_pairs_lsh_empty_input_returns_empty_frame(spark):
    emb = spark.createDataFrame(
        [], "vec_id bigint, embedding array<double>, label bigint"
    )
    out = dedup.embedding_nn_pairs_lsh(emb)
    assert out.columns == ["vec_id", "neighbor_id", "cosine", "is_near_dup"]
    assert out.count() == 0


def test_hard_negative_topk_empty_input_returns_empty_frame(spark):
    emb = spark.createDataFrame(
        [], "vec_id bigint, embedding array<double>, label bigint"
    )
    out = simsearch.hard_negative_topk(emb)
    assert out.columns == [
        "anchor_id", "anchor_label", "neg_id", "neg_label", "cosine", "rank",
    ]
    assert out.count() == 0


# --------------------------------------------------------------------------
# minhash_lsh_pairs shuffle contract (VERDICT r9 #5): the banded
# self-join carries (band, band_hash, doc) only; signatures re-attach by
# id after the pair distinct — and the results are unchanged
# --------------------------------------------------------------------------

def test_minhash_banded_join_carries_no_signatures(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(60)
    with caching.scope():
        pairs = dedup.minhash_lsh_pairs(docs)
        plan = pairs._jdf.queryExecution().optimizedPlan().toString()
        assert pairs.count() > 0
    # the candidate join output must not include sig on either side: in
    # the optimized plan the only Join over band/band_hash projects doc
    # ids, and sig columns appear solely in the two post-distinct
    # re-attach joins (keyed by id, not by band)
    import re

    band_joins = [
        ln for ln in plan.splitlines() if "band" in ln and "Join" in ln
    ]
    assert band_joins, "banded candidate join missing from the plan"
    for ln in band_joins:
        assert not re.search(r"\bsig\b", ln), ln


def test_minhash_pairs_results_unchanged_by_reattach(spark):
    # planted near-dup still found with the exact same est_jaccard as a
    # direct signature comparison
    from pyspark.sql import Row, functions as F

    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep green forest tonight"
    )
    rows = [Row(doc_id=1, text=base), Row(doc_id=2, text=base + " again")]
    rows += [
        Row(doc_id=10 + i, text=f"totally different document number {i} "
            f"with its own unique words {i * 7} {i * 13}")
        for i in range(8)
    ]
    docs = spark.createDataFrame(rows)
    pairs = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in dedup.minhash_lsh_pairs(docs).collect()
    }
    assert (1, 2) in pairs
    sigs = {
        r["doc"]: r["sig"]
        for r in dedup.minhash_signatures(docs).collect()
    }
    expected = sum(
        1 for a, b in zip(sigs[1], sigs[2]) if a == b
    ) / 64.0
    assert pairs[(1, 2)] == pytest.approx(expected)


# --------------------------------------------------------------------------
# auto-banding (VERDICT r9 #4): band width sized from the corpus
# --------------------------------------------------------------------------

def test_auto_band_bits_ladder():
    from shifts_etl_spark.operators.dedup import auto_band_bits

    assert auto_band_bits(500) == 4
    assert auto_band_bits(1024) == 4
    assert auto_band_bits(1025) == 8
    assert auto_band_bits(16384) == 8
    assert auto_band_bits(16385) == 16
    assert auto_band_bits(4_194_304) == 16
    assert auto_band_bits(4_194_305) == 32
    assert auto_band_bits(10**12) == 32  # saturates at the full band
    # n_planes=16 only allows widths 4/8/16
    assert auto_band_bits(16385, n_planes=16) == 16
    with pytest.raises(ValueError, match="no valid band width"):
        auto_band_bits(100, n_planes=3)


def test_embedding_nn_autoband_matches_explicit_geometry(spark):
    """At a fixed corpus size the auto mode must equal the explicit
    bands call it resolves to (500 vecs -> 4-bit bands -> bands=8)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    n = emb.count()
    from shifts_etl_spark.operators.dedup import auto_band_bits

    bits = auto_band_bits(n)
    auto = dedup.embedding_nn_pairs_lsh(emb, bands="auto")
    explicit = dedup.embedding_nn_pairs_lsh(emb, bands=32 // bits)
    assert sorted(map(tuple, auto.collect())) == sorted(
        map(tuple, explicit.collect())
    )
    with pytest.raises(ValueError, match="bands must be"):
        dedup.embedding_nn_pairs_lsh(emb, bands="wide")
