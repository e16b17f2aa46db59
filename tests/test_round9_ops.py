"""Round-9 fixes: streaming neardup_kwargs validation and the re-keyed
scale-correct defaults (x13 fixed-cell IVF, x6/x121 band-blocked NN, x36
banded SemDeDup candidates, x242 sidecar-path certification).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from shifts_etl_spark.operators import curation, dedup, simsearch

SF = "/root/testdata/sf0.001"


# --------------------------------------------------------------------------
# re-keyed scale-correct defaults (VERDICT r8 #3-#5)
# --------------------------------------------------------------------------

def test_ivf_topk_fixed_cells_default_and_guard(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qids = [0, 1, 2, 3, 4]
    got = simsearch.ivf_topk(emb, qids, k=5).collect()
    per_q = {}
    for r in got:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert set(per_q) == set(qids)
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    # pre-flip call pattern fails loudly instead of silently running cells
    with pytest.raises(ValueError, match="centroid_stride is ignored"):
        simsearch.ivf_topk(emb, qids, centroid_stride=8)
    # the legacy stride sample stays opt-in
    legacy = simsearch.ivf_topk(emb, qids, k=5, n_cells=None)
    assert legacy.count() > 0


def test_block_lsh_pairs_stay_within_block_and_under_brute(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    lab = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    lsh = dedup.embedding_nn_pairs_lsh(emb, block_col="label").collect()
    assert len(lsh) > 0
    for r in lsh:
        assert lab[r["vec_id"]] == lab[r["neighbor_id"]]  # within-label
    # the banded NN can never beat the brute-force in-label NN cosine
    brute = {
        r["vec_id"]: r["cosine"]
        for r in dedup.embedding_nn_pairs(emb).collect()
    }
    for r in lsh:
        assert r["cosine"] <= brute[r["vec_id"]] + 1e-9


def test_semantic_dedup_banded_drops_subset_of_exact(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    kw = dict(k=8, threshold=0.9, max_iter=3, init="first", round_decimals=6)
    banded = curation.semantic_dedup(emb, **kw)
    exact = curation.semantic_dedup(emb, candidate_planes=None, **kw)
    assert banded.count() == emb.count()  # one row per input, always
    dropped_banded = {r["vec_id"] for r in banded.where("NOT keep").collect()}
    dropped_exact = {r["vec_id"] for r in exact.where("NOT keep").collect()}
    # banded candidates are a subset of cell pairs → drops can only shrink
    assert dropped_banded <= dropped_exact
    # cells are identical across modes (the candidate stage never moves them)
    assert (
        banded.select("vec_id", "cell").exceptAll(
            exact.select("vec_id", "cell")
        ).count() == 0
    )


def test_semantic_dedup_band_knob_certified_shape(spark):
    """x243's knob (8 bands of 4 bits) against the x36 default (4×8):
    same cells, one row per input, and — because 4-bit bands collide
    strictly more readily than 8-bit bands built from the SAME 32
    projections (a matching 8-bit band implies both its 4-bit halves
    match) — every default-geometry drop is also dropped by the knob
    when no hot cap binds (sf0.001 occupancy is far below 64)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    kw = dict(k=8, threshold=0.9, max_iter=3, init="first", round_decimals=6)
    base = curation.semantic_dedup(emb, candidate_bands=4, **kw)
    knob = curation.semantic_dedup(emb, candidate_bands=8, **kw)
    assert knob.count() == emb.count()
    d_base = {r["vec_id"] for r in base.where("NOT keep").collect()}
    d_knob = {r["vec_id"] for r in knob.where("NOT keep").collect()}
    assert d_base <= d_knob
    assert (
        knob.select("vec_id", "cell").exceptAll(
            base.select("vec_id", "cell")
        ).count() == 0
    )


def test_streaming_neardup_kwargs_validated(spark, tmp_path):
    from shifts_etl_spark.streaming.micro_batch import (
        streaming_curation_admit,
    )

    (tmp_path / "in").mkdir()
    with pytest.raises(ValueError, match="unsupported neardup_kwargs"):
        streaming_curation_admit(
            spark,
            tmp_path / "in",
            tmp_path / "ckpt",
            tmp_path / "out",
            neardup_threshold=0.5,
            neardup_kwargs={"threshold": 0.7},
        )
    with pytest.raises(ValueError, match="unsupported neardup_kwargs"):
        streaming_curation_admit(
            spark,
            tmp_path / "in",
            tmp_path / "ckpt",
            tmp_path / "out",
            neardup_threshold=0.5,
            neardup_kwargs={"text_col": "body"},
        )
