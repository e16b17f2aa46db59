"""Training-shard ids pinned row by row: assign_shards against a
plain-Python prefix sum over the same hash order."""

import random

import pytest
from pyspark.sql import Row, functions as F

from shifts_etl_spark.operators.textstats import normalize_text, token_count
from shifts_etl_spark.sinks.shards import assign_shards


@pytest.fixture
def no_coalesce(spark):
    """Keep every range partition of the 200-doc corpus, so the
    cross-partition offsets are exercised, not folded into one task."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(key, "false")
    yield
    spark.conf.set(key, "true")


def _corpus(spark, n=200):
    rng = random.Random(20)
    rows = [
        Row(doc_id=i, text=" ".join(f"w{rng.randrange(60)}" for _ in range(rng.randint(1, 40))))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


@pytest.mark.parametrize("budget", [64, 500])
@pytest.mark.parametrize("seed", [0, 7])
def test_assign_shards_matches_python_reference(spark, no_coalesce, seed, budget):
    """Rows ordered by (xxhash64(id, seed), id); shard_id =
    floor(tokens before the row / budget)."""
    docs = _corpus(spark)
    sized = docs.select(
        "doc_id",
        token_count(normalize_text(F.col("text"))).alias("n_tokens"),
        F.xxhash64("doc_id", F.lit(seed)).alias("h"),
    ).collect()
    expected, before = {}, 0
    for r in sorted(sized, key=lambda r: (r.h, r.doc_id)):
        expected[r.doc_id] = (r.n_tokens, before // budget)
        before += r.n_tokens
    got = {
        r.doc_id: (r.n_tokens, r.shard_id)
        for r in assign_shards(docs, budget, seed).collect()
    }
    assert got == expected
    assert len(set(s for _, s in expected.values())) > 1
