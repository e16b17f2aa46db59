"""Training-shard export — the LAST-MILE sink of an LLM data pipeline:
deterministic global shuffle → token-budget shard assignment → one
parquet directory per shard + a manifest with per-shard counts and a
content checksum.

Scale design (100 TB):
  - **Shuffle order is a hash sort, not randomness.** Rows order by
    xxhash64(id, seed) — deterministic, seed-swappable per epoch, and
    free of any driver-side permutation state. repartitionByRange on the
    hash gives the sorted-cluster layout; no ORDER BY-only window ever
    sees the data (the single-partition hazard, SURVEY.md §4).
  - **Shard assignment is a two-pass prefix sum**
    (operators/windows.scalable_running_sum over the composite order
    (hash, id)) of token counts in hash order: shard_id =
    floor(cum_before / tokens_per_shard) — each shard is a contiguous
    hash-order span, so assignment needs no global sort beyond the one
    range exchange the prefix sum already pays. The cross-bucket offsets
    fold on the driver over ≤ #partitions totals rows (bounded by
    parallelism, never data) — no single-partition window anywhere.
  - **The write is partitionBy("shard_id")** — one directory per shard,
    each written by the tasks that already hold its rows. The manifest
    aggregates (docs, tokens, xor-of-row-hashes checksum) per shard in
    one map-side-combinable pass; checksum is order-insensitive so it
    verifies content without imposing file order.

A re-run with the same seed reproduces byte-identical shard membership
(manifest checksums equal) — the property training-resume depends on.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.textstats import normalize_text, token_count
from ..operators.windows import scalable_running_sum


def assign_shards(
    docs: DataFrame,
    tokens_per_shard: int,
    seed: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_tokens, shard_id) — deterministic hash-order spans of
    ~tokens_per_shard tokens. Boundary docs spill into the next shard
    (floor of cum-before), so every doc lands in exactly one shard."""
    sized = docs.select(
        F.col(id_col),
        token_count(normalize_text(F.col(text_col))).alias("n_tokens"),
        F.xxhash64(F.col(id_col), F.lit(seed)).alias("_shuffle_ord"),
    )
    summed = scalable_running_sum(sized, ["_shuffle_ord", id_col], "n_tokens", "cum")
    return summed.select(
        id_col,
        "n_tokens",
        F.floor((F.col("cum") - F.col("n_tokens")) / tokens_per_shard)
        .cast("long")
        .alias("shard_id"),
    )


def write_training_shards(
    docs: DataFrame,
    out_dir: str | Path,
    tokens_per_shard: int = 4096,
    seed: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Write shard_id=N parquet directories + manifest.parquet; returns
    the manifest DataFrame (shard_id, n_docs, n_tokens, checksum)."""
    out = Path(out_dir)
    spark = docs.sparkSession
    shards = assign_shards(docs, tokens_per_shard, seed, text_col, id_col)
    data = docs.join(shards, id_col).select(
        "shard_id", id_col, "n_tokens", text_col
    )
    (
        data.repartitionByRange("shard_id", id_col)
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(str(out / "data"))
    )
    written = spark.read.parquet(str(out / "data"))
    manifest = (
        written.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            # order-insensitive content checksum: xor of row hashes
            _xor_agg(F.xxhash64(F.col(id_col), F.col(text_col))).alias(
                "checksum"
            ),
        )
        .orderBy("shard_id")
    )
    manifest.coalesce(1).write.mode("overwrite").parquet(str(out / "manifest"))
    return spark.read.parquet(str(out / "manifest"))


def _xor_agg(col):
    """Order-insensitive 64-bit fold: xor via sum over bit-planes is not
    built in, but bit_xor aggregate is."""
    return F.bit_xor(col)
