"""Theta (KMV) sketches — distinct counts that survive UNION **and**
INTERSECTION, the piece HLL lacks.

A KMV ("k minimum values") sketch keeps the k smallest distinct values
of a uniform hash of the column, normalized into (0, 1). With
``theta`` = the k-th smallest hash, the unbiased distinct-count estimate
is ``(k-1)/theta`` (RSE ~ 1/sqrt(k-2)); a sketch holding fewer than k
hashes has seen every distinct value and is exact. Because "k smallest
distinct xxhash64 values" is a pure set property, the sketch is
deterministic and independent of partitioning — same data, same sketch,
any cluster size.

Set algebra on sketches (Dasgupta et al., "Theta Sketch Framework",
2016 — the same estimator family as Apache DataSketches' theta):
  union:        merge hash sets, keep the k smallest.
  intersection: theta = min(theta_a, theta_b); count the hashes present
                in BOTH sketches below theta; estimate = count / theta.

Everything is built-in-expression Spark (xxhash64, windows, array ops)
— no UDFs, no driver loops. The build is the classic two-phase
distributed top-k: per-shuffle-partition k-smallest first (bounds every
reducer at k rows per key), then k-smallest of the <= k * P candidates.
Shuffle traffic is (key, hash) pairs, never payload rows, and a
finished sketch is k doubles (~8 KB at k=1024) — cheap to store next to
any partition/day/corpus and merge upward later, which is the 100 TB
use-case: sketch once per leaf, answer overlap questions forever
without re-scanning.

Complements x31's HLL (`plans/extensions.py`): HLL is smaller per
counter; theta buys intersection/difference. Reference has no sketches
(single-node ETL, exact counts suffice there).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

TWO_63 = float(2**63)
TWO_48 = float(2**48)


def _uhash(col: Column, seed: int = 0, hash_fn: str = "xxhash64") -> Column:
    """Uniform double in (0, 1] from the chosen hash family.

    ``xxhash64`` (default): signed-long range is shifted, not abs'd, so
    no value doubles up; exact 0 is dropped by the builder (theta must
    stay > 0). ``md5``: the cross-engine 48-bit fold
    (dedup._md5_hash48 over CAST(value AS STRING) with the seed as
    salt) mapped to (h+1)/2^48 — every value is a dyadic rational, so
    the division, ordering, and the (k-1)/theta estimate are bit-exact
    in ANY IEEE-754 engine; DuckDB re-derives the identical u from the
    same md5 hex (the X3_SQL positional base-16 fold). ~2× slower
    JVM-side, which is why xxhash64 stays the default and md5 backs the
    oracle-checked catalog entry (x244)."""
    if hash_fn == "md5":
        from .dedup import _md5_hash48

        h = _md5_hash48(col.cast("string"), seed)
        return (h.cast("double") + 1.0) / TWO_48
    h = F.xxhash64(col.cast("string"), F.lit(seed))
    return (h.cast("double") + TWO_63 + 1.0) / (TWO_63 * 2.0 + 2.0)


def theta_sketch(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    k: int = 1024,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """One sketch row per key: ``ks`` = sorted array of the k smallest
    distinct hashes of ``value_col``, plus ``k`` for the estimators.

    dropDuplicates bounds the shuffle to distinct (key, hash) pairs with
    map-side partial dedup; the two-window top-k keeps every reducer's
    input bounded (first window is per (key, shuffle-partition), second
    sees <= k * P survivors per key)."""
    hashed = (
        df.select(*key_cols, _uhash(F.col(value_col), hash_fn=hash_fn).alias("_u"))
        .where(F.col("_u") > 0.0)
        .dropDuplicates([*key_cols, "_u"])
    )
    w_local = Window.partitionBy(*key_cols, "_p").orderBy("_u")
    cand = (
        hashed.withColumn("_p", F.spark_partition_id())
        .withColumn("_rn", F.row_number().over(w_local))
        .where(F.col("_rn") <= k)
        .drop("_rn", "_p")
    )
    w_global = Window.partitionBy(*key_cols).orderBy("_u")
    return (
        cand.withColumn("_rn", F.row_number().over(w_global))
        .where(F.col("_rn") <= k)
        .groupBy(*key_cols)
        .agg(F.sort_array(F.collect_list("_u")).alias("ks"))
        .withColumn("k", F.lit(k))
    )


def theta_estimate(ks: Column, k: Column) -> Column:
    """Distinct-count estimate from a sketch: exact when the sketch never
    filled (it holds every distinct hash), else (k-1)/theta."""
    return F.when(
        F.size(ks) < k, F.size(ks).cast("double")
    ).otherwise((k.cast("double") - 1.0) / F.element_at(ks, k))


def _theta_of(ks: Column, k: Column) -> Column:
    """The sketch's inclusion threshold: 1.0 until it fills, then the
    k-th smallest hash."""
    return F.when(F.size(ks) < k, F.lit(1.0)).otherwise(F.element_at(ks, k))


def theta_union_agg(ks: Column, k: int) -> Column:
    """Aggregate expression: union of the group's sketches (merge hash
    sets, keep k smallest). Each input is k doubles, so collect_list
    holds G*k values for G sketches — fine for the thousands-of-leaves
    case; tree-reduce in stages if G grows past that."""
    return F.slice(
        F.array_sort(F.array_distinct(F.flatten(F.collect_list(ks)))), 1, k
    )


def theta_intersect_estimate(
    ks_a: Column, ks_b: Column, k_a: Column, k_b: Column
) -> Column:
    """|A ∩ B| estimate: hashes both sketches retained below the shared
    theta, scaled back up by it."""
    theta = F.least(_theta_of(ks_a, k_a), _theta_of(ks_b, k_b))
    below = F.size(
        F.filter(F.array_intersect(ks_a, ks_b), lambda x: x < theta)
    )
    return below.cast("double") / theta

