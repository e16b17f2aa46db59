"""Count-min sketch: mergeable frequency estimation over a key column.

The reference has no sketches at all (its only aggregation surface is the
six-KPI SQL at /root/reference/etl/app/shift_data_processor.py:225-279);
this is a north-star extension for corpus-scale token/frequency profiling
alongside the Misra-Gries heavy hitters (operators/heavyhitters.py) and
the KMV/HLL/theta distinct sketches (operators/theta.py).

Design (Cormode & Muthukrishnan 2005, "An improved data stream summary:
the count-min sketch and its applications"):

- The sketch is a ``depth x width`` grid of counters; each key increments
  one counter per row, chosen by an independent hash.  A point query reads
  the ``depth`` counters for the key and takes the MIN — an overestimate
  bounded by ``eps * N`` (eps = e/width) with probability 1 - (1/2)^depth.
- Spark realization: the grid IS a DataFrame ``(depth, bucket, cnt)``.
  Building it is one map-side-combinable groupBy — the shuffle carries at
  most ``depth * width`` rows regardless of input size, and two sketches
  merge by unioning and re-summing (used by the incremental tests).
- Hashing is md5-based so a DuckDB oracle can replay it bit-for-bit
  (same trick as plans/extensions.py x24's split buckets): row ``d``
  hashes ``md5(d || ':' || key)`` and folds the first four hex chars to
  an int.  16 bits of entropy per row is plenty for width <= 4096.

At 100 TB: the sketch never exceeds depth*width rows, so the collect at
the end is O(grid), not O(keys) — this is the operator to use when even
the Misra-Gries candidate set would blow the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def _hexval(c: Column) -> Column:
    """Value 0..15 of one lowercase hex char, via ascii arithmetic that
    replays identically in DuckDB ('0'-'9' → ascii-48, 'a'-'f' → ascii-87).

    NOT plain ascii(): hex chars only span 16 ascii codes, so folding raw
    ascii values and taking a modulus collapses the bucket space to ~16
    distinct residues — measurably wrecks the count-min error bound.
    """
    a = F.ascii(c)
    return a - F.when(a >= 97, F.lit(87)).otherwise(F.lit(48))


def _fold16(h: Column) -> Column:
    """Fold the first 4 hex chars of an md5 digest into a uniform 16-bit int."""
    return (
        _hexval(F.substring(h, 1, 1)) * 4096
        + _hexval(F.substring(h, 2, 1)) * 256
        + _hexval(F.substring(h, 3, 1)) * 16
        + _hexval(F.substring(h, 4, 1))
    )


def bucket_expr(key: Column, depth_row: Column, width: int) -> Column:
    """Bucket id for ``key`` in sketch row ``depth_row`` (0-based)."""
    h = F.md5(F.concat(depth_row.cast("string"), F.lit(":"), key.cast("string")))
    return _fold16(h) % width


def cm_build(
    df: DataFrame, key_col: str, depth: int = 4, width: int = 512
) -> DataFrame:
    """Build the sketch: one row per non-empty (depth, bucket) cell.

    One explode by ``depth`` (cheap: array of ints, no data duplication of
    anything but the key), then a partial-agg groupBy whose output is
    capped at depth*width rows.
    """
    from .dedup import _fan_out

    rows = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("depth")
    # _fan_out: the md5 bucket folds are the cost here (depth hex folds
    # per key), and a single-split input would run them on one core
    return (
        _fan_out(df.select(F.col(key_col).alias("k")))
        .where(F.col("k").isNotNull())
        .select("k", rows)
        .select("depth", bucket_expr(F.col("k"), F.col("depth"), width).alias("bucket"))
        .groupBy("depth", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cm_estimate(
    sketch: DataFrame, probes: DataFrame, key_col: str, width: int,
    depth: int | None = None,
) -> DataFrame:
    """Point-query the sketch for every key in ``probes``.

    Returns (key, est_cnt) with est = MIN over depth rows.  The probe side
    is exploded to (key, depth, bucket) and joined to the sketch on the
    grid coordinates — sketch side is tiny, so this broadcasts; a missing
    cell means a zero counter and only happens when est would be 0 anyway
    (every probe that occurs at least once hits a populated cell).

    Pass ``depth`` explicitly to keep plan construction action-free; when
    omitted it is read from the sketch (one bounded driver job).
    """
    if depth is None:
        depth = sketch.agg(F.max("depth")).first()[0] + 1
    rows = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("depth")
    probe_cells = probes.select(F.col(key_col).alias("k")).select(
        "k", rows
    ).select("k", "depth", bucket_expr(F.col("k"), F.col("depth"), width).alias("bucket"))
    joined = probe_cells.join(F.broadcast(sketch), ["depth", "bucket"], "left").select(
        "k", F.coalesce("cnt", F.lit(0)).alias("cnt")
    )
    return joined.groupBy("k").agg(F.min("cnt").alias("est_cnt")).select(
        F.col("k").alias(key_col), "est_cnt"
    )
