"""Incremental rollup maintenance — fold new partitions into a persisted
partial-aggregate state instead of re-scanning history.

The 100 TB motivation: a daily KPI rollup over an append-only event log
should cost O(day), not O(history). Every supported measure is ALGEBRAIC
(sum/count/min/max, avg = sum/count at render time), so the state table
stores mergeable partials keyed by the rollup dimensions and a day's
update is: aggregate the new batch (map-side combinable), union with the
state, re-aggregate — one shuffle of |keys| rows, never a history scan.
It is the batch analog of what HLL/theta/quantile sketch rows do for
non-algebraic statistics (x31/x33/x58).

Semantics pinned by pytest: folding partitions in ANY order equals the
one-shot aggregate over the concatenation (associativity +
commutativity), including min/max identity handling for keys absent
from a batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# measure -> (partial columns it needs, final expression)
_ALGEBRAIC = {"sum", "count", "min", "max"}


def aggregate_partials(
    batch: DataFrame, keys: list[str], measures: dict[str, tuple[str, str]]
) -> DataFrame:
    """One batch → partial-state rows. measures: {out: (fn, col)} with fn
    in sum/count/min/max/avg; avg expands to _sum/_cnt partials."""
    aggs = []
    for out, (fn, col) in measures.items():
        fn = fn.lower()
        if fn == "avg":
            aggs.append(F.sum(col).alias(f"{out}__sum"))
            aggs.append(F.count(col).alias(f"{out}__cnt"))
        elif fn == "count":
            aggs.append(
                F.count(F.lit(1) if col == "*" else F.col(col)).alias(out)
            )
        elif fn in _ALGEBRAIC:
            aggs.append(getattr(F, fn)(col).alias(out))
        else:
            raise ValueError(f"non-algebraic measure {fn!r} — use a sketch op")
    return batch.groupBy(*keys).agg(*aggs)


def merge_state(
    state: DataFrame | None,
    partials: DataFrame,
    keys: list[str],
    measures: dict[str, tuple[str, str]],
) -> DataFrame:
    """Fold a batch's partials into the state: union + re-aggregate with
    the MERGE function of each measure (sum/count merge by sum, min by
    min, max by max). |state| rows shuffle once; no history re-scan."""
    if state is None:
        return partials
    both = state.unionByName(partials)
    aggs = []
    for out, (fn, _col) in measures.items():
        fn = fn.lower()
        if fn == "avg":
            aggs.append(F.sum(f"{out}__sum").alias(f"{out}__sum"))
            aggs.append(F.sum(f"{out}__cnt").alias(f"{out}__cnt"))
        elif fn in ("sum", "count"):
            aggs.append(F.sum(out).alias(out))
        else:  # min / max merge with themselves
            aggs.append(getattr(F, fn)(out).alias(out))
    return both.groupBy(*keys).agg(*aggs)


def render(
    state: DataFrame, measures: dict[str, tuple[str, str]]
) -> DataFrame:
    """Resolve derived measures (avg) from their partials for serving."""
    cols = list(state.columns)
    out_cols = []
    consumed = set()
    for out, (fn, _col) in measures.items():
        if fn.lower() == "avg":
            out_cols.append(
                (F.col(f"{out}__sum") / F.col(f"{out}__cnt")).alias(out)
            )
            consumed |= {f"{out}__sum", f"{out}__cnt"}
        else:
            out_cols.append(F.col(out))
            consumed.add(out)
    key_cols = [F.col(c) for c in cols if c not in consumed]
    return state.select(*key_cols, *out_cols)
