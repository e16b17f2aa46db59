"""Mergeable multi-level quantile sketch (KLL/MRL-style compactors).

Completes the engine's sketch family (HLL x31, theta/KMV x33, count-min
x55, Misra-Gries heavy hitters) with the one primitive those can't give:
approximate QUANTILES that re-aggregate. ``percentile_approx`` answers one
query over one scan; a persisted, mergeable sketch is the 100 TB shape for
feature-normalization cutoffs (build per partition/day, merge upward, query
many probs) — the same rollup property the HLL docstring describes for
distinct counts.

Algorithm: multi-level compactors (Manku-Rajagopalan-Lindsay '98 buffers
with the KLL compaction rule). Items at level L carry weight 2^L; a level
over capacity is sorted and every other item is promoted to level L+1.
Compaction offset is DETERMINISTIC (alternating per compaction count) so
results are reproducible run-to-run; the classic randomized offset only
tightens constants. Worst-case rank error after h levels is
Σ 2^l · (compactions at l) ≤ ~n/k per level, giving ε ≈ log2(n/k)/k —
the companion pytest pins observed error well under that.

Distribution shape (the part Spark executes):
  1. ``mapInPandas`` builds one bounded sketch row per input Arrow-batch —
     a map-side pass, no shuffle of raw values, mirroring partial
     aggregation;
  2. a fan-in groupBy merges sketch rows per shard, then once globally —
     the only data ever shuffled is sketches (k·log(n/k) doubles each),
     like bloom.py's bitset words, never the column.

Plain Python dict {level: sorted-list} inside pandas workers; numpy for
the batch sort. No Python UDF touches more than the bounded sketch state.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

_SKETCH_T = T.StructType(
    [
        T.StructField("shard", T.IntegerType()),
        T.StructField("levels", T.ArrayType(T.IntegerType())),
        T.StructField("items", T.ArrayType(T.ArrayType(T.DoubleType()))),
        T.StructField("n", T.LongType()),
    ]
)


def _compact_level(items: list[float], n_compactions: int) -> tuple[list, list]:
    """Sort a full buffer, keep/promote alternating halves. Returns
    (survivors=[], promoted). Deterministic offset alternates with the
    compaction counter."""
    s = sorted(items)
    off = n_compactions % 2
    promoted = s[off::2]
    return [], promoted


class _Sketch:
    """Driver/worker-local compactor stack; bounded by k per level."""

    def __init__(self, k: int):
        self.k = k
        self.levels: dict[int, list[float]] = {}
        self.n = 0
        self._compactions = 0

    def _settle(self) -> None:
        lvl = 0
        while lvl <= max(self.levels, default=0):
            buf = self.levels.get(lvl, [])
            if len(buf) > self.k:
                _, promoted = _compact_level(buf, self._compactions)
                self._compactions += 1
                self.levels[lvl] = []
                self.levels[lvl + 1] = self.levels.get(lvl + 1, []) + promoted
            lvl += 1

    def update_batch(self, vals: np.ndarray) -> None:
        vals = vals[~np.isnan(vals)]
        if len(vals) == 0:
            return
        self.n += len(vals)
        # whole-batch insert: one oversized level-0 buffer compacts in ONE
        # promotion (fewer compactions than item-at-a-time = less error)
        self.levels[0] = self.levels.get(0, []) + vals.tolist()
        self._settle()

    def merge(self, other: "_Sketch") -> "_Sketch":
        for lvl, items in other.levels.items():
            if items:
                self.levels[lvl] = self.levels.get(lvl, []) + items
        self.n += other.n
        self._settle()
        return self

    def quantile(self, prob: float) -> float | None:
        pairs = [
            (v, 1 << lvl) for lvl, items in self.levels.items() for v in items
        ]
        if not pairs:
            return None
        pairs.sort()
        total = sum(w for _, w in pairs)
        target = prob * total
        cum = 0
        for v, w in pairs:
            cum += w
            if cum >= target:
                return v
        return pairs[-1][0]

    # -- row <-> sketch ----------------------------------------------------

    def to_row(self, shard: int) -> dict:
        lvls = sorted(l for l, it in self.levels.items() if it)
        return {
            "shard": shard,
            "levels": lvls,
            "items": [list(self.levels[l]) for l in lvls],
            "n": self.n,
        }

    @classmethod
    def from_row(cls, row, k: int) -> "_Sketch":
        sk = cls(k)
        sk.levels = {
            int(l): list(items) for l, items in zip(row["levels"], row["items"])
        }
        sk.n = int(row["n"])
        return sk


def quantile_sketch(
    df: DataFrame, col: str, k: int = 200, fan_in: int = 16
) -> DataFrame:
    """Build ONE merged sketch row for ``col``. Two merge tiers: Arrow-batch
    partial sketches (map-side) → per-shard merge → global merge; every
    exchange carries only sketch rows."""

    def partials(batches):
        for pdf in batches:
            sk = _Sketch(k)
            sk.update_batch(pdf[col].to_numpy(dtype="float64"))
            if sk.n:
                yield pd.DataFrame([sk.to_row(0)])

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        sk = _Sketch(k)
        for _, row in pdf.iterrows():
            sk.merge(_Sketch.from_row(row, k))
        return pd.DataFrame([sk.to_row(0)])

    part = df.select(F.col(col).cast("double").alias(col)).mapInPandas(
        partials, schema=_SKETCH_T
    )
    # deterministic shard key from sketch content, not partition id — the
    # same rows always merge in the same groups
    sharded = part.withColumn(
        "shard", F.pmod(F.xxhash64(F.col("n"), F.col("levels")), F.lit(fan_in)).cast("int")
    )
    tier1 = sharded.groupBy("shard").applyInPandas(merge_group, schema=_SKETCH_T)
    return (
        tier1.withColumn("shard", F.lit(0))
        .groupBy("shard")
        .applyInPandas(merge_group, schema=_SKETCH_T)
        .drop("shard")
    )


def sketch_quantiles(sketch: DataFrame, probs: list[float], k: int = 200) -> DataFrame:
    """Evaluate ``probs`` against a (single-row) sketch frame → (prob,
    approx_value) rows, deterministic order."""

    probs = list(probs)

    def evaluate(pdf: pd.DataFrame) -> pd.DataFrame:
        sk = _Sketch(k)
        for _, row in pdf.iterrows():
            sk.merge(_Sketch.from_row(row, k))
        return pd.DataFrame(
            {"prob": probs, "approx_value": [sk.quantile(p) for p in probs]}
        )

    out_t = T.StructType(
        [
            T.StructField("prob", T.DoubleType()),
            T.StructField("approx_value", T.DoubleType()),
        ]
    )
    return (
        sketch.withColumn("shard", F.lit(0))
        .groupBy("shard")
        .applyInPandas(lambda pdf: evaluate(pdf), schema=out_t)
        .orderBy("prob")
    )


def det_quantile_sketch_quantiles(
    df: DataFrame, col: str, probs: list[float], k: int = 200
) -> DataFrame:
    """The x58 sketch in its ORDER-INDEPENDENT configuration — the
    result of feeding the whole multiset as ONE batch: update_batch puts
    all n values in level 0 and _settle compacts each level exactly once
    with the alternating offset (compaction counter % 2 == level % 2), so
    the surviving level h holds precisely the sorted values at global
    0-based ranks ≡ r (mod 2^h), r = Σ_{odd l<h} 2^l = 2(4^⌊h/2⌋−1)/3,
    where h is the FIRST level whose survivor count
    m_h = ⌊(n−r_h−1)/2^h⌋+1 drops to ≤ k (ceil-halving level sizes, so
    not exactly ceil(log2(n/k)) at non-power boundaries); each survivor
    carries weight 2^h and the weighted-rank query returns the kept
    value at position ceil(prob·m) of the m survivors. A pure function of the multiset — no batch structure, no
    merge tree — which is what makes it DuckDB-replayable (the x247
    catalog entry value-checks the compaction rule AND the estimator;
    the adaptive two-tier build of :func:`quantile_sketch` keeps the
    same rule per compaction but batch-dependent counts, hence x58
    stays rows-only).

    Scale shape: global ranks come from the w4 two-pass prefix-count
    (windows.scalable_running_sum — one data exchange, no
    single-partition sort); the survivor frame is ≤ k rows and
    broadcast-joined to the probe list. Runs an EAGER count() at
    plan-construction time (and, on an input above one file split, the
    prefix helper's eager approxQuantile and bucket totals).
    Prefer :func:`quantile_sketch` when sketches must persist and
    re-merge; this variant answers the same quantile queries one-shot
    with a certified result."""
    from .windows import scalable_running_sum

    probs = [float(p) for p in probs]
    spark = df.sparkSession
    probs_df = spark.createDataFrame([(p,) for p in probs], "prob double")
    v = df.select(F.col(col).cast("double").alias("_v")).where(
        F.col("_v").isNotNull()
    )
    n = v.count()
    if n == 0:
        return probs_df.withColumn(
            "approx_value", F.lit(None).cast("double")
        ).orderBy("prob")
    h, r, step = 0, 0, 1
    while (n - r - 1) // step + 1 > k:
        r += (h % 2) * step
        step <<= 1
        h += 1
    m = (n - r - 1) // step + 1
    ranked = scalable_running_sum(
        v.withColumn("_one", F.lit(1)), "_v", "_one", "_rk"
    )
    kept = (
        ranked.withColumn("_i", F.col("_rk") - 1)
        .where(F.col("_i") % step == r)
        .select("_v", ((F.col("_i") - r) / step + 1).cast("long").alias("_j"))
    )
    target = F.ceil(F.col("prob") * F.lit(float(m))).cast("long")
    return (
        probs_df.withColumn("_j", target)
        .join(F.broadcast(kept), "_j")
        .select("prob", F.col("_v").alias("approx_value"))
        .orderBy("prob")
    )


def group_quantiles(
    df: DataFrame,
    keys: list[str],
    col: str,
    probs: list[float],
    k: int = 200,
    fan_in: int = 16,
) -> DataFrame:
    """Per-group quantiles via per-group sketches — same two-tier build as
    quantile_sketch but keyed: mapInPandas emits one partial sketch per
    (Arrow batch × group), then groupBy(keys) merges sketches, so the
    exchange carries sketch rows per group, never raw values.

    Rank rule matches SQL ``quantile_disc`` exactly while a group fits in
    one uncompacted buffer (group size ≤ k ⇒ EXACT discrete quantiles —
    pinned by the x64 oracle); larger groups degrade gracefully to the
    sketch's ~log2(n/k)/k rank error instead of failing or spilling.
    """
    probs = [float(p) for p in probs]
    key_fields = [f for f in df.schema.fields if f.name in keys]
    sketch_t = T.StructType(
        key_fields
        + [
            T.StructField("levels", T.ArrayType(T.IntegerType())),
            T.StructField("items", T.ArrayType(T.ArrayType(T.DoubleType()))),
            T.StructField("n", T.LongType()),
        ]
    )
    out_t = T.StructType(
        key_fields
        + [
            T.StructField("prob", T.DoubleType()),
            T.StructField("approx_value", T.DoubleType()),
        ]
    )

    def partials(batches):
        for pdf in batches:
            rows = []
            for kv, g in pdf.groupby(keys, sort=False, dropna=False):
                if not isinstance(kv, tuple):
                    kv = (kv,)
                sk = _Sketch(k)
                sk.update_batch(g[col].to_numpy(dtype="float64"))
                if sk.n:
                    r = sk.to_row(0)
                    rows.append(
                        dict(zip(keys, kv))
                        | {"levels": r["levels"], "items": r["items"], "n": r["n"]}
                    )
            if rows:
                yield pd.DataFrame(rows)

    def merge_eval(key, pdf: pd.DataFrame) -> pd.DataFrame:
        sk = _Sketch(k)
        for _, row in pdf.iterrows():
            sk.merge(_Sketch.from_row(row, k))
        return pd.DataFrame(
            [
                dict(zip(keys, key))
                | {"prob": p, "approx_value": sk.quantile(p)}
                for p in probs
            ]
        )

    part = df.select(
        *keys, F.col(col).cast("double").alias(col)
    ).mapInPandas(partials, schema=sketch_t)
    return part.groupBy(*keys).applyInPandas(merge_eval, schema=out_t)
