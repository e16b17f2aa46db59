"""Streaming distribution-drift monitoring — the streaming twin of the
batch PSI audit (plans/extensions.x77) and KS drift (x78): watch a value
column's windowed histogram against a fixed reference distribution and
emit one PSI row per event-time window.

Structured-Streaming shape: PSI needs the WHOLE histogram of a window at
once, and multiple stateful aggregations don't compose freely — so the
histogram is built in a SINGLE aggregation as an array-of-counts
(one-hot sums), and the PSI fold over the 10-element array is a
stateless projection after the agg. Watermark + append/complete both
work; state per window is one 10-long array regardless of input volume,
so a 100 TB/day feed costs the same state as a toy one.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import SparkSession, functions as F

N_BINS = 10


def _psi_projection(ref_probs: list[float]):
    """PSI vs the literal reference, Laplace 0.5-smoothed (the x77
    convention): Σ (p_w − p_r)·ln(p_w / p_r)."""
    total = sum(ref_probs)
    ref = [p / total for p in ref_probs]
    n = F.col("n_events").cast("double")
    terms = []
    for i, r in enumerate(ref):
        p = (F.element_at("hist", i + 1).cast("double") + 0.5) / (n + 0.5 * N_BINS)
        r_s = (F.lit(r) * n + 0.5) / (n + 0.5 * N_BINS)
        terms.append((p - r_s) * (F.log(p) - F.log(r_s)))
    psi = terms[0]
    for t in terms[1:]:
        psi = psi + t
    return F.round(psi, 6)


def streaming_value_psi(
    spark: SparkSession,
    input_dir: str | Path,
    checkpoint_dir: str | Path,
    ref_probs: list[float],
    lo: float,
    hi: float,
    watermark: str = "1 hour",
    window: str = "1 hour",
    query_name: str = "value_psi",
):
    """Per-window PSI of events.value vs ``ref_probs`` (a 10-bin
    reference over [lo, hi]). Returns the started query writing
    (window_start, n_events, psi) to an in-memory sink."""
    if len(ref_probs) != N_BINS:
        raise ValueError(f"ref_probs must have {N_BINS} bins")
    events = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .json(str(input_dir))
    )
    span = hi - lo
    bin_ = F.greatest(
        F.least(
            F.floor((F.col("value") - lo) / span * N_BINS).cast("int"),
            F.lit(N_BINS - 1),
        ),
        F.lit(0),
    )
    hist = F.array(
        *[F.sum((F.col("bin") == i).cast("long")) for i in range(N_BINS)]
    ).alias("hist")
    agg = (
        events.withColumn("bin", bin_)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(hist, F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            "n_events",
            _psi_projection(ref_probs).alias("psi"),
        )
    )
    # complete mode for the same reason as streaming_event_counts: under
    # availableNow, append would hold back still-open windows forever.
    return (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", str(checkpoint_dir))
        .trigger(availableNow=True)
        .start()
    )

