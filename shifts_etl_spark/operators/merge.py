"""Slowly-changing-dimension type-2 history: collapse a change log into
per-key validity intervals [valid_from, valid_to), the as-of-joinable
dimension shape a warehouse MERGE pipeline maintains.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def scd2_from_changelog(
    changes: DataFrame,
    key_col: str,
    order_col: str,
    state_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Build a slowly-changing-dimension type-2 history from a change
    log: collapse consecutive equal states per key into validity
    intervals [valid_from, valid_to), valid_to NULL for the current row
    — the dimension-table shape every warehouse join-asof's against.

    Gaps-and-islands via the change-flag running sum, then one LEAD for
    the interval close. Every window is PARTITIONED by the key, so
    parallelism = #keys and no single-partition exchange appears; the
    aggregate is map-side combinable on (key, island). Ties on
    ``order_col`` are split by ``tiebreak_col`` (default: the state) so
    island assignment is deterministic."""
    from pyspark.sql import Window

    tb = tiebreak_col or state_col
    w = Window.partitionBy(key_col).orderBy(order_col, tb)
    chg = F.when(
        F.lag(state_col).over(w).isNull()
        | (F.col(state_col) != F.lag(state_col).over(w)),
        1,
    ).otherwise(0)
    runs = (
        changes.withColumn("_chg", chg)
        .withColumn(
            "_run",
            F.sum("_chg").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy(key_col, "_run")
        .agg(
            F.first(state_col).alias("state"),
            F.min(order_col).alias("valid_from"),
            F.count(F.lit(1)).alias("n_changes"),
        )
    )
    wr = Window.partitionBy(key_col).orderBy("_run")
    return runs.select(
        F.col(key_col),
        "state",
        "valid_from",
        F.lead("valid_from").over(wr).alias("valid_to"),
        F.col("n_changes").cast("bigint").alias("n_changes"),
    )


def scd2_intervals(
    events: DataFrame,
    attr: "F.Column | None" = None,
    ts_col: str = "ts",
    user_col: str = "user_id",
    id_col: str = "event_id",
) -> DataFrame:
    """Type-2 slowly-changing-dimension history from an event stream:
    collapse each user's consecutive runs of an attribute value (default:
    the ``k`` field of the props JSON) into validity intervals
    [valid_from, valid_to), with valid_to NULL on the current row — the
    change-data modeling step that turns an append-only log into an
    as-of-joinable dimension.

    Determinism: events order by (ts, event_id); a run starts where the
    attribute differs from its lag (or at the user's first event).

    Scale shape: one keyed shuffle on user drives both windows (lag for
    change marks, cumulative sum for run ids, lead for interval close);
    the per-run aggregate carries (user, run, value, ts) rows only."""
    from pyspark.sql import Window

    if attr is None:
        attr = F.get_json_object(F.col("props"), "$.k").cast("int")
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    marked = events.select(
        F.col(user_col).alias("user_id"),
        F.col(ts_col).alias("ts"),
        F.col(id_col).alias("event_id"),
        attr.alias("attr"),
    ).select(
        "*",
        F.when(
            F.lag("attr").over(
                Window.partitionBy("user_id").orderBy("ts", "event_id")
            ).eqNullSafe(F.col("attr")),
            0,
        )
        .otherwise(1)
        .alias("is_change"),
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    runs = marked.select(
        "user_id",
        "ts",
        "attr",
        F.sum("is_change").over(w2).alias("run_id"),
    )
    intervals = runs.groupBy("user_id", "run_id").agg(
        F.min("ts").alias("valid_from"),
        F.min("attr").alias("attr"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    w3 = Window.partitionBy("user_id").orderBy("run_id")
    return intervals.select(
        "user_id",
        F.col("attr"),
        "valid_from",
        F.lead("valid_from").over(w3).alias("valid_to"),
        "n_events",
    )
