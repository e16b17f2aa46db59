"""KPI layer — the six KPIs the reference computes in one SQL statement
(reference etl/app/shift_data_processor.py:225-279; golden values
etl/tests/test_shift_data_processor.py:352-392, see FIXTURES.md §3).

``compute_kpis`` builds the kpis frame (kpi_name, kpi_date, kpi_value
decimal(8,2)) — the Spark analog of the reference's 6-way VALUES of scalar
subqueries (Q1/Q3) — as ONE lazy query: building it runs no Spark job.

``anchor_date`` parameterizes the reference's CURRENT_DATE so results are
deterministic in tests (SURVEY.md §7.4 pitfall #4); the live pipeline passes
None → current_date().

Scale notes (100 TB):
  - The five scalar KPIs are one conditional aggregate over a tagged union
    of breaks rows, shifts rows and the 14-day allowances ⋈ shifts rows:
    one map-side partial aggregation, one shuffle of 1 row per partition,
    each input scanned once.
  - J1 (allowances ⋈ shifts) broadcasts the smaller side; the date filter is
    pushed below the join by Catalyst.
  - W1 (global-order running sum for gaps-and-islands) preserves the
    reference's RANGE tie semantics WITHOUT its fact-table single-partition
    hazard: rows collapse to one per shift_date first, and only that
    per-date frame — one row per distinct day, ~3.6k for ten years — meets
    the globally ordered window.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession, Window, functions as F


def _date_anchor(anchor_date: dt.date | str | None):
    if anchor_date is None:
        return F.current_date()
    return F.to_date(F.lit(str(anchor_date)))


def break_free_islands(shifts: DataFrame, breaks: DataFrame) -> DataFrame:
    """W1+W2+A6 — gaps-and-islands: per island of consecutive break-free
    shift days, its length. Exact reference semantics:

      grp  = SUM(CASE WHEN break_id IS NULL THEN 0 ELSE 1 END)
             OVER (ORDER BY shift_date)           -- default RANGE frame:
                                                  -- ties on shift_date share
                                                  -- one running value
      cnt  = COUNT(*) per grp - (0 if grp = 0 else 1)

    Scale shape: the RANGE frame means tie days share one running value,
    so collapse to ONE row per shift_date first (map-side-combinable
    aggregate carrying (date, flag_sum, n_rows)), then number the islands
    with a ROWS running sum over the distinct dates. Distinct dates being
    unique, ROWS over them == the RANGE-tie semantics over the raw rows.
    That window has no partition key, so it runs in one partition, but no
    fact-table row enters it: it sees one row per day, a bound that holds
    at any data size (hundreds a year). It is also lazy at any size — no
    sampling job at plan build, unlike ``windows.scalable_running_sum``
    on an input above one file split."""
    j = shifts.join(breaks, "shift_id", "left").select(
        "shift_date", F.col("break_id")
    )
    flag = F.when(F.col("break_id").isNull(), 0).otherwise(1)
    per_date = j.groupBy("shift_date").agg(
        F.sum(flag).alias("_f"), F.count(F.lit(1)).alias("_n")
    )
    running = Window.orderBy("shift_date").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    with_grp = per_date.withColumn("grp", F.sum("_f").over(running))
    return with_grp.groupBy("grp").agg(
        (
            F.sum("_n")
            - F.when(F.col("grp") == 0, F.lit(0)).otherwise(F.lit(1))
        ).alias("cnt")
    )


def max_break_free_shift_period_in_days(
    shifts: DataFrame, breaks: DataFrame
) -> DataFrame:
    """Q2 top-1 over the islands (ORDER BY cnt DESC LIMIT 1) as a one-row
    MAX; empty shifts ⇒ no islands row, where the reference would insert
    NULL — normalized to 0."""
    return break_free_islands(shifts, breaks).agg(
        F.coalesce(F.max("cnt").cast("double"), F.lit(0.0)).alias("kpi_value")
    )


def compute_kpis(
    spark: SparkSession,
    shifts: DataFrame,
    breaks: DataFrame,
    allowances: DataFrame,
    anchor_date: dt.date | str | None = None,
) -> DataFrame:
    """Build the 6-row kpis DataFrame (K3/Q1/Q3) without running a job.

    The five scalar KPIs read a union of three inputs, each tagged by the
    one measure column it fills (NULL elsewhere, and every aggregate below
    skips NULLs): breaks rows, shifts rows, and the allowance costs of the
    trailing 14 days (A3+J1+F2, shifts broadcast — FK→PK, dim-sized). One
    conditional aggregate computes all five, each with its reference
    expression and type (``shift_cost`` averages as a decimal), and
    ``stack`` unpivots them to rows; the islands KPI is the sixth row.
    """
    anchor = _date_anchor(anchor_date)
    recent = allowances.join(
        F.broadcast(shifts.select("shift_id", "shift_date")), "shift_id", "inner"
    ).where(F.col("shift_date") >= F.date_sub(anchor, 14))
    tagged = (
        breaks.select(
            (F.unix_timestamp("break_finish") - F.unix_timestamp("break_start")).alias(
                "_break_secs"
            ),
            F.col("is_paid").alias("_paid"),
        )
        .unionByName(
            shifts.select(
                F.col("shift_cost").alias("_shift_cost"),
                (
                    (F.unix_timestamp("shift_finish") - F.unix_timestamp("shift_start"))
                    / 3600.0
                ).alias("_shift_hours"),
            ),
            allowMissingColumns=True,
        )
        .unionByName(
            recent.select(F.col("allowance_cost").alias("_allowance_cost")),
            allowMissingColumns=True,
        )
    )
    scalars = {
        # A1 — AVG(break_finish - break_start) in minutes: EXTRACT(EPOCH
        # FROM AVG(interval))/60 == AVG(epoch-seconds diff)/60
        "mean_break_length_in_minutes": F.coalesce(
            F.avg("_break_secs") / 60.0, F.lit(0.0)
        ),
        # A2
        "mean_shift_cost": F.coalesce(F.avg("_shift_cost"), F.lit(0.0)),
        # A3+J1+F2
        "max_allowance_cost_14d": F.coalesce(
            F.max("_allowance_cost").cast("double"), F.lit(0.0)
        ),
        # A4 — MIN(epoch(shift_finish - shift_start)/3600)
        "min_shift_length_in_hours": F.coalesce(
            F.min("_shift_hours"), F.lit(0.0)
        ),
        # A5+F1 — COUNT(*) WHERE is_paid
        "total_number_of_paid_breaks": F.count(F.when(F.col("_paid"), F.lit(1))),
    }
    stacked = ", ".join(f"'{name}', `{name}`" for name in scalars)
    values = tagged.agg(
        *(e.cast("double").alias(name) for name, e in scalars.items())
    ).selectExpr(f"stack({len(scalars)}, {stacked}) AS (kpi_name, kpi_value)")
    islands = max_break_free_shift_period_in_days(shifts, breaks).select(
        F.lit("max_break_free_shift_period_in_days").alias("kpi_name"), "kpi_value"
    )
    return values.unionByName(islands).select(
        "kpi_name",
        anchor.alias("kpi_date"),
        F.col("kpi_value").cast("decimal(8,2)").alias("kpi_value"),
    )
