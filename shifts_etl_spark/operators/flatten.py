"""Flatten layer — nested shift docs → 4 relational tables (SURVEY.md §2.3).

Reference behavior being re-expressed (semantics, not code):
  - T1 explode + parent-key propagation: reference
    etl/app/shift_data_processor.py:53-60 (list comprehension over nested
    arrays — empty arrays emit NOTHING, so we use ``explode``, never
    ``explode_outer``).
  - T2 rename map: reference etl/app/shift_data_processor.py:45-51.
  - T3 shifts projection + derived cost over the *nested* arrays:
    reference etl/app/shift_data_processor.py:72-87.
  - T4/T6/T7 child projections: reference :89-115.
  - T5 epoch-ms parse with null guard: reference :117-121.
  - T9 one pass fans out to 4 tables: reference :62-70 — here four lazy
    plans over the same doc frame; pipeline.run_etl's docs are a JVM-held
    local relation (sources/pages.py), so each plan re-scans it without a
    cache. The relation's partitions follow its bytes, not the core count
    (one below 4 MB), so each plan runs one task per stage and writes one
    part file per child table: a warm 28-day run takes 19 tasks, not 101.

Scale note (100 TB): each flatten is a narrow transformation — no shuffle at
all. Explodes multiply rows ~1-3× within a partition; Catalyst prunes the
two array columns not needed by each child table down to the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.scalars import array_cost_sum, epoch_ms_to_ts


def explode_nested(df: DataFrame, record_key: str, parent_key: str) -> DataFrame:
    """T1 — one output row per element of ``record_key``, tagged with the
    parent doc id as ``parent_key``. Empty arrays vanish (inner explode)."""
    return df.select(
        F.col("id").alias(parent_key), F.explode(record_key).alias("_r")
    ).select(parent_key, "_r.*")


def rename_columns(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """T2 — rename per mapping; unknown keys pass through untouched."""
    return df.withColumnsRenamed(mapping)


def shifts_table(docs: DataFrame) -> DataFrame:
    """T3 — project shifts with the derived ``shift_cost``:
    round(Σ allowances.cost + Σ award_interpretations.cost, 4), computed by
    array-fold over the nested arrays (no explode/rejoin — a shift with no
    breaks/allowances still yields exactly one row with cost from `sum([])=0`).
    """
    cost: Column = F.round(
        array_cost_sum("allowances") + array_cost_sum("award_interpretations"), 4
    )
    return docs.select(
        F.col("id").alias("shift_id"),
        F.to_date("date").alias("shift_date"),
        epoch_ms_to_ts("start").alias("shift_start"),
        epoch_ms_to_ts("finish").alias("shift_finish"),
        cost.cast("decimal(13,4)").alias("shift_cost"),
    )


def breaks_table(docs: DataFrame) -> DataFrame:
    """T4 — explode breaks; id→break_id, paid→is_paid, parse both epochs."""
    b = explode_nested(docs, "breaks", "shift_id")
    return b.select(
        F.col("id").alias("break_id"),
        "shift_id",
        epoch_ms_to_ts("start").alias("break_start"),
        epoch_ms_to_ts("finish").alias("break_finish"),
        F.col("paid").alias("is_paid"),
    )


def allowances_table(docs: DataFrame) -> DataFrame:
    """T6 — explode allowances + rename map."""
    a = explode_nested(docs, "allowances", "shift_id")
    return rename_columns(
        a,
        {"id": "allowance_id", "value": "allowance_value", "cost": "allowance_cost"},
    ).select(
        "allowance_id",
        "shift_id",
        "allowance_value",
        F.col("allowance_cost").cast("decimal(13,4)").alias("allowance_cost"),
    )


def awards_table(docs: DataFrame) -> DataFrame:
    """T7 — explode award_interpretations + rename map + date parse."""
    a = explode_nested(docs, "award_interpretations", "shift_id")
    return rename_columns(
        a, {"id": "award_id", "date": "award_date", "units": "award_units", "cost": "award_cost"}
    ).select(
        "award_id",
        "shift_id",
        F.to_date("award_date").alias("award_date"),
        "award_units",
        F.col("award_cost").cast("decimal(13,4)").alias("award_cost"),
    )


def flatten_all(docs: DataFrame) -> dict[str, DataFrame]:
    """T9 — fan one doc DataFrame out to the 4 normalized tables: four lazy
    narrow plans, each scanning ``docs`` for the columns it needs. Over a
    local relation (``docs_from_pages``) a scan is a cheap JVM-side read;
    over a costly source, persist ``docs`` first.
    """
    return {
        "shifts": shifts_table(docs),
        "breaks": breaks_table(docs),
        "allowances": allowances_table(docs),
        "award_interpretations": awards_table(docs),
    }
