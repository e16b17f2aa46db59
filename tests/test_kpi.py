"""Six golden KPI values (reference etl/tests/test_shift_data_processor.py:352-392),
and the six KPIs against the reference KPI SQL run on DuckDB."""

import copy
import datetime as dt
from decimal import Decimal

import duckdb
import pytest

from shifts_etl_spark.operators import flatten, kpi
from shifts_etl_spark.pipeline import run_etl
from shifts_etl_spark.schemas import SHIFT_DOC_SCHEMA
from shifts_etl_spark.sources.generator import generate_shift_docs, paginate
from shifts_etl_spark.sources.pages import docs_from_pages

from .golden import ANCHOR_DATE, GOLDEN_DOCS, GOLDEN_KPIS


@pytest.fixture(scope="module")
def tables(spark):
    docs = spark.createDataFrame(GOLDEN_DOCS, SHIFT_DOC_SCHEMA)
    return flatten.flatten_all(docs)


def test_golden_kpis(spark, tables):
    kpis = kpi.compute_kpis(
        spark,
        tables["shifts"],
        tables["breaks"],
        tables["allowances"],
        anchor_date=ANCHOR_DATE,
    )
    got = {r["kpi_name"]: r["kpi_value"] for r in kpis.collect()}
    assert set(got) == set(GOLDEN_KPIS)
    for name, want in GOLDEN_KPIS.items():
        assert got[name] == Decimal(str(want)).quantize(Decimal("0.01")), name


def test_kpis_invariant_under_row_shuffle(spark, tables):
    # property: KPI values don't depend on input row order/partitioning
    shifts = tables["shifts"].repartition(7)
    breaks = tables["breaks"].repartition(5)
    allows = tables["allowances"].repartition(3)
    kpis = kpi.compute_kpis(spark, shifts, breaks, allows, anchor_date=ANCHOR_DATE)
    got = {r["kpi_name"]: float(r["kpi_value"]) for r in kpis.collect()}
    assert got == {k: pytest.approx(v) for k, v in GOLDEN_KPIS.items()}


def test_islands_recent_window(spark, tables):
    # with anchor inside the 14-day window, max_allowance_cost_14d = 29.7
    kpis = kpi.compute_kpis(
        spark,
        tables["shifts"],
        tables["breaks"],
        tables["allowances"],
        anchor_date="2023-11-29",
    )
    got = {r["kpi_name"]: r["kpi_value"] for r in kpis.collect()}
    assert got["max_allowance_cost_14d"] == Decimal("29.70")


def test_break_free_islands_shape(spark):
    """Gaps-and-islands on a constructed 6-shift sequence:
    dates d1..d6, breaks on d2 and d5 → islands: [d1]=1 (grp0, no adjust),
    then [d2,d3,d4]→grp1 cnt 3-1=2, [d5,d6]→grp2 cnt 2-1=1 → max 2."""
    import datetime as dt

    from pyspark.sql import Row

    shifts = spark.createDataFrame(
        [Row(shift_id=f"s{i}", shift_date=dt.date(2024, 1, i + 1)) for i in range(6)]
    )
    breaks = spark.createDataFrame(
        [Row(break_id="b1", shift_id="s1"), Row(break_id="b2", shift_id="s4")]
    )
    top = kpi.max_break_free_shift_period_in_days(shifts, breaks).first()
    assert float(top["kpi_value"]) == 2.0


def test_rounding_tie_divergence_is_pinned(spark):
    """SURVEY §2.9 accepted divergence, pinned so it never surprises:
    the reference's Python round() is HALF_EVEN (banker's), Spark's
    F.round is HALF_UP. They differ ONLY on exact ties — which float
    KPI sums essentially never hit (the goldens contain none) — and the
    DecimalType(8,2) KPI cast is HALF_UP on both engines' paths.
    0.125 and 0.375 are exactly representable doubles, so the tie is
    real, not a binary-representation artifact."""
    from pyspark.sql import Row, functions as F

    ties = spark.createDataFrame(
        [Row(x=0.125), Row(x=0.375), Row(x=2.5)]
    )
    spark_rounded = [
        r["r"]
        for r in ties.select(
            F.round("x", 2).alias("r")
        ).orderBy("x").collect()
    ]
    # F.round: HALF_UP — ties go away from zero
    assert spark_rounded == [0.13, 0.38, 2.5]  # 2.5 has no 2-dp tie
    # Python round: HALF_EVEN — same inputs land on the even neighbor
    assert [round(x, 2) for x in [0.125, 0.375, 2.5]] == [0.12, 0.38, 2.5]
    # the divergent case, explicitly: 0.125 rounds apart; 0.375 agrees
    # (0.38 is the even neighbor AND the away-from-zero one)
    assert round(0.125, 2) != spark_rounded[0]
    # Decimal KPI cast (the actual sink path) is HALF_UP on ties
    dec = ties.select(
        F.col("x").cast("decimal(8,2)").alias("d")
    ).orderBy("x").collect()
    assert [str(r["d"]) for r in dec] == ["0.13", "0.38", "2.50"]


# The reference's KPI statement (reference etl/app/shift_data_processor.py:
# 225-279) in DuckDB's dialect. Timestamps hold whole seconds, as the
# flatten layer parses them; EXTRACT(EPOCH FROM AVG(interval)) is written
# as the AVG of epoch differences.
REFERENCE_KPI_SQL = """
WITH islands AS (
  SELECT grp, COUNT(*) - CASE WHEN grp = 0 THEN 0 ELSE 1 END AS cnt
  FROM (
    SELECT SUM(CASE WHEN b.break_id IS NULL THEN 0 ELSE 1 END)
             OVER (ORDER BY s.shift_date) AS grp
    FROM shifts s LEFT JOIN breaks b ON b.shift_id = s.shift_id
  ) GROUP BY grp
)
SELECT * FROM (VALUES
  ('mean_break_length_in_minutes',
   (SELECT COALESCE(AVG(epoch(break_finish) - epoch(break_start)) / 60, 0) FROM breaks)),
  ('mean_shift_cost', (SELECT COALESCE(AVG(shift_cost), 0) FROM shifts)),
  ('max_allowance_cost_14d',
   (SELECT COALESCE(MAX(a.allowance_cost), 0)
    FROM allowances a JOIN shifts s ON a.shift_id = s.shift_id
    WHERE s.shift_date >= $anchor::DATE - INTERVAL 14 DAY)),
  ('max_break_free_shift_period_in_days',
   COALESCE((SELECT cnt FROM islands ORDER BY cnt DESC LIMIT 1), 0)),
  ('min_shift_length_in_hours',
   (SELECT COALESCE(MIN(epoch(shift_finish) - epoch(shift_start)) / 3600, 0) FROM shifts)),
  ('total_number_of_paid_breaks', (SELECT COUNT(*) FROM breaks WHERE is_paid))
) AS k(kpi_name, kpi_value)
"""


def _reference_kpis(docs, anchor) -> dict[str, Decimal]:
    """The six KPIs by DuckDB over the docs flattened in plain Python."""
    def ts(ms):
        return dt.datetime.fromtimestamp(ms // 1000, dt.timezone.utc).replace(tzinfo=None)

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE shifts (shift_id VARCHAR, shift_date DATE, shift_start TIMESTAMP,"
        " shift_finish TIMESTAMP, shift_cost DECIMAL(13, 4))"
    )
    con.execute(
        "CREATE TABLE breaks (break_id VARCHAR, shift_id VARCHAR, break_start TIMESTAMP,"
        " break_finish TIMESTAMP, is_paid BOOLEAN)"
    )
    con.execute(
        "CREATE TABLE allowances (allowance_id VARCHAR, shift_id VARCHAR,"
        " allowance_cost DECIMAL(13, 4))"
    )
    for d in docs:
        cost = sum(a["cost"] for a in d["allowances"] + d["award_interpretations"])
        con.execute(
            "INSERT INTO shifts VALUES (?, ?, ?, ?, ?)",
            [d["id"], d["date"], ts(d["start"]), ts(d["finish"]), round(cost, 4)],
        )
        for b in d["breaks"]:
            con.execute(
                "INSERT INTO breaks VALUES (?, ?, ?, ?, ?)",
                [b["id"], d["id"], ts(b["start"]), ts(b["finish"]), b["paid"]],
            )
        for a in d["allowances"]:
            con.execute("INSERT INTO allowances VALUES (?, ?, ?)", [a["id"], d["id"], a["cost"]])
    rows = con.execute(
        f"SELECT kpi_name, CAST(kpi_value AS DECIMAL(8, 2)) FROM ({REFERENCE_KPI_SQL})",
        {"anchor": str(anchor)},
    ).fetchall()
    return dict(rows)


def _spark_kpis(spark, docs, anchor) -> dict[str, Decimal]:
    tables = flatten.flatten_all(docs_from_pages(spark, [{"results": docs}]))
    rows = kpi.compute_kpis(
        spark, tables["shifts"], tables["breaks"], tables["allowances"], anchor
    ).collect()
    assert {r["kpi_date"] for r in rows} == {dt.date.fromisoformat(anchor)}
    return {r["kpi_name"]: r["kpi_value"] for r in rows}


@pytest.mark.parametrize("seed", [1, 2, 3])
@pytest.mark.parametrize("anchor", ["2023-02-10", "2023-03-31"])
def test_kpis_match_reference_sql(spark, seed, anchor):
    docs = generate_shift_docs(days=60, seed=seed)
    assert _spark_kpis(spark, docs, anchor) == _reference_kpis(docs, anchor)


def test_kpis_without_breaks(spark):
    docs = copy.deepcopy(generate_shift_docs(days=20, seed=4))
    for d in docs:
        d["breaks"] = []
    got = _spark_kpis(spark, docs, "2023-01-20")
    assert got == _reference_kpis(docs, "2023-01-20")
    assert got["max_break_free_shift_period_in_days"] == 20
    assert got["total_number_of_paid_breaks"] == 0


def test_kpis_without_recent_allowance(spark):
    docs = generate_shift_docs(days=20, seed=5)
    got = _spark_kpis(spark, docs, "2024-06-01")
    assert got == _reference_kpis(docs, "2024-06-01")
    assert got["max_allowance_cost_14d"] == 0


def test_kpis_of_empty_tables_are_zero(spark):
    got = _spark_kpis(spark, [], ANCHOR_DATE)
    assert got == _reference_kpis([], ANCHOR_DATE)
    assert got == dict.fromkeys(GOLDEN_KPIS, Decimal("0.00"))


def test_compute_kpis_runs_no_job(spark, tables, count_jobs):
    """Building the KPI frame is lazy: no sampling or totals job."""
    assert count_jobs(
        lambda: kpi.compute_kpis(
            spark, tables["shifts"], tables["breaks"], tables["allowances"], ANCHOR_DATE
        )
    ) == 0


def test_run_etl_28_days_in_11_jobs(spark, tmp_path, count_jobs):
    """The returned counts come from the commit log, which each write
    fills in as it runs: no job re-reads the five tables (13 jobs did)."""
    pages = paginate(generate_shift_docs(days=28), 7)
    n = count_jobs(
        lambda: run_etl(spark, pages=pages, output_dir=tmp_path / "out", anchor_date="2023-01-28")
    )
    assert n <= 11
