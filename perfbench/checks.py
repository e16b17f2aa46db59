"""Output checks against independent DuckDB computations."""

from __future__ import annotations

import datetime as dt
import decimal
import math

import duckdb

# --------------------------------------------------------------------------
# row-set comparison (order-insensitive, float tolerant)
# --------------------------------------------------------------------------


def _cell(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _cell(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):  # pyspark Row inside a struct column
        return _cell(v.asDict())
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    return v


def _sort_key(row):
    return tuple(
        (0, round(x, 4)) if isinstance(x, float) and not math.isnan(x) else (1, repr(x))
        for x in row
    )


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if not isinstance(a, (int, float)) or not isinstance(b, (int, float)):
            return False
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-6)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def canon(rows, cols) -> tuple[tuple[str, ...], list[tuple]]:
    """Rows over name-sorted columns, sorted, with Spark/DuckDB type skew
    (Decimal, timestamps, structs) normalized."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    return tuple(cols[i] for i in order), sorted(out, key=_sort_key)


def same_rows(expected, got) -> str | None:
    """None when the two canon() results agree, else a one-line reason."""
    (ecols, erows), (gcols, grows) = expected, got
    if ecols != gcols:
        return f"columns {gcols} != {ecols}"
    if len(erows) != len(grows):
        return f"{len(grows)} rows != {len(erows)}"
    for e, g in zip(erows, grows):
        if not _close(e, g):
            return f"row {g} != {e}"
    return None


def duck_rows(con, sql: str):
    rel = con.sql(sql)
    return canon(rel.fetchall(), rel.columns)


def duck_tables(data_dir, names) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in names:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


# --------------------------------------------------------------------------
# etl_http: table counts and the six KPIs, straight from the generated docs
# --------------------------------------------------------------------------


def etl_expected(docs: list[dict], anchor: dt.date) -> dict:
    """Row counts per table and the six KPI values (decimal(8,2) as float),
    computed by DuckDB over the generated docs flattened in Python."""
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE shifts (id VARCHAR, d DATE, s BIGINT, f BIGINT, cost DOUBLE)"
    )
    con.execute("CREATE TABLE breaks (id VARCHAR, sid VARCHAR, s BIGINT, f BIGINT, paid BOOLEAN)")
    con.execute("CREATE TABLE allowances (id VARCHAR, sid VARCHAR, cost DOUBLE)")
    shifts, breaks, allowances, n_awards = [], [], [], 0
    for doc in docs:
        cost = sum(a["cost"] for a in doc["allowances"]) + sum(
            w["cost"] for w in doc["award_interpretations"]
        )
        shifts.append((doc["id"], doc["date"], doc["start"], doc["finish"], round(cost, 4)))
        breaks += [(b["id"], doc["id"], b["start"], b["finish"], b["paid"]) for b in doc["breaks"]]
        allowances += [(a["id"], doc["id"], a["cost"]) for a in doc["allowances"]]
        n_awards += len(doc["award_interpretations"])
    for name, rows in (("shifts", shifts), ("breaks", breaks), ("allowances", allowances)):
        if rows:
            marks = ",".join("?" * len(rows[0]))
            con.executemany(f"INSERT INTO {name} VALUES ({marks})", rows)
    kpis = con.execute(
        f"""
        WITH flagged AS (
          SELECT s.d, CASE WHEN b.id IS NULL THEN 0 ELSE 1 END AS has_break
          FROM shifts s LEFT JOIN breaks b ON b.sid = s.id
        ), grouped AS (
          SELECT d, has_break,
                 SUM(has_break) OVER (ORDER BY d RANGE UNBOUNDED PRECEDING) AS grp
          FROM flagged
        ), islands AS (
          SELECT grp, COUNT(*) - CASE WHEN grp = 0 THEN 0 ELSE 1 END AS cnt
          FROM grouped GROUP BY grp
        )
        SELECT
          (SELECT COALESCE(AVG((f // 1000) - (s // 1000)) / 60.0, 0) FROM breaks),
          (SELECT COALESCE(AVG(cost), 0) FROM shifts),
          (SELECT COALESCE(MAX(a.cost), 0) FROM allowances a JOIN shifts s ON a.sid = s.id
             WHERE s.d >= DATE '{anchor.isoformat()}' - INTERVAL 14 DAY),
          (SELECT COALESCE(MAX(cnt), 0) FROM islands),
          (SELECT COALESCE(MIN(((f // 1000) - (s // 1000)) / 3600.0), 0) FROM shifts),
          (SELECT COUNT(*) FROM breaks WHERE paid)
        """
    ).fetchone()
    names = [
        "mean_break_length_in_minutes",
        "mean_shift_cost",
        "max_allowance_cost_14d",
        "max_break_free_shift_period_in_days",
        "min_shift_length_in_hours",
        "total_number_of_paid_breaks",
    ]
    return {
        "counts": {
            "shifts": len(shifts),
            "breaks": len(breaks),
            "allowances": len(allowances),
            "award_interpretations": n_awards,
            "kpis": 6,
        },
        "kpis": {n: round(float(v), 2) for n, v in zip(names, kpis)},
    }


def etl_problems(expected: dict, counts: dict, kpi_rows, anchor: dt.date) -> str | None:
    if counts != expected["counts"]:
        return f"counts {counts} != {expected['counts']}"
    got = {r["kpi_name"]: (float(r["kpi_value"]), r["kpi_date"]) for r in kpi_rows}
    if set(got) != set(expected["kpis"]):
        return f"kpi names {sorted(got)}"
    for name, want in expected["kpis"].items():
        value, day = got[name]
        # decimal(8,2) rounding of a half-cent tie may differ by one cent
        if abs(value - want) > 0.01 + 1e-9 or day != anchor:
            return f"kpi {name}={value}@{day} != {want}@{anchor}"
    return None
