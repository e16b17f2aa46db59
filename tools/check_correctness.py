"""Local replica of the driver's t2 correctness gate: run every
queries()[name] on Spark and oracle_sql()[name] on DuckDB at a given sf,
compare row count, column names, and order-insensitive values (sorted rows
over name-sorted columns). Floats compared exactly AND with tolerance so a
would-be hash mismatch is visible before the driver sees it.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb

import __spark_entry__ as entry_mod
from shifts_etl_spark.schemas import TESTDATA_TABLES
from shifts_etl_spark.session import get_spark


def norm_cell(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


# DuckDB types with no Spark/Arrow-hash equivalent: duckdb fetchall()
# converts them to plain Python ints so local value-compare passes, but
# the driver hashes the Arrow-typed result and mismatches. Fail loudly
# here instead — the fix is always CAST(... AS BIGINT) in the oracle.
EXOTIC_DUCK_TYPES = ("HUGEINT", "UHUGEINT", "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT")


def exotic_type_problems(name, con, sql):
    rel = con.sql(sql)
    out = []
    for col, typ in zip(rel.columns, [str(t) for t in rel.types]):
        if typ in EXOTIC_DUCK_TYPES:
            out.append(
                f"oracle type-drift: column {col!r} is {typ} in DuckDB "
                f"(driver hash will mismatch) — CAST(... AS BIGINT) it"
            )
    return out


def compare(name, spark_df, duck_rows, duck_cols):
    s_cols = spark_df.columns
    s_rows = [tuple(r) for r in spark_df.collect()]
    problems = []
    if sorted(s_cols) != sorted(duck_cols):
        problems.append(f"schema: spark={sorted(s_cols)} duck={sorted(duck_cols)}")
    if len(s_rows) != len(duck_rows):
        problems.append(f"rowcount: spark={len(s_rows)} duck={len(duck_rows)}")
    if problems:
        return problems
    a = canon(s_rows, s_cols)
    b = canon(duck_rows, duck_cols)
    n_exact = 0
    first_diff = None
    for ra, rb in zip(a, b):
        if repr(ra) == repr(rb):
            n_exact += 1
        elif first_diff is None:
            ok = len(ra) == len(rb)
            if ok:
                for x, y in zip(ra, rb):
                    if isinstance(x, float) and isinstance(y, float):
                        if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                            ok = False
                            break
                    elif str(x) != str(y):
                        ok = False
                        break
            first_diff = (ra, rb, "tolerance-only" if ok else "VALUE")
    if n_exact != len(a):
        ra, rb, kind = first_diff
        problems.append(
            f"values: {n_exact}/{len(a)} rows exact; first diff ({kind}):\n"
            f"    spark {ra}\n    duck  {rb}"
        )
    return problems


def main():
    args = sys.argv[1:]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    only = set(a for a in args if "/" not in a)

    spark = get_spark(app_name="check", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            if name in oracles:
                problems = exotic_type_problems(name, con, oracles[name])
                cur = con.execute(oracles[name])
                duck_cols = [d[0] for d in cur.description]
                duck_rows = cur.fetchall()
                problems += compare(name, df, duck_rows, duck_cols)
            else:
                n = df.count()
                problems = [] if n >= 0 else ["negative count?"]
                print(f"  [rows-only] {name}: {n} rows", flush=True)
        except Exception as e:  # noqa: BLE001
            problems = [f"EXCEPTION: {type(e).__name__}: {str(e)[:300]}"]
        dt = time.time() - t0
        if problems:
            n_fail += 1
            print(f"FAIL {name} ({dt:.1f}s)")
            for p in problems:
                print(f"  - {p}")
        else:
            n_pass += 1
            print(f"ok   {name} ({dt:.1f}s)")
    print(f"\n{n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
