"""Self-determinism audit: run every catalog query TWICE in one session
with deliberately different parallelism (shuffle partitions 16 vs 32,
scan splits 128 MB vs 1 MB) and compare canonical outputs. Different
parallelism reshuffles Spark's partial-aggregate merge order, so any
query whose result depends on float summation order — e.g. a
round(avg(...), 6) sitting on a rounding boundary (the x124 bug class) —
flips here long before it flakes in the driver gate.

Usage: python tools/determinism_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entry_mod
from shifts_etl_spark.session import get_spark
from tools.check_correctness import canon


CONFIGS = [
    {"spark.sql.shuffle.partitions": "16",
     "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024)},
    {"spark.sql.shuffle.partitions": "32",
     "spark.sql.files.maxPartitionBytes": str(1024 * 1024)},
]


def main():
    args = sys.argv[1:]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    only = set(a for a in args if "/" not in a)

    spark = get_spark(app_name="determinism", shuffle_partitions=16)
    qs = entry_mod.queries()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            results = []
            for conf in CONFIGS:
                for k, v in conf.items():
                    spark.conf.set(k, v)
                df = fn(spark, sf_dir)
                results.append(canon(df.collect(), df.columns))
            a, b = results
            if a == b:
                n_pass += 1
                print(f"ok   {name} ({time.time() - t0:.1f}s)", flush=True)
            else:
                n_fail += 1
                diff = [(x, y) for x, y in zip(a, b) if x != y]
                print(
                    f"FLIP {name}: {len(diff)} differing rows; first:\n"
                    f"    cfgA {diff[0][0] if diff else '(row count!)'}\n"
                    f"    cfgB {diff[0][1] if diff else f'{len(a)} vs {len(b)} rows'}",
                    flush=True,
                )
        except Exception as e:  # noqa: BLE001
            n_fail += 1
            print(f"FLIP {name}: EXCEPTION {type(e).__name__}: {str(e)[:200]}",
                  flush=True)
    print(f"\n{n_pass} deterministic, {n_fail} flipped")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
