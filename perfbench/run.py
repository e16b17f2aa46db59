#!/usr/bin/env python3
"""Benchmark of the shifts_etl_spark engine.

    python3 perfbench/run.py --workload etl_http --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --write-manifest      # regenerate BENCHMARK.json

Runs one workload (see ``workloads.py``) on ``local[<cpus>]`` in this
process: starts the session, prepares the seeded inputs and their oracle,
runs discarded warm-ups, then times whole operations for ``--seconds``
seconds and at least the workload's ``min_runs`` of them, checking every
output.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced operations and prints the per-layer metrics, with the
spans written to ``.perfbench_out/``. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``; the line before it holds
the context the numbers need to be compared.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from workloads import HEADLINE_QUERIES, WORKLOADS, Failure  # noqa: E402

RUN_SECONDS = 5
DRIVER_MEM = "2g"  # SPARK_GRAFT_DRIVER_MEM; the library's 16g default OOMs a 15 GiB box

WORKLOAD_WHY = {
    "etl_http": "the /run-etl HTTP path: page ingest, flatten, integrity checks, "
    "staged parquet writes and KPIs; fixed per-page and per-job cost dominates",
    "headline_nox3_sf0.01": "read-only catalog queries heavy on shuffles, joins, windows "
    "and aggregates; no sink or HTTP; the bench.py headline set without x3",
}
assert set(WORKLOAD_WHY) == set(WORKLOADS)

# name, unit, better, bound
END_TO_END = [
    ("run_cpu_s", "s", "lower", 0.25),
    ("setup_s", "s", "lower", 0.25),
]

COUNTER_UNITS = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "busy_frac": "fraction",
}
PLAN_COUNTERS = ("jobs", "executor_run_s", "shuffle_write_bytes", "busy_frac")


def _per_layer() -> list[tuple[str, str, str]]:
    out = [
        ("session.get_spark.s", "s", "lower"),
        ("session.warmup.s", "s", "lower"),
        ("session.peak_rss_mb", "MB", "lower"),
        ("control.run_etl.self_s", "s", "lower"),
    ]
    counters = lambda p: [(f"{p}.{k}", u, "lower") for k, u in COUNTER_UNITS.items()]  # noqa: E731
    out += counters("control.run_etl")
    out += [
        ("control.clear_data.s", "s", "lower"),
        ("sources.page_fetch_ms.p50", "ms", "lower"),
        ("sources.page_fetch_ms.p99", "ms", "lower"),
        ("sources.docs_from_pages.s", "s", "lower"),
        ("sources.docs_from_pages.plan_leaves", "count", "lower"),
        ("operators.flatten_all.s", "s", "lower"),
        ("operators.validate_tables.s", "s", "lower"),
    ]
    out += counters("operators.validate_tables")
    out += [("operators.compute_kpis.s", "s", "lower")]
    out += counters("operators.compute_kpis")
    out += [
        ("sinks.write_batch.s", "s", "lower"),
        ("sinks.write_batch.files", "count", "lower"),
        ("sinks.write_batch.bytes", "bytes", "lower"),
    ]
    out += counters("sinks.write_batch")
    out += [
        ("sinks.read_table.s", "s", "lower"),
        ("sinks.stored_bytes_per_input_byte", "ratio", "lower"),
        ("pipeline.persisted_rdds_before_run", "count", "lower"),
        ("pipeline.persisted_rdds_after_run", "count", "lower"),
    ]
    for q in HEADLINE_QUERIES:
        out += [
            (f"plans.{q}.build_s", "s", "lower"),
            (f"plans.{q}.run_s", "s", "lower"),
            (f"plans.{q}.planning_ms", "ms", "lower"),
        ]
        out += [(f"plans.{q}.{k}", COUNTER_UNITS[k], "lower") for k in PLAN_COUNTERS]
    out += [
        ("run.wall_s", "s", "lower"),
        ("trace.run_s", "s", "lower"),
        ("trace.overhead_s", "s", "lower"),
    ]
    return out


PER_LAYER = _per_layer()


def manifest() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": why} for n, why in WORKLOAD_WHY.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound} for n, u, b, bound in END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b in PER_LAYER],
    }


# --------------------------------------------------------------------------
# helpers
# --------------------------------------------------------------------------


def git_sha() -> str:
    """HEAD of the checkout when it is a git repository, else "unknown"."""
    git = ROOT / ".git"
    try:
        head = (git / "HEAD").read_text().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        if (git / ref).is_file():
            return (git / ref).read_text().strip()
        for line in (git / "packed-refs").read_text().splitlines():
            if line.endswith(" " + ref):
                return line.split()[0]
    except OSError:
        pass
    return "unknown"


def peak_rss_mb(jvm_pid: int | None) -> tuple[float, float]:
    """High-water RSS of this process and of its JVM child, in MiB."""
    kb = 0
    if jvm_pid is not None:
        try:
            for line in Path(f"/proc/{jvm_pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    kb = int(line.split()[1])
        except OSError:
            pass
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0, kb / 1024.0


def _stat(path: Path) -> tuple[str, list[str]]:
    """(comm, fields from field 3 on) of a /proc stat file."""
    comm, rest = path.read_text().split(" (", 1)[1].rsplit(") ", 1)
    return comm, rest.split()


def _descendants_ticks() -> int:
    """CPU ticks of every descendant of this process (the JVM, and any
    Python workers under it): utime + stime of each, plus cutime + cstime,
    the ticks of the children each has already waited for."""
    kids: dict[int, list[int]] = defaultdict(list)
    ticks: dict[int, int] = {}
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            f = _stat(stat)[1]
        except (OSError, IndexError, ValueError):  # process ended meanwhile
            continue
        pid = int(stat.parent.name)
        kids[int(f[1])].append(pid)
        ticks[pid] = sum(int(x) for x in f[11:15])
    total, todo = 0, list(kids[os.getpid()])
    while todo:
        pid = todo.pop()
        total += ticks[pid]
        todo += kids[pid]
    return total


# a snapshot from before this process started
CPU_ZERO = (0.0, 0, {})


def cpu_snapshot(jvm_pid: int | None) -> tuple[float, int, dict[str, int]]:
    """CPU time of this process (seconds, all threads, ended ones too), of
    its descendants (ticks, process-wide, so JVM threads that already ended
    count), and of each JIT compiler thread of the JVM (ticks). The JVM
    runs with a fixed set of compiler threads
    (-XX:-UseDynamicNumberOfCompilerThreads), so none ends between two
    snapshots."""
    compilers = {}
    if jvm_pid is not None:
        for stat in Path(f"/proc/{jvm_pid}/task").glob("*/stat"):
            try:
                comm, f = _stat(stat)
            except (OSError, IndexError, ValueError):  # thread ended meanwhile
                continue
            if "CompilerThre" in comm:
                compilers[stat.parent.name] = int(f[11]) + int(f[12])
    return time.process_time(), _descendants_ticks(), compilers


def cpu_s_between(a, b) -> float:
    """CPU seconds of the driver and its descendants between two snapshots,
    less what the JIT compiler threads used: compiling is warm-up work that
    a steady state does not pay, and it is what varies most between runs."""
    jit = sum(t - a[2].get(tid, 0) for tid, t in b[2].items())
    return b[0] - a[0] + (b[1] - a[1] - jit) / os.sysconf("SC_CLK_TCK")


def persisted_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def percentile(values: list[float], p: float) -> float:
    xs = sorted(values)
    if not xs:
        return 0.0
    k = min(len(xs) - 1, max(0, round(p / 100.0 * (len(xs) - 1))))
    return xs[k]


def layer_metrics(spans, cores: int) -> dict[str, float]:
    """Per-layer metrics of one traced operation. Counters are charged to
    the innermost span; ``busy_frac`` divides a span's executor time by its
    self wall time (wall minus child layer spans) times the cores."""
    from tracing import COUNTERS

    by_name = defaultdict(list)
    kids = defaultdict(float)
    for sp in spans:
        by_name[sp.name].append(sp)
        if sp.parent is not None and sp.group is not None:
            kids[id(sp.parent)] += sp.wall_s

    def self_s(sps):
        return sum(sp.wall_s - kids[id(sp)] for sp in sps)

    def counters(prefix, sps, keys=COUNTER_UNITS):
        for k in COUNTERS:
            if k in keys:
                m[f"{prefix}.{k}"] = float(sum(sp.counters.get(k, 0) for sp in sps))
        busy = self_s(sps) * cores
        ex = sum(sp.counters.get("executor_run_s", 0) for sp in sps)
        m[f"{prefix}.busy_frac"] = ex / busy if busy > 0 else 0.0

    m: dict[str, float] = {}
    wall = lambda n: float(sum(sp.wall_s for sp in by_name[n]))  # noqa: E731
    run_etl = by_name["control.run_etl"]
    m["control.run_etl.self_s"] = self_s(run_etl)
    counters("control.run_etl", run_etl)
    m["control.clear_data.s"] = wall("control.clear_data")
    fetch_ms = [sp.wall_s * 1000.0 for sp in by_name["sources.page_fetch"]]
    m["sources.page_fetch_ms.p50"] = percentile(fetch_ms, 50)
    m["sources.page_fetch_ms.p99"] = percentile(fetch_ms, 99)
    m["sources.docs_from_pages.s"] = wall("sources.docs_from_pages")
    m["sources.docs_from_pages.plan_leaves"] = float(
        sum(sp.attrs.get("plan_leaves", 0) for sp in by_name["sources.docs_from_pages"])
    )
    m["operators.flatten_all.s"] = wall("operators.flatten_all")
    for name in ("operators.validate_tables", "operators.compute_kpis", "sinks.write_batch"):
        m[f"{name}.s"] = wall(name)
        counters(name, by_name[name])
    for attr in ("files", "bytes"):
        m[f"sinks.write_batch.{attr}"] = float(
            sum(sp.attrs.get(attr, 0) for sp in by_name["sinks.write_batch"])
        )
    m["sinks.read_table.s"] = wall("sinks.read_table")
    for q in HEADLINE_QUERIES:
        build, run = by_name[f"plans.{q}.build"], by_name[f"plans.{q}.run"]
        m[f"plans.{q}.build_s"] = wall(f"plans.{q}.build")
        m[f"plans.{q}.run_s"] = wall(f"plans.{q}.run")
        m[f"plans.{q}.planning_ms"] = float(sum(sp.attrs.get("planning_ms", 0) for sp in run))
        counters(f"plans.{q}", build + run, PLAN_COUNTERS)
    return m


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    import subprocess

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    except Exception:  # noqa: BLE001 — a dead JVM cannot stop cleanly
        pass
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# --------------------------------------------------------------------------
# main
# --------------------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-manifest", action="store_true")
    args = ap.parse_args()

    if args.write_manifest:
        (ROOT / "BENCHMARK.json").write_text(json.dumps(manifest(), indent=2) + "\n")
        return 0
    if args.workload is None:
        ap.error("--workload is required")
    if not (ROOT / "shifts_etl_spark" / "__init__.py").is_file():
        print(f"no shifts_etl_spark package under {ROOT}", file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # everything the run writes stays inside the checkout; JAVA_TOOL_OPTIONS
    # also reaches the launcher JVM spark-submit starts before the driver
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        TMPDIR=str(tmp),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        "-XX:-UseDynamicNumberOfCompilerThreads",
    )
    sys.path.insert(0, str(ROOT))
    try:
        return measure(args, cpus, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass


def measure(args, cpus: int, work: Path) -> int:
    from shifts_etl_spark.session import get_spark

    from tracing import Tracer

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    t_session = time.perf_counter() - t0
    jvm = getattr(spark.sparkContext._gateway, "proc", None)
    jvm_alive = lambda: jvm is None or jvm.poll() is None  # noqa: E731
    jvm_pid = jvm.pid if jvm is not None else None

    w = WORKLOADS[args.workload](spark, work, args.seed)
    attempted = failed = 0
    problems: list[str] = []
    try:
        t0 = time.perf_counter()
        w.prepare()
        t_prepare = time.perf_counter() - t0
        t0 = time.perf_counter()
        w.start()
        t_start = time.perf_counter() - t0
        t0 = time.perf_counter()
        for k in range(w.warmup_runs):
            attempted += w.ops_per_run
            try:
                (w.warmup if k == 0 else w.run)()
                w.check()
            except Failure as e:
                failed += e.n
                problems.append(f"warm-up: {e}")
            except Exception as e:  # noqa: BLE001 — exception, dead JVM: failed ops
                failed += w.ops_per_run
                problems.append(f"warm-up: {type(e).__name__}: {str(e)[:300]}")
                if not jvm_alive():
                    problems.append("JVM died")
                    break
        t_warmup = time.perf_counter() - t0
        setup_s = cpu_s_between(CPU_ZERO, cpu_snapshot(jvm_pid))

        untraced: list[float] = []
        untraced_cpu: list[float] = []
        traced: list[float] = []
        layers: list[dict] = []
        spans_out: list[dict] = []
        stored: list[float] = []
        tracer = Tracer(spark) if args.trace else None
        # traced runs go between untraced ones, so that the tracing overhead
        # compares runs from the same part of the JIT slope
        min_untraced = w.min_runs if tracer is None else max(w.min_runs, 2)
        t_loop = time.perf_counter()
        i = 0
        while jvm_alive():
            trace_this = tracer is not None and i % 2 == 1
            i += 1
            attempted += w.ops_per_run
            try:
                if trace_this:
                    persisted_before = persisted_rdds(spark)
                    tracer.install()
                try:
                    c0 = cpu_snapshot(jvm_pid)
                    t0 = time.perf_counter()
                    if trace_this:
                        with tracer.span(w.name) as root:
                            tracer.root = root
                            w.run(tracer)
                    else:
                        w.run()
                    dt = time.perf_counter() - t0
                    dc = cpu_s_between(c0, cpu_snapshot(jvm_pid))
                finally:
                    if trace_this:
                        tracer.uninstall()
                        tracer.root = None
                w.check()
                stored.append(w.stored_bytes / w.input_bytes)
                (traced if trace_this else untraced).append(dt)
                if not trace_this:
                    untraced_cpu.append(dc)
                if trace_this:
                    tracer.collect_counters()
                    m = layer_metrics(tracer.spans, cpus)
                    m["pipeline.persisted_rdds_before_run"] = float(persisted_before)
                    m["pipeline.persisted_rdds_after_run"] = float(persisted_rdds(spark))
                    layers.append(m)
                    spans_out += [sp.as_dict() for sp in tracer.spans]
                    tracer.spans = []
            except Failure as e:
                failed += e.n
                problems.append(str(e))
            except Exception as e:  # noqa: BLE001 — exception, dead JVM: failed ops
                failed += w.ops_per_run
                problems.append(f"{type(e).__name__}: {str(e)[:300]}")
                if not jvm_alive():
                    problems.append("JVM died")
                    break
            done = time.perf_counter() - t_loop >= args.seconds
            enough = len(untraced) >= min_untraced and (tracer is None or traced)
            if done and (failed or enough):
                break
        rss = peak_rss_mb(jvm.pid if jvm is not None else None)
    finally:
        w.stop()
        if jvm_alive():
            shutdown(spark)

    run_s = statistics.median(untraced) if untraced else 0.0
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "cpus": cpus,
        "master": f"local[{cpus}]",
        "driver_mem": DRIVER_MEM,
        "git_sha": git_sha(),
        "warmup_runs": w.warmup_runs,
        # wall time of each set-up step; setup_s is their CPU time
        "setup_parts_s": {
            "session": t_session,
            "prepare": t_prepare,
            "start": t_start,
            "warmup": t_warmup,
        },
        "timed_runs": len(untraced),
        "traced_runs": len(traced),
        "materialization": "noop sink" if args.workload.startswith("headline") else "parquet sink",
        "cache_policy": "clearCache + release_orphaned_caches before each query"
        if args.workload.startswith("headline")
        else "library default",
        "tracing": bool(args.trace),
        "run_s_samples": untraced,
        "run_cpu_s_samples": untraced_cpu,
        # too few samples for a high percentile: the slowest run, and the count
        "run_s_max": max(untraced, default=0.0),
        "run_s_count": len(untraced),
        "records_per_s": w.records / run_s if run_s else 0.0,
        # queries per second on headline, HTTP requests per second on etl_http
        "ops_per_s": w.ops_per_run / run_s if run_s else 0.0,
        "failed_frac": failed / attempted if attempted else 0.0,
        "stored_bytes_per_input_byte": statistics.median(stored) if stored else 0.0,
        "peak_rss_mb": {"python": rss[0], "jvm": rss[1]},
        "problems": problems[:20],
        **w.context(),
    }
    if args.trace:
        metrics = {n: statistics.median(m[n] for m in layers) for n, *_ in PER_LAYER if layers and n in layers[0]}
        metrics["session.get_spark.s"] = t_session
        metrics["session.warmup.s"] = t_warmup
        metrics["session.peak_rss_mb"] = sum(rss)
        metrics["sinks.stored_bytes_per_input_byte"] = statistics.median(stored) if stored else 0.0
        metrics.setdefault("pipeline.persisted_rdds_before_run", 0.0)
        metrics.setdefault("pipeline.persisted_rdds_after_run", 0.0)
        metrics["run.wall_s"] = run_s
        metrics["trace.run_s"] = statistics.median(traced) if traced else 0.0
        metrics["trace.overhead_s"] = metrics["trace.run_s"] - run_s
        units = {n: u for n, u, _ in PER_LAYER}
        out_dir = ROOT / ".perfbench_out"
        out_dir.mkdir(exist_ok=True)
        (out_dir / f"spans-{args.workload}-seed{args.seed}.json").write_text(
            json.dumps({"context": context, "layers": layers, "spans": spans_out}, indent=1)
        )
    else:
        metrics = {
            "run_cpu_s": statistics.median(untraced_cpu) if untraced_cpu else 0.0,
            "setup_s": setup_s,
        }
        units = {n: u for n, u, *_ in END_TO_END}
    for n in units:
        metrics.setdefault(n, 0.0)
    print(file=sys.stderr)  # end Spark's progress-bar line
    for n, v in metrics.items():
        print(f"{n:52s} {v:16.6f} {units[n]}", file=sys.stderr)
    print(json.dumps({"context": context}))
    result = {
        "correct": failed == 0 and bool(untraced),
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": units[n]} for n in units},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
