"""The benchmark's workloads. Each is a closed loop: one client, one
operation in flight.

A workload is driven as ``prepare()`` (generate inputs from the seed, stage
them, compute the oracle), ``start()``, then ``warmup_runs`` discarded
runs (the first through ``warmup()``) and at least ``min_runs`` ``run()``
+ ``check()`` pairs, then ``stop()``. Only ``run()`` is timed; ``check()``
compares the outputs of the last run with the oracle.
"""

from __future__ import annotations

import datetime as dt
import json
import random
import urllib.error
import urllib.request
from pathlib import Path

import checks
import datagen

SF = 0.01

# bench.py's headline set (plans.catalog.BENCH_QUERIES when this was written)
# without x3 (MinHash-LSH): x3 costs 6-12 s per pass on 4 cores whatever the
# data size, more than a run can afford next to its cold warm-up pass. Fixed
# here so the per-layer metric names stay stable.
HEADLINE_QUERIES = [
    "a6_pricing_summary",
    "j1_inner_broadcast",
    "j6_range_join",
    "w2_gaps_islands",
    "w7_session_window",
    "q8_kpi_union",
    "x1_dedup_exact",
    "x7_sim_topk_bruteforce",
    "x9_text_stats",
]


class Failure(Exception):
    """``n`` operations returned a wrong output or a non-200 response."""

    def __init__(self, message: str, n: int = 1):
        super().__init__(message)
        self.n = n


def _dir_bytes(root: Path, tables) -> int:
    return sum(
        p.stat().st_size
        for t in tables
        for p in (root / t).glob("batch=*/*")
        if p.is_file()
    )


class EtlHttp:
    """POST /clear-data then POST /run-etl?batch_size=7 against an in-process
    control server that pulls the feed from an in-process shifts API."""

    name = "etl_http"
    DAYS = 28
    BATCH = 7
    ops_per_run = 2  # two HTTP requests
    # a second warm-up costs 10-18 s, and did not steady run_cpu_s
    warmup_runs = 1
    # the JIT compilers still use ~7 CPU s per run, and a run's CPU time
    # moves by up to 10% with their progress: time two
    min_runs = 2

    def __init__(self, spark, work: Path, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.anchor = dt.date(2023, 1, 1) + dt.timedelta(days=self.DAYS - 1)
        self.out = work / "etl_out"
        self.records = self.DAYS
        self._api = self._ctl = None

    def prepare(self) -> None:
        from shifts_etl_spark.sources.generator import generate_shift_docs

        self.docs = generate_shift_docs(days=self.DAYS, seed=self.seed)
        self.expected = checks.etl_expected(self.docs, self.anchor)

    def start(self) -> None:
        from shifts_etl_spark.control import EtlControlServer
        from shifts_etl_spark.sources.http_service import ShiftsApiServer

        self._api = ShiftsApiServer(self.docs)
        api_url = self._api.start()
        self._ctl = EtlControlServer(self.spark, api_url, str(self.out), anchor_date=self.anchor)
        self.base = self._ctl.start()
        # the served page bodies are the input bytes
        self.input_bytes, url = 0, f"{api_url}?limit={self.BATCH}"
        self.pages = 0
        while url:
            with urllib.request.urlopen(url) as r:
                body = r.read()
            self.input_bytes += len(body)
            self.pages += 1
            nxt = json.loads(body)["links"].get("next")
            url = api_url.rsplit("/api/shifts", 1)[0] + nxt if nxt else None

    def _post(self, path: str) -> dict:
        req = urllib.request.Request(self.base + path, method="POST")
        try:
            with urllib.request.urlopen(req) as r:
                return json.loads(r.read())
        except urllib.error.HTTPError as e:
            raise Failure(f"POST {path}: HTTP {e.code} {e.read()[:200]!r}") from e

    def run(self, tracer=None) -> None:
        self._post("/clear-data")
        self.reply = self._post(f"/run-etl?batch_size={self.BATCH}")

    def check(self) -> None:
        from shifts_etl_spark.sinks.staged import StagedWriter

        kpis = StagedWriter(self.out).read_table(self.spark, "kpis").collect()
        problem = checks.etl_problems(self.expected, self.reply.get("counts"), kpis, self.anchor)
        if problem:
            raise Failure(problem)
        from shifts_etl_spark.pipeline import OUTPUT_TABLES

        self.stored_bytes = _dir_bytes(self.out, OUTPUT_TABLES)

    warmup = run

    def stop(self) -> None:
        for server in (self._ctl, self._api):
            if server is not None:
                server.stop()

    def context(self) -> dict:
        return {"days": self.DAYS, "batch_size": self.BATCH, "pages": self.pages}


class Headline:
    """Nine of the ten headline catalog queries over generated sf0.01
    tables, cache cleared before each, materialized through the noop sink."""

    name = "headline_nox3_sf0.01"
    queries = HEADLINE_QUERIES
    # passes still speed up after the first: time passes 3 and 4
    warmup_runs = 2
    # one pass is too short to time alone: its CPU time varies twice as much
    # as the median of two
    min_runs = 2

    def __init__(self, spark, work: Path, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.data = work / "data"
        self.ops_per_run = len(self.queries)
        self.order = list(self.queries)
        random.Random(seed).shuffle(self.order)
        self.stored_bytes = 0
        self.input_bytes = 1

    def prepare(self) -> None:
        from shifts_etl_spark.plans.catalog import CATALOG

        rows = datagen.generate(self.data, SF, self.seed)
        self.records = sum(rows.values())
        con = checks.duck_tables(self.data, rows)
        self.expected = {q: checks.duck_rows(con, CATALOG[q].oracle) for q in self.order}
        con.close()

    def start(self) -> None:
        pass

    def _fresh(self, q: str):
        from shifts_etl_spark.operators.dedup import release_orphaned_caches
        from shifts_etl_spark.plans.catalog import CATALOG

        release_orphaned_caches()
        self.spark.catalog.clearCache()
        return CATALOG[q].spark(self.spark, str(self.data))

    def run_query(self, q: str, tracer=None) -> None:
        if tracer is None:
            self._fresh(q).write.format("noop").mode("overwrite").save()
            return
        with tracer.span(f"plans.{q}.build"):
            df = self._fresh(q)
        # force df's own planning so its QueryPlanningTracker holds the phases
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        it, planning_ms = phases.iterator(), 0
        while it.hasNext():
            planning_ms += int(it.next()._2().durationMs())
        with tracer.span(f"plans.{q}.run") as sp:
            sp.attrs["planning_ms"] = planning_ms
            df.write.format("noop").mode("overwrite").save()

    def run(self, tracer=None) -> None:
        for q in self.order:
            self.run_query(q, tracer)

    def warmup(self) -> None:
        """Collect every result and check it: the timed passes write to the
        noop sink and return nothing to compare."""
        bad = []
        for q in self.order:
            df = self._fresh(q)
            problem = checks.same_rows(self.expected[q], checks.canon(df.collect(), df.columns))
            if problem:
                bad.append(f"{q}: {problem}")
        if bad:
            raise Failure("; ".join(bad), n=len(bad))

    def check(self) -> None:
        pass

    def stop(self) -> None:
        pass

    def context(self) -> dict:
        return {"sf": SF, "query_order": self.order, "input_rows": self.records}


WORKLOADS = {w.name: w for w in (EtlHttp, Headline)}
