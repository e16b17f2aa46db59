"""Span tracing from outside the library.

``Tracer.install()`` swaps module attributes (and ``StagedWriter`` methods)
for wrappers that open a span around each call; ``uninstall()`` puts the
originals back. Timed runs never install it.

Each span gets a run-unique Spark job group, so every job a span's thread
starts while the span is innermost is charged to that span; on exit the
parent's group is restored, so jobs the parent runs afterwards are charged
to the parent again. Spark counters are read once, after the traced run,
from the status store (``spark.ui.enabled=false`` keeps it populated).
"""

from __future__ import annotations

import itertools
import os
import threading
import time
from contextlib import contextmanager
from pathlib import Path

_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "shuffle_write_bytes",
    "spill_bytes",
)


class Span:
    __slots__ = ("name", "start", "end", "parent", "run_id", "group", "attrs", "counters")

    def __init__(self, name, parent, run_id, group):
        self.name, self.parent, self.run_id, self.group = name, parent, run_id, group
        self.start = time.perf_counter()
        self.end = None
        self.attrs: dict = {}
        self.counters: dict = {}

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {
            "name": self.name,
            "start": self.start,
            "end": self.end,
            "parent": self.parent.name if self.parent else None,
            "run_id": self.run_id,
            "job_group": self.group,
            **self.attrs,
            **self.counters,
        }


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.run_id = f"r{os.getpid()}"
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self.root: Span | None = None

    # -- spans ------------------------------------------------------------

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        """Open a span. On a thread with no open span (the control server's
        request threads) the parent is ``self.root``, the operation's span."""
        stack = self._stack()
        parent = stack[-1] if stack else self.root
        group = f"{self.run_id}-{next(self._ids)}-{name}"
        saved = {k: self.sc.getLocalProperty(k) for k in _GROUP_KEYS}
        self.sc.setJobGroup(group, name, False)
        sp = Span(name, parent, self.run_id, group)
        with self._lock:
            self.spans.append(sp)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            for k, v in saved.items():
                self.sc.setLocalProperty(k, v)

    def current(self) -> Span | None:
        stack = self._stack()
        return stack[-1] if stack else None

    # -- wrapping -----------------------------------------------------------

    def _patch(self, owner, attr: str, make):
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def _wrap(self, name: str, after=None):
        def make(orig):
            def wrapper(*args, **kwargs):
                with self.span(name) as sp:
                    out = orig(*args, **kwargs)
                    if after is not None:
                        after(sp, args, out)
                    return out

            return wrapper

        return make

    def install(self) -> None:
        """Wrap the public layer entry points the workloads go through."""
        from shifts_etl_spark import pipeline
        from shifts_etl_spark.operators import flatten, kpi, quality
        from shifts_etl_spark.sinks import staged
        from shifts_etl_spark.sources import pages

        def count_leaves(sp, args, df):
            sp.attrs["plan_leaves"] = int(
                df._jdf.queryExecution().analyzed().collectLeaves().size()
            )

        def count_files(sp, args, out):
            writer, tables = args[0], args[1]
            files = nbytes = 0
            for name in tables:
                for p in (Path(writer.root) / name / f"batch={out}").rglob("*.parquet"):
                    files += 1
                    nbytes += p.stat().st_size
            sp.attrs["files"], sp.attrs["bytes"] = files, nbytes

        # the control server reaches the pipeline through these attributes
        self._patch(pipeline, "run_etl", self._wrap("control.run_etl"))
        self._patch(pipeline, "clear_data", self._wrap("control.clear_data"))
        self._patch(pages, "iter_http_pages", self._wrap_pages)
        self._patch(pages, "docs_from_pages", self._wrap("sources.docs_from_pages", count_leaves))
        self._patch(flatten, "flatten_all", self._wrap("operators.flatten_all"))
        self._patch(quality, "validate_tables", self._wrap("operators.validate_tables"))
        self._patch(kpi, "compute_kpis", self._wrap("operators.compute_kpis"))
        self._patch(staged.StagedWriter, "write_batch", self._wrap("sinks.write_batch", count_files))
        self._patch(staged.StagedWriter, "read_table", self._wrap("sinks.read_table"))

    def _wrap_pages(self, orig):
        """Time each page the generator yields (its fetch + JSON decode)."""
        tracer = self

        def wrapper(*args, **kwargs):
            it = orig(*args, **kwargs)
            parent = tracer.current()
            while True:
                t0 = time.perf_counter()
                try:
                    page = next(it)
                except StopIteration:
                    return
                sp = Span("sources.page_fetch", parent, tracer.run_id, None)
                sp.start, sp.end = t0, time.perf_counter()
                with tracer._lock:
                    tracer.spans.append(sp)
                yield page

        return wrapper

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # -- counters -----------------------------------------------------------

    def collect_counters(self) -> None:
        """Charge every Spark job of each span's group to that span."""
        status = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        seen: dict[int, tuple] = {}
        for sp in self.spans:
            if sp.group is None or sp.counters:
                continue
            c = dict.fromkeys(COUNTERS, 0)
            for jid in status.getJobIdsForGroup(sp.group):
                info = status.getJobInfo(jid)
                if info is None:
                    continue
                c["jobs"] += 1
                for sid in info.stageIds:
                    if sid not in seen:
                        seen[sid] = _stage_metrics(store, sid)
                    ran, tasks, run_ms, shuffle, spill = seen[sid]
                    c["stages"] += ran
                    c["tasks"] += tasks
                    c["executor_run_s"] += run_ms / 1000.0
                    c["shuffle_write_bytes"] += shuffle
                    c["spill_bytes"] += spill
            sp.counters = c


def _stage_metrics(store, sid: int) -> tuple:
    """(ran, tasks, executor_run_ms, shuffle_write_bytes, spill_bytes) of a
    stage's last attempt; a stage skipped because its shuffle output was
    reused counts as not run."""
    try:
        s = store.lastStageAttempt(sid)
    except Exception:  # evicted from the store or never submitted
        return (0, 0, 0, 0, 0)
    if s.status().toString() == "SKIPPED":
        return (0, 0, 0, 0, 0)
    return (
        1,
        int(s.numCompleteTasks()),
        int(s.executorRunTime()),
        int(s.shuffleWriteBytes()),
        int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled()),
    )
