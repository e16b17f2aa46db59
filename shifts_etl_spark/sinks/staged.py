"""Atomic multi-table sink (K1/K2/K4 — SURVEY.md §2.2).

The reference loads 4 tables inside one Postgres transaction per page and
rolls all of them back on any failure (reference
etl/app/shift_data_processor.py:154-183). Vanilla Spark file sinks have no
cross-table transaction, so atomicity is re-created with staging, promote
and a commit log:

  1. every table of a batch is written under  <root>/_staging/<batch>/<table>,
     with the schema it was written with in that dir's ``_schema.json``
  2. only after ALL writes succeed is each table promoted (atomic directory
     rename) into <root>/<table>/batch=<batch>
  3. the batch commits when its line is appended to <root>/_commits.log;
     any failure before that deletes the staged and promoted dirs

A log line is ``<batch>\t<table>:<rows>,...[\treplace]``, tables sorted by
name, e.g. ``3f2a\tbreaks:20,shifts:28``. Each table's row count is
observed during its own write (``DataFrame.observe``), so the count costs
no job, and ``row_count`` sums it over the batches a read resolves.

The log alone decides what a table holds: ``read_table`` resolves the
batches of the current state and of an ``as_of`` snapshot the same way, so
readers see only logged batches — never a dir left by a crash mid-promote.
A read takes the schema stored with the newest batch it resolves (Spark's
file listing skips ``_``-prefixed names), so no reader pays the job that
infers a schema from parquet footers. Every batch a log in this line format
names was written with its schema; a log in the older format without row
counts does not parse (``clear_data`` starts a fresh one), so there is no
reader for batches stored without one.
A replace is a commit too: ``write_batch(replace=True)`` logs a line that
marks its tables replaced, a read returns the batches since the table's
last replace, and the batches it supersedes are deleted only after that
line is written (compaction and the streaming KPI refresh both go
through it). Deleting them truncates history, like VACUUM.

On a real cluster the same protocol holds on HDFS (rename is atomic per
directory); on S3 you would swap this class for a Delta/Iceberg commit —
the interface is deliberately that of a transactional table format.

K4 (clear) maps to deleting all table dirs — the FK-cascade analog is that we
always clear parent and children together.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import StructType


class StagedWriter:
    def __init__(self, root: str | Path):
        self.root = Path(root)
        self._log_path = self.root / "_commits.log"
        # (_log_key() when parsed, the parse); None: no log
        self._parsed: tuple = (None, ())

    def write_batch(
        self,
        tables: dict[str, DataFrame],
        batch_id: str | None = None,
        replace: bool = False,
    ) -> str:
        """All-or-nothing write of several tables (one reference 'page'),
        committed by appending it to ``_commits.log`` (single-writer by
        design, like the staging-rename commit). With ``replace`` the batch
        supersedes everything its tables held; their older batch dirs are
        deleted once the commit is logged.

        Idempotent per ``batch_id``: a replay of an already-committed batch
        (a streaming epoch re-fed after a crash between commit and the
        stream's checkpoint commit) returns without writing, and an orphan
        ``batch=<id>`` dir from a crash before the log append is replaced
        rather than wedging the rename."""
        batch_id = batch_id or uuid.uuid4().hex[:12]
        if any(bid == batch_id for bid, _ in self.commits()):
            return batch_id  # replayed epoch — the commit log is the truth
        staging = self.root / "_staging" / batch_id
        promoted = []
        try:
            rows = {}
            for name, df in tables.items():
                obs = Observation()
                df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
                    "overwrite"
                ).parquet(str(staging / name))
                rows[name] = obs.get["rows"]  # set by the write's own job
                (staging / name / "_schema.json").write_text(df.schema.json())
            for name in tables:
                dest = self._batch_dir(name, batch_id)
                dest.parent.mkdir(parents=True, exist_ok=True)
                if dest.exists():  # orphan of an uncommitted partial promote
                    shutil.rmtree(dest)
                (staging / name).rename(dest)
                promoted.append(dest)
            counts = ",".join(f"{name}:{n}" for name, n in sorted(rows.items()))
            mark = "\treplace" if replace else ""
            self._append(f"{batch_id}\t{counts}{mark}\n")
        except BaseException:
            for d in promoted:
                shutil.rmtree(d, ignore_errors=True)
            raise
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        if replace:
            for name in tables:
                keep = self._batch_dir(name, batch_id)
                for d in (self.root / name).glob("batch=*"):
                    if d != keep:
                        shutil.rmtree(d, ignore_errors=True)
        return batch_id

    def _log(self) -> tuple[tuple[str, dict[str, int], bool], ...]:
        """(batch_id, rows per table written, replaced?) per commit,
        oldest first. Parsed once per change of the file, which is known
        by its inode, size and mtime: the log is only appended to, and
        ``clear_data`` deletes it."""
        key = self._log_key()
        if key != self._parsed[0]:
            self._parsed = (key, _parse_log(self._log_path.read_text()) if key else ())
        return self._parsed[1]

    def _log_key(self) -> tuple[int, int, int] | None:
        try:
            st = os.stat(self._log_path)
        except FileNotFoundError:
            return None
        return st.st_ino, st.st_size, st.st_mtime_ns

    def _append(self, line: str) -> None:
        """Commit ``line``. A writer whose parse was current before the
        append adds the line to it rather than parsing the log again."""
        current = self._log_key() == self._parsed[0]
        with open(self._log_path, "a") as log:
            log.write(line)
        if current:
            self._parsed = (self._log_key(), self._parsed[1] + _parse_log(line))

    def commits(self) -> list[tuple[str, set[str]]]:
        """(batch_id, tables written) per commit, oldest first."""
        return [(bid, set(rows)) for bid, rows, _ in self._log()]

    def _batch_dir(self, name: str, batch_id: str) -> Path:
        return self.root / name / f"batch={batch_id}"

    def _snapshot(self, name: str, as_of: str | None = None) -> dict[str, int]:
        """Batch id -> rows of ``name``, for the batches it holds as of
        commit ``as_of`` (default: the latest): those committed since its
        last replace, oldest first."""
        live: dict[str, int] = {}
        for bid, rows, replace in self._log():
            if name in rows:
                if replace:
                    live = {}
                live[bid] = rows[name]
            if bid == as_of:
                return live
        if as_of is not None:
            raise ValueError(f"unknown commit {as_of!r}")
        return live

    def row_count(self, name: str, as_of: str | None = None) -> int:
        """Rows ``read_table(spark, name, as_of)`` returns, from the log
        alone: no Spark job."""
        return sum(self._snapshot(name, as_of).values())

    def read_table(
        self, spark: SparkSession, name: str, as_of: str | None = None
    ) -> DataFrame:
        """Current state, or — with ``as_of`` = a batch id — the snapshot
        as of that commit, read with the schema stored with its newest
        batch. Raises if the snapshot needs a batch that a later replace
        has deleted (a replace truncates history, like VACUUM)."""
        dirs = [self._batch_dir(name, b) for b in self._snapshot(name, as_of)]
        vacuumed = [d.name for d in dirs if not d.exists()]
        if vacuumed:
            raise ValueError(
                f"snapshot {as_of!r} of {name!r} was vacuumed: {vacuumed}"
            )
        if not dirs:
            from ..schemas import TABLE_SCHEMAS

            return spark.createDataFrame([], TABLE_SCHEMAS[name])
        schema = json.loads((dirs[-1] / "_schema.json").read_text())
        return spark.read.schema(StructType.fromJson(schema)).parquet(*map(str, dirs))

    def table_exists(self, name: str) -> bool:
        return bool(self._snapshot(name))

    def compact(self, spark: SparkSession, name: str, target_partitions: int = 1) -> int:
        """Small-file management: rewrite a table's batches into one
        compacted batch, committed as a replace (staged, promoted and
        logged before the source batches are deleted). Returns batches
        removed. At scale this is the nightly OPTIMIZE pass — per-epoch
        micro-batches otherwise accumulate one file set per commit forever."""
        live = self._snapshot(name)
        if len(live) <= 1:
            return 0
        df = self.read_table(spark, name).coalesce(target_partitions)
        self.write_batch({name: df}, replace=True)
        return len(live)


def _parse_log(text: str) -> tuple[tuple[str, dict[str, int], bool], ...]:
    """The commits of a ``_commits.log`` text, oldest first."""
    out = []
    for ln in text.splitlines():
        if ln:
            bid, tabs, *mark = ln.split("\t")
            pairs = (t.rsplit(":", 1) for t in tabs.split(",") if t)
            rows = {t: int(n) for t, n in pairs}
            out.append((bid, rows, mark == ["replace"]))
    return tuple(out)


def clear_outputs(root: str | Path, tables: list[str]) -> None:
    """K4 — cascade-delete analog: wipe the named outputs together (table
    dirs, and files such as ``_commits.log``)."""
    for t in (Path(root) / name for name in tables):
        if t.is_file():
            t.unlink(missing_ok=True)
        else:
            shutil.rmtree(t, ignore_errors=True)


def snapshot_diff(
    spark: SparkSession,
    writer: "StagedWriter",
    name: str,
    from_batch: str,
    to_batch: str,
):
    """Row-level diff between two committed snapshots of a staged table
    (the Delta-style `table_changes` readout over the time-travel
    surface): rows in `to` but not `from` are inserts, the reverse are
    deletes; an updated row appears as delete+insert of its versions.
    Multiset semantics via exceptAll, so duplicate rows diff by count.

    Scale notes: both sides are parquet scans of exactly the batch dirs
    in each snapshot; exceptAll is a hash aggregation on the full row —
    the same shuffle shape as a distinct, no driver-side collection."""
    before = writer.read_table(spark, name, as_of=from_batch)
    after = writer.read_table(spark, name, as_of=to_batch)
    from pyspark.sql import functions as F

    inserts = after.exceptAll(before).withColumn("_op", F.lit("insert"))
    deletes = before.exceptAll(after).withColumn("_op", F.lit("delete"))
    return inserts.unionByName(deletes)
