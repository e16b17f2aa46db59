"""Atomic multi-table sink (K1/K2/K4 — SURVEY.md §2.2).

The reference loads 4 tables inside one Postgres transaction per page and
rolls all of them back on any failure (reference
etl/app/shift_data_processor.py:154-183). Vanilla Spark file sinks have no
cross-table transaction, so atomicity is re-created with staging + promote:

  1. every table of a batch is written under  <root>/_staging/<epoch>/<table>
  2. only after ALL writes succeed is each table promoted (atomic directory
     rename) into <root>/<table>/batch=<epoch>
  3. any failure ⇒ the staging dir is deleted; readers never see partial data

Readers always go through ``read_table`` which scans <root>/<table>/batch=*.
On a real cluster the same protocol holds on HDFS (rename is atomic per
directory); on S3 you would swap this class for a Delta/Iceberg commit —
the interface is deliberately that of a transactional table format.

K4 (clear) maps to deleting all table dirs — the FK-cascade analog is that we
always clear parent and children together.
"""

from __future__ import annotations

import shutil
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class StagedWriter:
    def __init__(self, root: str | Path):
        self.root = Path(root)

    def write_batch(self, tables: dict[str, DataFrame], batch_id: str | None = None) -> str:
        """All-or-nothing write of several tables (one reference 'page').
        Each promoted batch is appended to ``_commits.log`` — the ordered
        commit history ``read_table(as_of=...)`` replays (Delta-lite time
        travel; single-writer by design, like the staging-rename commit).

        Idempotent per ``batch_id``: a replay of an already-committed batch
        (a streaming epoch re-fed after a crash between promotion and the
        stream's checkpoint commit) returns without writing, and orphan
        ``batch=<id>`` dirs from a crash BEFORE the log append (partial
        promotion) are replaced rather than wedging the rename."""
        batch_id = batch_id or uuid.uuid4().hex[:12]
        if any(bid == batch_id for bid, _ in self.commits()):
            return batch_id  # replayed epoch — the commit log is the truth
        staging = self.root / "_staging" / batch_id
        try:
            for name, df in tables.items():
                df.write.mode("overwrite").parquet(str(staging / name))
            for name in tables:
                dest = self.root / name / f"batch={batch_id}"
                dest.parent.mkdir(parents=True, exist_ok=True)
                if dest.exists():  # orphan of an uncommitted partial promote
                    shutil.rmtree(dest)
                (staging / name).rename(dest)
            with open(self.root / "_commits.log", "a") as log:
                log.write(f"{batch_id}\t{','.join(sorted(tables))}\n")
        except BaseException:
            shutil.rmtree(staging, ignore_errors=True)
            raise
        finally:
            shutil.rmtree(self.root / "_staging" / batch_id, ignore_errors=True)
        return batch_id

    def commits(self) -> list[tuple[str, set[str]]]:
        """(batch_id, tables written) per commit, oldest first."""
        log = self.root / "_commits.log"
        if not log.exists():
            return []
        out = []
        for ln in log.read_text().splitlines():
            if ln:
                bid, tabs = ln.split("\t", 1)
                out.append((bid, set(tabs.split(","))))
        return out

    def read_table(
        self,
        spark: SparkSession,
        name: str,
        as_of: str | None = None,
        schema: StructType | None = None,
    ) -> DataFrame:
        """Current state, or — with ``as_of`` = a batch id — the snapshot
        as of that commit (every batch committed up to and including it).
        Raises if the snapshot needs a batch that compaction has since
        rewritten (compaction truncates history, like VACUUM).

        ``schema``, when the caller knows what it wrote, skips the
        one-task job Spark otherwise runs to infer it from parquet footers."""
        if as_of is not None:
            all_commits = self.commits()
            ids = [bid for bid, _ in all_commits]
            if as_of not in ids:
                raise ValueError(f"unknown commit {as_of!r}")
            wanted = [
                bid
                for bid, tabs in all_commits[: ids.index(as_of) + 1]
                if name in tabs
            ]
            dirs = [self.root / name / f"batch={b}" for b in wanted]
            vacuumed = [d.name for d in dirs if not d.exists()]
            if vacuumed:
                raise ValueError(
                    f"snapshot {as_of!r} of {name!r} was vacuumed: {vacuumed}"
                )
            batches = sorted(str(d) for d in dirs)
        else:
            # enumerate concrete batch dirs (globs make Spark's scan log
            # spurious FileNotFoundExceptions)
            batches = sorted(str(p) for p in (self.root / name).glob("batch=*"))
        if not batches:
            from ..schemas import TABLE_SCHEMAS

            return spark.createDataFrame([], schema or TABLE_SCHEMAS[name])
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(*batches)

    def table_exists(self, name: str) -> bool:
        d = self.root / name
        return d.exists() and any(d.glob("batch=*"))

    def compact(self, spark: SparkSession, name: str, target_partitions: int = 1) -> int:
        """Small-file management: rewrite all batch dirs of a table into one
        compacted batch (atomic: the compacted batch is staged and promoted
        before the source batches are removed). Returns batches removed.
        At scale this is the nightly OPTIMIZE pass — per-epoch micro-batches
        otherwise accumulate one file set per commit forever."""
        old = sorted((self.root / name).glob("batch=*"))
        if len(old) <= 1:
            return 0
        df = self.read_table(spark, name).coalesce(target_partitions)
        # materialize under staging first; promote, then drop the originals
        batch_id = f"compact-{uuid.uuid4().hex[:8]}"
        self.write_batch({name: df}, batch_id=batch_id)
        for d in old:
            shutil.rmtree(d, ignore_errors=True)
        return len(old)


def clear_outputs(root: str | Path, tables: list[str] | None = None) -> None:
    """K4 — cascade-delete analog: wipe every output table together."""
    root = Path(root)
    if tables is None:
        targets = [p for p in root.iterdir()] if root.exists() else []
    else:
        targets = [root / t for t in tables]
    for t in targets:
        if t.is_file():  # e.g. _commits.log on a full wipe
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
