"""Structured Streaming analog of the reference's page loop.

The reference's pull-process-commit pagination (reference
etl/app/shift_data_processor.py:185-215) is a hand-rolled micro-batch
pipeline: one page = one epoch, committed transactionally. Structured
Streaming gives the same contract natively — each micro-batch of
``foreachBatch`` is processed exactly-once into the staged sink, and the
checkpoint replaces the `links.next` cursor.

`stream_etl` reads nested shift-doc JSON files as they land (the file-drop
equivalent of pages) and loads each micro-batch through the batch path's
own ``pipeline.load_batch`` (flatten → validate → one atomic four-table
commit per epoch).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from .pipeline import load_batch
from .schemas import SHIFT_DOC_SCHEMA
from .sinks.staged import StagedWriter


def stream_etl(
    spark: SparkSession,
    input_dir: str | Path,
    output_dir: str | Path,
    checkpoint_dir: str | Path,
    available_now: bool = True,
    refresh_kpis: bool = False,
    anchor_date=None,
):
    """readStream(json pages) → ``pipeline.load_batch`` per epoch: each
    micro-batch is flattened, validated (a key violation fails the stream
    and commits nothing, as ``run_etl``'s batch does) and committed as one
    atomic four-table batch.

    With ``available_now`` the stream drains existing files and stops —
    batch-equivalent semantics for tests; without it, it runs continuously.
    With ``refresh_kpis`` each epoch also writes ``load_batch``'s KPI frame
    over the cumulative tables as a replace of the previous epoch's (the
    reference runs KPIs once after all pages; a continuously-refreshing
    variant is the streaming-native analog — equivalence with the batch
    path is asserted in tests).
    """
    docs = (
        spark.readStream.schema(SHIFT_DOC_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .json(str(input_dir))
    )
    writer = StagedWriter(output_dir)
    # namespace epoch batch ids by checkpoint identity: a fresh checkpoint
    # restarts epoch numbering at 0, which must not collide with batches an
    # earlier stream already committed to this output dir (write_batch
    # would silently skip them as replays)
    sid = _stream_identity(checkpoint_dir)

    def commit_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        batch, kpis = load_batch(
            batch_df.sparkSession,
            batch_df,
            writer,
            batch_id=_epoch_batch_id(sid, epoch_id),
            anchor_date=anchor_date,
        )
        if refresh_kpis:
            # latest epoch's KPI batch replaces the previous one
            writer.write_batch({"kpis": kpis}, batch_id=f"{batch}-kpis", replace=True)

    stream = docs.writeStream.foreachBatch(commit_epoch).option(
        "checkpointLocation", str(checkpoint_dir)
    )
    if available_now:
        q = stream.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return stream.start()


def _stream_identity(checkpoint_dir: str | Path) -> str:
    """Stable per-checkpoint id persisted INSIDE the checkpoint dir, used
    to namespace StagedWriter batch ids. Same checkpoint → same id, so
    the epoch replay after a crash stays idempotent; a FRESH checkpoint
    (whose epoch counter restarts at 0) gets a new namespace, so its
    epochs can never silently collide with batches an earlier stream
    already committed to the same output dir.

    The identity file is written atomically (temp + rename); like
    StagedWriter's staging-rename commit this assumes a local/posix-rename
    filesystem for the checkpoint dir."""
    import os
    import uuid

    p = Path(checkpoint_dir)
    p.mkdir(parents=True, exist_ok=True)
    f = p / "stream_identity"
    if not f.exists():
        tmp = p / f"stream_identity.tmp.{uuid.uuid4().hex[:8]}"
        tmp.write_text(uuid.uuid4().hex[:12])
        os.replace(tmp, f)
    return f.read_text().strip()


def _epoch_batch_id(sid: str, epoch_id: int) -> str:
    """StagedWriter batch id for a streaming epoch, namespaced by the
    checkpoint identity."""
    return f"{sid}-epoch{epoch_id:06d}"
