"""Structured Streaming analog of the reference's page loop.

The reference's pull-process-commit pagination (reference
etl/app/shift_data_processor.py:185-215) is a hand-rolled micro-batch
pipeline: one page = one epoch, committed transactionally. Structured
Streaming gives the same contract natively — each micro-batch of
``foreachBatch`` is processed exactly-once into the staged sink, and the
checkpoint replaces the `links.next` cursor.

`stream_etl` reads nested shift-doc JSON files as they land (the file-drop
equivalent of pages), flattens each micro-batch with the SAME operators as
the batch path, and commits all four tables atomically per epoch.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import caching
from ..operators import flatten, quality
from ..schemas import SHIFT_DOC_SCHEMA
from ..sinks.staged import StagedWriter


def stream_etl(
    spark: SparkSession,
    input_dir: str | Path,
    output_dir: str | Path,
    checkpoint_dir: str | Path,
    available_now: bool = True,
    refresh_kpis: bool = False,
    anchor_date=None,
):
    """readStream(json pages) → flatten → atomic per-epoch multi-table write.

    With ``available_now`` the stream drains existing files and stops —
    batch-equivalent semantics for tests; without it, it runs continuously.
    With ``refresh_kpis`` each epoch also recomputes the six KPIs over the
    cumulative tables (the reference runs KPIs once after all pages; a
    continuously-refreshing variant is the streaming-native analog —
    equivalence with the batch path is asserted in tests).
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
        with caching.scope():
            tables = flatten.flatten_all(caching.persist(batch_df))
            # an epoch that breaks a key constraint fails the stream and
            # commits nothing, as run_etl's batch does
            quality.validate_tables(tables)
            writer.write_batch(tables, batch_id=_epoch_batch_id(sid, epoch_id))
            if refresh_kpis:
                from ..operators import kpi

                sp = batch_df.sparkSession
                # read back with the schemas just written: inference
                # would cost a footer-reading job per table
                shifts, breaks, allowances = (
                    writer.read_table(sp, name, schema=tables[name].schema)
                    for name in ("shifts", "breaks", "allowances")
                )
                kpis = kpi.compute_kpis(sp, shifts, breaks, allowances, anchor_date)
                # overwrite-style refresh: latest epoch's KPI batch wins
                from ..sinks.staged import clear_outputs

                clear_outputs(Path(output_dir), ["kpis"])
                writer.write_batch(
                    {"kpis": kpis},
                    batch_id=_epoch_batch_id(sid, epoch_id, "-kpis"),
                )

    stream = docs.writeStream.foreachBatch(commit_epoch).option(
        "checkpointLocation", str(checkpoint_dir)
    )
    if available_now:
        q = stream.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return stream.start()


def streaming_dedupe(
    spark: SparkSession,
    input_dir: str | Path,
    checkpoint_dir: str | Path,
    key: str = "event_id",
    watermark: str = "1 hour",
    query_name: str = "deduped_events",
):
    """Exactly-once event ingestion: dropDuplicates on the event key within
    the watermark horizon — the streaming analog of the PK-uniqueness gate
    (state holds one entry per key until the watermark passes it, so state
    size is bounded by arrival rate × horizon, not by history)."""
    events = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .json(str(input_dir))
    )
    deduped = events.withWatermark("ts", watermark).dropDuplicates([key, "ts"])
    return (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", str(checkpoint_dir))
        .trigger(availableNow=True)
        .start()
    )


def streaming_dedupe_within_watermark(
    spark: SparkSession,
    input_dir: str | Path,
    checkpoint_dir: str | Path,
    key: str = "event_id",
    watermark: str = "1 hour",
    query_name: str = "deduped_events_ww",
):
    """Retry-tolerant exactly-once: dropDuplicatesWithinWatermark dedups
    on the KEY ALONE for events arriving within the watermark delay of
    each other — a producer retry that re-stamps ts still collapses to
    one row, which the (key, ts)-keyed form above cannot do. State stays
    bounded the same way: one entry per key, expired once the watermark
    passes its first arrival."""
    events = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .json(str(input_dir))
    )
    deduped = events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        [key]
    )
    return (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", str(checkpoint_dir))
        .trigger(availableNow=True)
        .start()
    )


def streaming_event_counts(
    spark: SparkSession,
    input_dir: str | Path,
    checkpoint_dir: str | Path,
    watermark: str = "1 hour",
    window: str = "1 hour",
):
    """Event-time tumbling-window counts with a watermark for late data —
    the streaming twin of operators.windows.tumbling_window. Returns the
    started query writing to an in-memory sink named 'event_counts'."""
    events = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .json(str(input_dir))
    )
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )
    # complete mode: append would hold back windows the watermark hasn't
    # passed yet — with availableNow that means every window still open at
    # end-of-input would never surface in the memory sink.
    return (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("event_counts")
        .option("checkpointLocation", str(checkpoint_dir))
        .trigger(availableNow=True)
        .start()
    )


def streaming_enriched_counts(
    spark: SparkSession,
    input_dir: str | Path,
    checkpoint_dir: str | Path,
    dim: DataFrame,
    dim_key: str = "user_id",
    dim_attr: str = "segment",
    query_name: str = "enriched_counts",
):
    """Stream-static enrichment: each micro-batch joins the event stream to
    a static dimension (broadcast — the dim never shuffles the stream) and
    aggregates per dimension attribute. The static side is re-resolved per
    micro-batch, so a dim refreshed on disk is picked up without a restart
    — the streaming analog of the reference's FK joins, and the 100 TB
    pattern for enriching a firehose against slowly-changing metadata."""
    events = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .json(str(input_dir))
    )
    enriched = events.join(F.broadcast(dim), dim_key, "left").groupBy(
        F.coalesce(F.col(dim_attr), F.lit("unknown")).alias(dim_attr)
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )
    return (
        enriched.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", str(checkpoint_dir))
        .trigger(availableNow=True)
        .start()
    )


def streaming_merge_upsert(
    spark: SparkSession,
    input_dir: str | Path,
    output_dir: str | Path,
    checkpoint_dir: str | Path,
    table: str = "kpis",
    key: str = "kpi_name",
    delete_col: str | None = "deleted",
):
    """CDC-to-table: a stream of change records (upserts + optional
    tombstones) MERGEd into a staged-sink table once per epoch via
    foreachBatch — the Structured-Streaming analog of a Delta MERGE sink.
    Exactly-once comes from the checkpoint (epochs are not re-fed) plus
    merge_into's atomic batch swap; state never accumulates in the stream
    because the table itself is the state."""
    from ..operators.merge import merge_into

    schema = (
        "kpi_name string, kpi_date string, kpi_value double, deleted boolean"
    )
    changes = spark.readStream.schema(schema).json(str(input_dir))

    def apply_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # last change per key within the epoch wins (CDC compaction)
        latest = (
            batch_df.groupBy(key)
            .agg(F.max(F.struct("kpi_date", "kpi_value", "deleted")).alias("m"))
            .select(key, "m.kpi_date", "m.kpi_value", "m.deleted")
        )
        merge_into(
            batch_df.sparkSession, str(output_dir), table, latest, key, delete_col
        )

    q = (
        changes.writeStream.foreachBatch(apply_epoch)
        .option("checkpointLocation", str(checkpoint_dir))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def _blocklist_coverage(
    gram_hashes: list[str], span_len: int, text_col: str = "text"
):
    """(blocked_chars, blocked_frac) column pair: characters of
    ``text_col`` covered by blocklisted ``span_len``-char windows, via
    the gaps-and-islands fold (positions ascend, so a single
    (total, prev_end) accumulator merges overlapping windows). Shared by
    the scrub report and the admission pipeline so the interval-merge
    arithmetic exists exactly once."""
    if not gram_hashes:
        blocked = F.lit(0)
        return blocked, blocked / F.greatest(F.length(text_col), F.lit(1))
    block = F.array(*[F.lit(h) for h in gram_hashes])
    npos = F.length(text_col) - (span_len - 1)
    positions = F.when(npos >= 1, F.sequence(F.lit(1), npos)).otherwise(
        F.array().cast("array<int>")
    )
    hits = F.filter(
        positions,
        lambda p: F.array_contains(
            block, F.md5(F.col(text_col).substr(p, F.lit(span_len)))
        ),
    )
    zero = F.struct(F.lit(0).alias("total"), F.lit(0).alias("prev_end"))
    blocked = F.aggregate(
        hits,
        zero,
        lambda acc, p: F.struct(
            (
                acc["total"]
                + (p + (span_len - 1))
                - F.greatest(acc["prev_end"], p - 1)
            ).alias("total"),
            (p + (span_len - 1)).alias("prev_end"),
        ),
        lambda acc: acc["total"],
    )
    return blocked, blocked / F.greatest(F.length(text_col), F.lit(1))


def _stream_identity(checkpoint_dir: str | Path) -> str:
    """Stable per-checkpoint id persisted INSIDE the checkpoint dir, used
    to namespace StagedWriter batch ids. Same checkpoint → same id, so
    the epoch replay after a crash stays idempotent; a FRESH checkpoint
    (whose epoch counter restarts at 0) gets a new namespace, so its
    epochs can never silently collide with batches an earlier stream
    already committed to the same output dir.

    Pre-namespacing checkpoints (Spark offset state already present, no
    identity file — a stream created before this upgrade) committed bare
    ``epochNNNNNN`` batch ids; they get the LEGACY sentinel (empty id →
    ``_epoch_batch_id`` emits the bare format) so a crashed epoch replays
    under the SAME id it was committed as, instead of being re-committed
    under a fresh namespace and breaking exactly-once across the upgrade.

    The identity file is written atomically (temp + rename); like
    StagedWriter's staging-rename commit this assumes a local/posix-rename
    filesystem for the checkpoint dir."""
    import os
    import uuid

    p = Path(checkpoint_dir)
    p.mkdir(parents=True, exist_ok=True)
    f = p / "stream_identity"
    if not f.exists():
        offsets = p / "offsets"
        legacy = offsets.is_dir() and any(offsets.iterdir())
        sid = "" if legacy else uuid.uuid4().hex[:12]
        tmp = p / f"stream_identity.tmp.{uuid.uuid4().hex[:8]}"
        tmp.write_text(sid)
        os.replace(tmp, f)
    return f.read_text().strip()


def _epoch_batch_id(sid: str, epoch_id: int, suffix: str = "") -> str:
    """StagedWriter batch id for a streaming epoch: namespaced by the
    checkpoint identity, or the bare legacy format when ``sid`` is the
    pre-upgrade sentinel (empty)."""
    base = f"epoch{epoch_id:06d}{suffix}"
    return f"{sid}-{base}" if sid else base


def streaming_blocklist_scrub(
    spark: SparkSession,
    input_dir: str | Path,
    checkpoint_dir: str | Path,
    gram_hashes: list[str],
    span_len: int = 40,
    max_frac: float = 0.5,
    query_name: str = "scrubbed_docs",
):
    """Scrub a DOCUMENT STREAM against a boilerplate blocklist (the
    gram-level fingerprints a batch pass like x43/x86 produced): for
    every arriving doc, the fraction of its characters covered by
    blocklisted ``span_len``-char windows, and a keep/drop verdict at
    ``max_frac`` — the online admission filter in front of a training
    corpus.

    Entirely STATELESS streaming: the per-doc interval merge (the same
    gaps-and-islands semantics as dedup.duplicate_span_intervals) runs
    as a single-row JVM array fold — filter the window positions whose
    md5 is blocklisted, then aggregate() them into merged covered chars
    (positions arrive ascending, so one (total, prev_end) accumulator
    suffices). No groupBy, no watermark, no state store: append mode
    with zero streaming state, and the whole expression is codegen'd.

    ``gram_hashes`` embeds as a literal array — right for a curated
    blocklist (thousands of entries); for an unbounded one, switch to a
    stream-static broadcast join on an exploded positions column."""
    docs = spark.readStream.schema("doc_id long, text string").json(
        str(input_dir)
    )
    blocked, frac = _blocklist_coverage(gram_hashes, span_len)
    out = docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        blocked.alias("blocked_chars"),
        F.round(frac, 6).alias("blocked_frac"),
        (frac <= max_frac).alias("keep"),
    )
    return (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", str(checkpoint_dir))
        .trigger(availableNow=True)
        .start()
    )


def _admitted_hashes(spark: SparkSession, writer: StagedWriter) -> DataFrame:
    """The seen-hash set for online-admission dedup: the hashes-only
    ``admitted_hashes`` sidecar (one 32-hex column — the anti-join's scan
    never touches admitted text). A pre-sidecar output dir (admitted
    exists, sidecar doesn't) is backfilled ONCE from the admitted table
    under a fixed batch id, so write_batch's idempotency makes the
    upgrade replay-safe; after that the derive path never runs again
    (every epoch appends its survivors' hashes alongside the survivors).
    """
    from ..operators.textstats import normalize_text

    if not writer.table_exists("admitted_hashes") and writer.table_exists(
        "admitted"
    ):
        derived = writer.read_table(spark, "admitted").select(
            F.md5(normalize_text(F.col("text"))).alias("content_hash")
        )
        writer.write_batch(
            {"admitted_hashes": derived}, batch_id="hashes-backfill"
        )
    if writer.table_exists("admitted_hashes"):
        return writer.read_table(spark, "admitted_hashes")
    return spark.createDataFrame([], "content_hash string")


def _admitted_sigs(
    spark: SparkSession, writer: StagedWriter, sig_kwargs: dict
) -> DataFrame:
    """The seen-SIGNATURE set for online NEAR-dup admission: the
    (doc_id, 64-long MinHash) ``admitted_sigs`` sidecar — the anti-join
    side incremental_minhash_dedup reads via ``history_sig_col``, so
    near-dup admission never scans admitted text (~0.5 KB/doc). Same
    lazy-upgrade contract as _admitted_hashes: a pre-sidecar output dir
    is backfilled ONCE from the admitted table under a fixed batch id;
    ``sig_kwargs`` (num_hashes / shingle_n / hash_fn) must match the
    admission call's, which streaming_curation_admit guarantees by
    deriving both from one config."""
    from ..operators.dedup import minhash_signatures

    if not writer.table_exists("admitted_sigs") and writer.table_exists(
        "admitted"
    ):
        derived = minhash_signatures(
            writer.read_table(spark, "admitted"), **sig_kwargs
        ).withColumnRenamed("doc", "doc_id")
        writer.write_batch(
            {"admitted_sigs": derived}, batch_id="sigs-backfill"
        )
    if writer.table_exists("admitted_sigs"):
        return writer.read_table(spark, "admitted_sigs")
    return spark.createDataFrame([], "doc_id long, sig array<long>")


def streaming_curation_admit(
    spark: SparkSession,
    input_dir: str | Path,
    checkpoint_dir: str | Path,
    output_dir: str | Path,
    gram_hashes: list[str] | None = None,
    span_len: int = 40,
    max_blocked_frac: float = 0.5,
    min_quality: float = 0.5,
    compact_every: int | None = None,
    neardup_threshold: float | None = None,
    neardup_kwargs: dict | None = None,
):
    """ONLINE admission counterpart of pipeline.curate(): as document
    files land, each micro-batch is (1) scored against the boilerplate
    blocklist ON THE RAW TEXT (the x86-style gram fingerprints are raw-
    text hashes, so matching must run before any rewrite; same stateless
    fold as ``streaming_blocklist_scrub``), (2) PII-scrubbed, (3)
    quality-gated on the x18/x88 heuristic score, (4) exact-deduped BOTH
    within the batch and against every previously ADMITTED document
    (``dedup.incremental_exact_dedup`` vs the cumulative sink), and the
    survivors committed atomically per epoch through StagedWriter. Batch
    ids are namespaced by ``_stream_identity`` — same checkpoint replays
    idempotently (exactly-once across restarts, the ``stream_etl``
    contract), while a FRESH checkpoint against an existing output dir
    gets its own id space instead of silently colliding with (and being
    swallowed by) an earlier stream's epoch 0.

    State lives in the SINK, not the stream: the seen-hash set is a
    hashes-only ``admitted_hashes`` sidecar table, appended atomically
    WITH each epoch's survivors (same write_batch, so sidecar and corpus
    can never diverge). The per-epoch dedup anti-join therefore scans one
    32-hex column, never the admitted corpus — the 100 TB shape
    incremental_exact_dedup documents — and the streaming query carries
    zero state-store bytes and restarts cold. An output dir admitted to
    BEFORE the sidecar existed is upgraded lazily: the first epoch
    derives the missing sidecar from the admitted table once.

    ``compact_every=N`` rewrites the sidecars' accumulated per-epoch
    batch dirs into one after every N epochs (StagedWriter.compact, the
    nightly-OPTIMIZE analog): without it a long-running stream's dedup
    scan pays one file listing per historical epoch. Compaction replays
    safely — a crashed epoch's replay skips its (already-committed)
    write, and re-compacting an already-compacted table is a no-op.

    ``neardup_threshold`` switches on ONLINE NEAR-dup admission (r8):
    after the exact stage, survivors run
    ``dedup.incremental_minhash_dedup`` against the (doc_id, signature)
    ``admitted_sigs`` sidecar — signature-estimated Jaccard ≥ threshold
    vs history or a lower-id batch mate drops the doc. The sidecar is
    appended atomically WITH each epoch (same write_batch) and, like
    the hash sidecar, means admission never rescans admitted text; a
    pre-sidecar output dir backfills once. ``neardup_kwargs`` tunes the
    LSH — ONLY num_hashes / bands / shingle_n / hash_fn /
    max_bucket_size are accepted (anything else raises: a ``threshold``
    key would collide with ``neardup_threshold``, and re-keyed
    text/id columns would desync the admitted_sigs sidecar, which
    mirrors only the signature-family kwargs and hard-codes the doc_id
    rename) — and MUST stay constant across a stream's lifetime, since
    signatures in the sidecar embed the family.

    Known coverage gap (documented, accepted): a doc with fewer than
    ``shingle_n`` normalized tokens yields NO MinHash signature
    (minhash_signatures drops shingle-less docs), so it never enters
    the admitted_sigs sidecar and future NEAR-copies of it (edited,
    not byte-identical — those the exact stage still catches) are
    admitted. The lazy backfill cannot close the gap later because the
    sidecar table then already exists. Near-dup semantics on sub-
    shingle docs are ill-defined (one shingle = the whole doc), so the
    gap is inherent to the signature family, not the sidecar.

    Returns the started query (availableNow trigger: drains and stops).
    """
    from ..operators.dedup import (
        incremental_exact_dedup,
        incremental_minhash_dedup,
        minhash_signatures,
    )
    from ..operators.textstats import normalize_text, quality_score, scrub_pii

    # validate BEFORE any side effect: _stream_identity below mkdirs the
    # checkpoint dir and writes the identity file, so a rejected call
    # must bail out while the filesystem is still untouched
    nd_kwargs = dict(neardup_kwargs or {})
    _nd_allowed = {
        "num_hashes", "bands", "shingle_n", "hash_fn", "max_bucket_size"
    }
    _nd_bad = set(nd_kwargs) - _nd_allowed
    if _nd_bad:
        raise ValueError(
            "streaming_curation_admit: unsupported neardup_kwargs "
            f"{sorted(_nd_bad)}; allowed keys are {sorted(_nd_allowed)} "
            "(set the threshold via neardup_threshold; text/id columns "
            "are fixed by the admitted_sigs sidecar layout)"
        )
    docs = spark.readStream.schema(
        "doc_id long, source string, text string"
    ).json(str(input_dir))
    writer = StagedWriter(output_dir)
    sid = _stream_identity(checkpoint_dir)
    _, blocked_frac = _blocklist_coverage(gram_hashes or [], span_len)
    sig_kwargs = {
        k: nd_kwargs[k]
        for k in ("num_hashes", "shingle_n", "hash_fn")
        if k in nd_kwargs
    }

    def admit_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        with caching.scope():
            caching.persist(batch_df)
            unblocked = batch_df.where(blocked_frac <= max_blocked_frac)
            scrubbed = unblocked.select(
                "doc_id", "source", scrub_pii(F.col("text")).alias("text")
            )
            passing = caching.persist(
                scrubbed.where(
                    F.round(quality_score(F.col("text")), 4) >= min_quality
                )
            )
            sp = batch_df.sparkSession
            history = _admitted_hashes(sp, writer)
            keep = incremental_exact_dedup(
                passing, history, history_hash_col="content_hash"
            ).select("keep_id")
            survivors = admitted = caching.persist(
                passing.join(
                    keep.withColumnRenamed("keep_id", "doc_id"), "doc_id", "semi"
                )
            )
            if neardup_threshold is not None:
                # one signature pass serves both admission and the
                # sidecar append; exact_precollapse=False because the
                # exact stage above already collapsed the batch
                batch_sigs = caching.persist(
                    minhash_signatures(admitted, **sig_kwargs)
                )
                nd_keep = (
                    incremental_minhash_dedup(
                        admitted,
                        _admitted_sigs(sp, writer, sig_kwargs),
                        threshold=neardup_threshold,
                        history_sig_col="sig",
                        incoming_sig_df=batch_sigs,
                        exact_precollapse=False,
                        **nd_kwargs,
                    )
                    .where(F.col("keep"))
                    .select("doc_id")
                )
                survivors = caching.persist(
                    admitted.join(nd_keep, "doc_id", "semi")
                )
            new_hashes = survivors.select(
                F.md5(normalize_text(F.col("text"))).alias("content_hash")
            )
            tables = {
                "admitted": survivors,
                "admitted_hashes": new_hashes,
            }
            if neardup_threshold is not None:
                tables["admitted_sigs"] = (
                    batch_sigs.withColumnRenamed("doc", "doc_id")
                    .join(survivors.select("doc_id"), "doc_id", "semi")
                )
            writer.write_batch(tables, batch_id=_epoch_batch_id(sid, epoch_id))
        if compact_every and (epoch_id + 1) % compact_every == 0:
            writer.compact(sp, "admitted_hashes")
            if writer.table_exists("admitted_sigs"):
                writer.compact(sp, "admitted_sigs")

    return (
        docs.writeStream.foreachBatch(admit_epoch)
        .option("checkpointLocation", str(checkpoint_dir))
        .trigger(availableNow=True)
        .start()
    )
