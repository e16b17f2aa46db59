"""End-to-end orchestration — the engine's analog of the reference's two
control endpoints (E1 `/run-etl`, E2 `/clear-data`; reference
etl/app/main.py:31-67, SURVEY.md §3).

`run_etl` = ingest pages → flatten to 4 tables → integrity-validate →
atomically persist → compute + persist the 6 KPIs. One lazy logical plan per
table and no cache: the batch is a JVM-held local relation
(sources/pages.py), so the checks and the writes re-scan it cheaply, and
the KPIs are one lazy query over the tables just written. No Spark job runs
before the validation's own.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Iterable
from functools import reduce
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.storagelevel import StorageLevel

from . import caching
from .operators import flatten, kpi, quality
from .sinks.staged import StagedWriter, clear_outputs
from .sources import pages as pages_src

OUTPUT_TABLES = ["shifts", "breaks", "allowances", "award_interpretations", "kpis"]


def run_etl(
    spark: SparkSession,
    pages: Iterable[dict] | None = None,
    api_url: str | None = None,
    output_dir: str | Path = "/tmp/shifts_etl_spark_out",
    anchor_date: dt.date | str | None = None,
    fetch=None,
) -> dict[str, int]:
    """E1 — full pipeline. Provide either ``pages`` (iterable of page dicts,
    e.g. from sources.generator.paginate) or ``api_url`` (paginated HTTP).

    Returns row counts per persisted table. Raises quality.IntegrityError
    (nothing persisted) on constraint violations — the rollback semantics of
    reference etl/tests/test_shift_data_processor.py:242-300 at job
    granularity.
    """
    if pages is None:
        if api_url is None:
            raise ValueError("provide pages or api_url")
        pages = pages_src.iter_http_pages(api_url, fetch=fetch)

    docs = pages_src.docs_from_pages(spark, pages)
    tables = flatten.flatten_all(docs)
    quality.validate_tables(tables)

    writer = StagedWriter(output_dir)
    batch = writer.write_batch(tables)

    # Read back with the schemas just written: inference would cost a
    # footer-reading job per read.
    schemas = {name: df.schema for name, df in tables.items()}
    shifts = writer.read_table(spark, "shifts", schema=schemas["shifts"])
    breaks = writer.read_table(spark, "breaks", schema=schemas["breaks"])
    allowances = writer.read_table(spark, "allowances", schema=schemas["allowances"])
    kpis = kpi.compute_kpis(spark, shifts, breaks, allowances, anchor_date)
    writer.write_batch({"kpis": kpis}, batch_id=f"{batch}-kpis")
    schemas["kpis"] = kpis.schema

    # One aggregate over every committed batch of all five tables,
    # instead of a count job pair per table.
    rows = [
        writer.read_table(spark, name, schema=schemas[name]).select(
            F.lit(name).alias("table")
        )
        for name in OUTPUT_TABLES
    ]
    union = reduce(DataFrame.unionByName, rows)
    counts = dict.fromkeys(OUTPUT_TABLES, 0)
    for r in union.groupBy("table").count().collect():
        counts[r["table"]] = r["count"]
    return counts


def clear_data(output_dir: str | Path) -> None:
    """E2 — wipe all five outputs together (the FK-cascade analog), with
    the staging area and the commit log: a log that outlived its tables
    would make a later batch reusing a committed id a silent replay."""
    clear_outputs(output_dir, OUTPUT_TABLES + ["_staging", "_commits.log"])


def prepare_training_data(
    spark: SparkSession,
    docs: DataFrame,
    output_dir: str | Path | None = None,
    min_jaccard: float = 0.5,
    chunk_tokens: int = 100,
    overlap: int = 20,
    budget_tokens: int = 512,
    max_dup_bigram_frac: float | None = None,
    max_length_quantile: float | None = None,
    max_cross_doc_dup_frac: float | None = None,
    lsh_kwargs: dict | None = None,
) -> dict[str, DataFrame]:
    """The LLM-data capstone pipeline, composed from the extension
    operators: quality-filter → optional repetition filter (Gopher-style
    ``max_dup_bigram_frac`` cutoff; None disables the stage and its pass)
    → optional length-outlier filter (``max_length_quantile`` drops docs
    whose token count exceeds that corpus quantile, computed from the
    mergeable sketch — one bounded extra pass, cutoff is a 1-row collect
    like bloom's bitset; None disables) → optional cross-corpus
    boilerplate filter (``max_cross_doc_dup_frac`` drops docs whose
    duplicate-5-gram coverage — the RefinedWeb dup-token signal,
    operators/dedup.duplicate_ngram_coverage — exceeds the cutoff;
    None disables) → PII-scrub → near-dup removal
    (LSH → exact-Jaccard verify → connected components) →
    context-window chunking → sequence packing → stable train/val/test
    split.

    Returns the intermediate DataFrames keyed by stage (and writes each
    stage as a table batch when ``output_dir`` is given), so callers can
    audit per-stage row drops — the shape of a production curation run.
    Input: any DataFrame with (doc_id long, text string).

    Sibling of ``curate()``: this pipeline ends in the TRAINING-SHARD
    shapes (context-window chunks, packed sequences); curate() ends in a
    mixed, split corpus with a per-stage accounting ledger. Use this one
    to produce model inputs, curate() to decide what goes in the corpus.

    The input and the scrubbed stage are cached through :mod:`caching`
    and back the returned lazy frames: a caller that consumes them
    eagerly (the x237 ledger entry, the CLI) opens a ``caching.scope()``
    around that use.
    """
    from .operators import dedup
    from .operators.chunking import chunk_documents, pack_sequences
    from .operators.textstats import quality_filter, repetition_stats, scrub_pii

    # fail fast on config typos BEFORE any Spark action (same rationale
    # as curate()'s entry validation): chunk_documents' own guard would
    # otherwise fire only after the eager LSH-dedup stage has burned a
    # full corpus pass, and budget_tokens=0 would silently NULL every
    # pack_id instead of erroring
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"overlap must be in [0, chunk_tokens): got {overlap} vs "
            f"chunk_tokens={chunk_tokens}"
        )
    if budget_tokens <= 0:
        raise ValueError(f"budget_tokens must be positive: got {budget_tokens}")
    if not 0 <= min_jaccard <= 1:
        raise ValueError(f"min_jaccard must be in [0, 1]: got {min_jaccard}")

    docs = caching.persist(
        docs.select("doc_id", "text"), StorageLevel.MEMORY_AND_DISK
    )

    quality = quality_filter(docs)
    kept = docs.join(quality.where(F.col("keep")).select("doc_id"), "doc_id")

    if max_dup_bigram_frac is not None:
        low_rep = repetition_stats(kept).where(
            F.col("dup_bigram_frac") <= max_dup_bigram_frac
        )
        kept = kept.join(low_rep.select("doc_id"), "doc_id")

    if max_length_quantile is not None:
        from .operators.quantiles import quantile_sketch, sketch_quantiles
        from .operators.textstats import token_count

        lens = kept.select(token_count(F.col("text")).alias("_n"))
        cut = sketch_quantiles(
            quantile_sketch(lens, "_n", k=256), [max_length_quantile], k=256
        ).collect()
        if cut and cut[0]["approx_value"] is not None:
            kept = kept.where(
                token_count(F.col("text")) <= cut[0]["approx_value"]
            )

    if max_cross_doc_dup_frac is not None:
        # anti-join against docs EXCEEDING the cutoff: coverage yields no
        # row for zero-token docs, so an inner join on the keep side would
        # silently drop them instead of passing them through as dup_frac=0
        over = dedup.duplicate_ngram_coverage(kept).where(
            F.col("dup_frac") > max_cross_doc_dup_frac
        )
        kept = kept.join(over.select("doc_id"), "doc_id", "left_anti")

    scrubbed = kept.select("doc_id", scrub_pii(F.col("text")).alias("text"))
    scrubbed = caching.persist(scrubbed, StorageLevel.MEMORY_AND_DISK)

    # Collapse exact (normalized) duplicates BEFORE the LSH stage: exact
    # copies share identical shingle sets, hence identical signatures and
    # buckets, so keeping only the min-id copy never changes the near-dup
    # survivor set while the pile is under the hot-bucket cap — and above
    # it, it strictly improves recall (a corpus-scale pile of identical
    # docs would overflow its LSH buckets and escape dedup entirely).
    # It also removes the pair work that grows QUADRATICALLY with
    # duplication: the 30x-replica smoke ran 6.8x without this collapse
    # vs curate()'s 0.7x with it (docs/SCALE.md).
    exact_keep = dedup.exact_dedup_normalized(scrubbed).select(
        F.col("keep_id").alias("doc_id")
    )
    collapsed = scrubbed.join(exact_keep, "doc_id", "semi")

    # lsh_kwargs flows to minhash_lsh_pairs (hash_fn="md5" selects the
    # cross-engine-mirrorable family — the x237 oracle's configuration)
    clusters = dedup.minhash_dedup_components(
        collapsed, threshold=min_jaccard, **(lsh_kwargs or {})
    )
    deduped = (
        collapsed.join(clusters, collapsed.doc_id == clusters.doc, "left")
        .where(F.col("cluster_id").isNull() | (F.col("cluster_id") == F.col("doc_id")))
        .select("doc_id", "text")
    )

    chunks = chunk_documents(deduped, chunk_tokens, overlap)
    packs = pack_sequences(deduped, budget_tokens)

    h = F.md5(F.col("doc_id").cast("string"))
    bucket = (F.ascii(F.substring(h, 1, 1)) * 256 + F.ascii(F.substring(h, 2, 1))) % 100
    split = deduped.select(
        "doc_id",
        F.when(bucket < 5, "val").when(bucket < 15, "test").otherwise("train").alias("split"),
    )

    stages = {
        "quality": quality,
        "deduped": deduped,
        "chunks": chunks,
        "packs": packs,
        "split": split,
    }
    if output_dir is not None:
        StagedWriter(output_dir).write_batch(stages)
    return stages


def curate(
    spark: SparkSession,
    docs: DataFrame,
    *,
    budget_docs: int = 1000,
    temperature: float = 0.7,
    min_quality: float = 0.5,
    span_len: int = 40,
    span_min_docs: int = 2,
    span_drop_frac: float = 0.8,
    neardup_threshold: float = 0.3,
    neardup_method: str = "blocked",
    neardup_lsh_kwargs: dict | None = None,
    train_frac: float = 0.8,
    val_frac: float = 0.1,
    fingerprint_chars: int = 160,
    output_dir: str | Path | None = None,
    eval_docs: DataFrame | None = None,
    max_contamination: float = 0.2,
    pii_scrub: bool = True,
    budget_tokens: int | None = None,
):
    """The composed end-to-end curation run a 100 TB pre-training pipeline
    executes (VERDICT r5 "Next round" #5), chaining the individually
    verified operators with x87-style accounting at every stage:

      ingest
      → PII scrub (optional, default on)    (x16: typed placeholders,
        BEFORE hashing so PII-only variants dedup as copies)
      → exact dedup, normalized text        (x1/x2: md5 groupBy)
      → near-dup canonical election         (x67 components + x84 elect:
        drop every cluster member except the best-quality copy)
      → duplicate-span scrub                (x85-x87 applied: cut maximal
        duplicated spans; drop mostly-duplicated docs)
      → benchmark decontamination           (optional, when ``eval_docs``
        is given — x35 applied: drop docs whose shingle overlap with the
        eval set exceeds ``max_contamination``)
      → quality calibration + filter        (x88/x222: cross-source
        quantile-normalized quality >= min_quality)
      → temperature mixture draw            (x50/x71: largest-remainder
        allocation over sources, deterministic md5 priority)
      → leakage-safe split                  (x53's 160-char normalized
        fingerprint as the split KEY, so any residual near-exact copies
        land in the same split by construction; x24 md5 buckets)

    Returns ``(curated, ledger)``: the final DataFrame (doc_id, source,
    text, split) and a list of per-stage accounting dicts
    (stage, n_docs, n_chars, n_tokens, docs_dropped, chars_removed) whose
    arithmetic a pytest pins at sf0.1 (tests/test_curate_pipeline.py).

    Scale shape: every stage is one of the already-audited operator plans
    (no new shuffle patterns); survivors are persisted between stages so
    each stage's ledger aggregate and the next stage share one
    materialization; the ledger itself is ONE map-side-combinable
    aggregate per stage (a handful of rows on the driver).

    Sibling of ``prepare_training_data`` (corpus membership + mixture +
    split with full accounting, this function) and of
    ``streaming.micro_batch.streaming_curation_admit`` (the online
    admission variant of the same filters)."""
    from pyspark.sql import Window

    from .operators import curation as cur, dedup as dd
    from .operators.textstats import normalize_text, quality_score, token_count

    # fail fast on config typos BEFORE any Spark action — a bad
    # neardup_method raising only at stage 2 would waste a full corpus
    # pass through ingest/pii_scrub/exact_dedup first (ADVICE r6)
    if neardup_method not in ("blocked", "minhash"):
        raise ValueError(
            f"unknown neardup_method {neardup_method!r}: "
            "expected 'blocked' or 'minhash'"
        )
    if not (0 <= train_frac and 0 <= val_frac and train_frac + val_frac <= 1):
        raise ValueError(
            f"train_frac + val_frac must be within [0, 1]: "
            f"got {train_frac} + {val_frac}"
        )
    if neardup_lsh_kwargs and neardup_method != "minhash":
        raise ValueError(
            "neardup_lsh_kwargs only applies to neardup_method='minhash'"
        )

    def stats(df):
        row = df.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum(F.length("text")), F.lit(0)).alias("n_chars"),
            F.coalesce(F.sum(token_count(F.col("text"))), F.lit(0)).alias(
                "n_tokens"
            ),
        ).collect()[0]
        return int(row.n_docs), int(row.n_chars), int(row.n_tokens)

    ledger: list[dict] = []
    prev = None

    def account(stage, df):
        nonlocal prev
        n_docs, n_chars, n_tokens = stats(df)
        ledger.append(
            {
                "stage": stage,
                "n_docs": n_docs,
                "n_chars": n_chars,
                "n_tokens": n_tokens,
                "docs_dropped": (prev[0] - n_docs) if prev else 0,
                "chars_removed": (prev[1] - n_chars) if prev else 0,
            }
        )
        prev = (n_docs, n_chars, n_tokens)

    cur_df = docs.select("doc_id", "source", "text").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    account("ingest", cur_df)

    def advance(stage, nxt):
        # persist the survivors, record the stage, release the previous
        # stage's cache — each stage's ledger aggregate and its successor
        # share one materialization
        nonlocal cur_df
        nxt = nxt.persist(StorageLevel.MEMORY_AND_DISK)
        account(stage, nxt)
        cur_df.unpersist()
        cur_df = nxt

    # 0 (optional) — PII scrub: emails / URLs / long digit runs become
    # typed placeholders BEFORE any hashing, so two docs differing only
    # in PII dedup as the copies they are. Rewrites text, drops nothing.
    if pii_scrub:
        from .operators.textstats import scrub_pii

        advance(
            "pii_scrub",
            cur_df.select(
                "doc_id", "source", scrub_pii(F.col("text")).alias("text")
            ),
        )

    # 1 — exact dedup on normalized text: keep the min-id copy
    keep = dd.exact_dedup_normalized(cur_df).select(
        F.col("keep_id").alias("doc_id")
    )
    advance("exact_dedup", cur_df.join(keep, "doc_id", "semi"))

    # 2 — near-dup components + canonical election: inside every cluster
    # keep only the best-quality member (ties -> min id), i.e. x67 + x84
    # applied as a filter instead of reported as a table. Candidate
    # generation is pluggable: "blocked" (rare-shingle blocking, fully
    # deterministic — the oracle-verified x67 chain) or "minhash" (banded
    # LSH + exact-Jaccard confirm — higher recall on long documents, the
    # configuration a 100 TB run typically picks; x3/x25 chain).
    if neardup_method == "minhash":
        # neardup_lsh_kwargs flows to minhash_lsh_pairs (num_hashes,
        # bands, max_bucket_size, hash_fn...); hash_fn="md5" selects the
        # cross-engine-mirrorable family, making this arm oracle-backable
        # (x234) at ~2x the signature cost of the xxhash64 default
        comps = dd.minhash_dedup_components(
            cur_df,
            threshold=neardup_threshold,
            **(neardup_lsh_kwargs or {}),
        )
    else:  # "blocked" — the only other value the entry validation admits
        comps = dd.blocked_dedup_components(
            cur_df, threshold=neardup_threshold
        )
    scored = cur_df.select(
        F.col("doc_id").alias("doc"),
        F.round(quality_score(F.col("text")), 4).alias("q"),
    )
    members = comps.join(scored, "doc")
    w = Window.partitionBy("cluster_id").orderBy(F.desc("q"), F.asc("doc"))
    losers = (
        members.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") > 1)
        .select(F.col("doc").alias("doc_id"))
    )
    advance("neardup_canonical", cur_df.join(losers, "doc_id", "anti"))

    # 3 — exact-substring scrub: cut duplicated maximal spans, drop docs
    # that are mostly duplication (x85-x87 applied).
    scrubbed = dd.scrub_duplicate_spans(
        cur_df,
        span_len=span_len,
        min_docs=span_min_docs,
        drop_frac=span_drop_frac,
    )
    advance(
        "span_scrub",
        scrubbed.where(F.col("action") != "drop").select(
            "doc_id", "source", "text"
        ),
    )

    # 3b (optional) — benchmark decontamination (x35 applied): drop any
    # doc whose shingle overlap with the eval set exceeds the cap. The
    # eval side collapses to a broadcast shingle set — no corpus shuffle.
    if eval_docs is not None:
        dirty = cur.benchmark_contamination(cur_df, eval_docs).where(
            F.col("contamination_frac") > max_contamination
        )
        advance(
            "decontaminate",
            cur_df.join(dirty.select("doc_id"), "doc_id", "anti"),
        )

    # 4 — cross-source quality calibration, then threshold on the
    # calibrated score (x88/x222 applied).
    cal = cur.calibrate_quality(cur_df).where(
        F.col("q_calibrated") >= min_quality
    )
    advance("quality_filter", cur_df.join(cal.select("doc_id"), "doc_id", "semi"))

    # 5 — mixture: either the temperature-scaled document draw (x50 plan
    # + x71 materialize) or, when ``budget_tokens`` is set, x90's
    # quality-greedy selection under a per-source TOKEN quota.
    if budget_tokens is not None:
        drawn = cur.select_within_token_budget(
            cur_df, budget_tokens=budget_tokens
        )
        stage_name = "token_budget"
    else:
        drawn = cur.materialize_mixture(
            cur_df, budget=budget_docs, temperature=temperature
        )
        stage_name = "mixture_draw"
    advance(stage_name, cur_df.join(drawn.select("doc_id"), "doc_id", "semi"))

    # 6 — leakage-safe split: bucket on the x53 content fingerprint (md5
    # of the normalized 160-char prefix), not the doc id, so residual
    # near-exact copies cannot straddle splits.
    fp = F.md5(
        F.substring(normalize_text(F.col("text")), 1, fingerprint_chars)
    )
    u = cur._hex_uniform_int(fp, 6) / F.lit(float(16**6))
    split = (
        F.when(u < train_frac, "train")
        .when(u < train_frac + val_frac, "val")
        .otherwise("test")
    )
    # the RETURNED frame carries a cache owned through caching (the
    # caller's scope, or curated.unpersist()); the last intermediate is
    # freed here
    curated = caching.persist(
        cur_df.select("doc_id", "source", "text", split.alias("split")),
        StorageLevel.MEMORY_AND_DISK,
    )
    account("split", curated)
    cur_df.unpersist()

    if output_dir is not None:
        # production shape: curated docs + the ledger land atomically as
        # one StagedWriter batch (all-or-nothing, replay-idempotent)
        ledger_df = spark.createDataFrame(
            [tuple(r.values()) for r in ledger],
            "stage string, n_docs long, n_chars long, n_tokens long, "
            "docs_dropped long, chars_removed long",
        )
        StagedWriter(output_dir).write_batch(
            {"curated": curated, "curation_ledger": ledger_df}
        )
    return curated, ledger
