"""Text-analysis operators for training-data pipelines over the
``documents`` table (north-star extension ops, BASELINE.json).

All hot-path logic is built-in `pyspark.sql.functions` — JVM-side, inside
whole-stage codegen, no Python UDFs — so every operator here scales linearly
with input and pushes column pruning to the parquet scan (only ``text`` and
the grouping keys are read).

Operators:
  - tokenization + token counting (whitespace + BPE-ish regex word pieces)
  - quality scoring (length / punctuation / stopword / digit ratios)
  - language-ID (stopword-hit n-gram heuristic)
  - document fingerprinting (md5 content hash + 64-bit rolling hash)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

# Tiny per-language stopword lists for the heuristic language scorer.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "es": ["el", "la", "de", "que", "y", "los"],
    "fr": ["le", "la", "et", "les", "des", "une"],
    "de": ["der", "die", "und", "das", "ein", "nicht"],
}

# BPE-ish pieces: runs of letters, runs of digits, or any single non-space.
TOKEN_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def normalize_text(c: Column) -> Column:
    """lower → strip non-alnum punctuation → collapse whitespace → trim."""
    out = F.lower(c)
    out = F.regexp_replace(out, "[^a-z0-9\\s]", " ")
    out = F.regexp_replace(out, "\\s+", " ")
    return F.trim(out)


def tokens(c: Column) -> Column:
    """Whitespace tokens (empty-token free)."""
    return F.filter(F.split(F.trim(c), "\\s+"), lambda t: t != "")


def token_count(c: Column) -> Column:
    return F.size(tokens(c))


def piece_count(c: Column) -> Column:
    """BPE-ish piece count via regexp extraction (letters/digits/other)."""
    return F.size(F.regexp_extract_all(c, F.lit(TOKEN_PATTERN), F.lit(0)))


def punct_ratio(c: Column) -> Column:
    n_punct = F.length(F.regexp_replace(c, "[^.,;:!?'\"()-]", ""))
    return n_punct / F.greatest(F.length(c), F.lit(1))


def digit_ratio(c: Column) -> Column:
    return F.length(F.regexp_replace(c, "[^0-9]", "")) / F.greatest(
        F.length(c), F.lit(1)
    )


def stopword_hits(c: Column, lang: str = "en") -> Column:
    """How many tokens are stopwords of ``lang`` (array-fold, JVM-side)."""
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(tokens(F.lower(c)), lambda t: F.array_contains(sw, t)))


def stopword_ratio(c: Column, lang: str = "en") -> Column:
    return stopword_hits(c, lang) / F.greatest(token_count(c), F.lit(1))


def mean_token_len(c: Column) -> Column:
    t = tokens(c)
    total = F.aggregate(t, F.lit(0), lambda acc, x: acc + F.length(x))
    return total / F.greatest(F.size(t), F.lit(1))


def quality_score(c: Column) -> Column:
    """Heuristic [0,1] quality score: favor texts with a reasonable token
    count, mid-range mean token length, some stopwords, few digits.
    Deliberately simple + closed-form so the DuckDB oracle can mirror it."""
    n = token_count(c)
    len_ok = F.when((n >= 10) & (n <= 10000), F.lit(0.4)).otherwise(F.lit(0.0))
    mtl = mean_token_len(c)
    mtl_ok = F.when((mtl >= 3.0) & (mtl <= 10.0), F.lit(0.3)).otherwise(F.lit(0.0))
    sw_ok = F.when(stopword_ratio(c) >= 0.01, F.lit(0.2)).otherwise(F.lit(0.0))
    dig_ok = F.when(digit_ratio(c) <= 0.2, F.lit(0.1)).otherwise(F.lit(0.0))
    return len_ok + mtl_ok + sw_ok + dig_ok


def predict_lang(c: Column) -> Column:
    """Argmax of per-language stopword hit counts; 'und' when all zero.
    Deterministic tie-break: language list order en > es > fr > de."""
    hits = {lang: stopword_hits(c, lang) for lang in STOPWORDS}
    best = F.lit("und")
    best_n = F.lit(0)
    for lang in reversed(list(STOPWORDS)):  # earlier langs win ties
        n = hits[lang]
        cond = n >= F.greatest(best_n, F.lit(1))
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_n = F.when(cond, n).otherwise(best_n)
    return best


def fingerprint_md5(c: Column) -> Column:
    """Content fingerprint: md5 of the normalized text."""
    return F.md5(normalize_text(c))


def fingerprint_rolling(c: Column, base: int = 31, mod: int = 1_000_000_007) -> Column:
    """64-bit-safe polynomial rolling hash over the normalized characters:
    h = Σ h*base + ascii(ch) (mod p). Array-fold, JVM-side."""
    chars = F.split(normalize_text(c), "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * base + F.ascii(ch)) % mod,
    )


# PII-ish scrubbing patterns — deliberately simple so Java regex (Spark)
# and RE2 (DuckDB) agree: no backrefs, no lookaround.
PII_PATTERNS = {
    "email": "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "url": "https?://[^\\s]+",
    "number_long": "[0-9]{7,}",
}


def scrub_pii(c: Column) -> Column:
    """Replace emails, URLs, and long digit runs with typed placeholders —
    the standard pre-training scrub pass, pure regexp_replace chain."""
    out = c
    for tag, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, f"<{tag.upper()}>")
    return out


def pii_counts(c: Column) -> dict[str, Column]:
    return {
        tag: F.size(F.regexp_extract_all(c, F.lit(pat), F.lit(0)))
        for tag, pat in PII_PATTERNS.items()
    }


def vocabulary(
    docs: DataFrame, text_col: str = "text", top_n: int = 100
) -> DataFrame:
    """Corpus vocabulary: token → document frequency + total count, top-N
    by count (tie-break token). The canonical map-side-combinable word
    count; at 100 TB the shuffle carries (token, partial counts) only."""
    tok = docs.select(
        F.explode(tokens(normalize_text(F.col(text_col)))).alias("token"),
        F.col("doc_id"),
    )
    counts = tok.groupBy("token").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    return (
        counts.orderBy(F.col("n_total").desc(), F.col("token"))
        .limit(top_n)
    )


def tf_idf(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 2,
) -> DataFrame:
    """Sparse TF-IDF rows (doc_id, token, tf, df, tfidf) with
    tfidf = tf · ln(N / df). Two map-side-combinable aggregations + one
    broadcast-sized join on the document-frequency table; the classic
    bag-of-words featurizer at corpus scale. Deterministic and
    SQL-mirrorable (ln in double, rounded)."""
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(normalize_text(F.col(text_col)))).alias("token"),
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_tbl = (
        tf.groupBy("token")
        .agg(F.countDistinct("doc_id").alias("df"))
        .where(F.col("df") >= min_df)
    )
    n_docs = docs.agg(F.countDistinct(id_col).alias("n"))
    out = (
        tf.join(F.broadcast(df_tbl), "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            F.round(F.col("tf") * F.log(F.col("n") / F.col("df")), 6).alias("tfidf"),
        )
    )
    return out


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
) -> DataFrame:
    """Okapi BM25 retrieval scores for a fixed bag of query terms —
    the lexical-retrieval twin of `tf_idf` (adds document-length
    normalization), the standard first-stage ranker for RAG / dataset
    curation pipelines.

    score(D) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    with idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)  (Robertson-Sparck
    Jones with the +1 floor, as in Lucene).

    Scale notes: the term filter lands immediately after the explode so
    the per-doc tf aggregate only carries query-term rows (|terms| ≪
    vocab); df and the corpus stats (N, avgdl) are two scalar-sized
    aggregates broadcast into the scoring select; top-k is
    TakeOrderedAndProject. No shuffle ever carries document text."""
    terms = F.array(*[F.lit(t) for t in query_terms])
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        tokens(normalize_text(F.col(text_col))).alias("toks"),
    ).select(
        "doc_id",
        F.size("toks").alias("dl"),
        F.explode("toks").alias("token"),
    )
    matched = toks.where(F.array_contains(terms, F.col("token")))
    tf = matched.groupBy("doc_id", "token", "dl").agg(
        F.count(F.lit(1)).alias("tf")
    )
    df_tbl = matched.groupBy("token").agg(
        F.countDistinct("doc_id").alias("df")
    )
    stats = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            token_count(normalize_text(F.col(text_col))).alias("dl"),
        )
        .agg(
            F.countDistinct("doc_id").alias("n"),
            F.avg("dl").alias("avgdl"),
        )
    )
    idf = F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    norm = F.col("tf") * (k1 + 1) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    )
    return (
        tf.join(F.broadcast(df_tbl), "token")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(idf * norm), 6).alias("bm25"),
            F.count(F.lit(1)).alias("n_matched_terms"),
        )
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(top_k)
    )


def quality_filter(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 20,
    max_digit_ratio: float = 0.2,
    min_mean_token_len: float = 3.0,
) -> DataFrame:
    """Training-data quality gate: keep/drop per doc with the FIRST failing
    reason (deterministic reason priority), the composable filter stage of
    a data pipeline. Pure expressions — the filter pushes to the scan.

    DuckDB mirrors of this rubric: X18_SQL (reason-labeled) and X237_SQL's
    qstats/stage1 (kept-set only) — keep the thresholds in sync."""
    c = F.col(text_col)
    n = token_count(c)
    reason = (
        F.when(n < min_tokens, F.lit("too_few_tokens"))
        .when(digit_ratio(c) > max_digit_ratio, F.lit("too_many_digits"))
        .when(mean_token_len(c) < min_mean_token_len, F.lit("tokens_too_short"))
        .otherwise(F.lit(None))
    )
    return docs.select(
        F.col(id_col),
        reason.isNull().alias("keep"),
        F.coalesce(reason, F.lit("ok")).alias("reason"),
    )


def text_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per doc with the full stat set (rounded for comparability)."""
    c = F.col(text_col)
    return docs.select(
        F.col(id_col),
        F.length(c).alias("n_chars"),
        token_count(c).alias("n_tokens"),
        piece_count(c).alias("n_pieces"),
        F.round(mean_token_len(c), 4).alias("mean_token_len"),
        F.round(punct_ratio(c), 4).alias("punct_ratio"),
        F.round(digit_ratio(c), 4).alias("digit_ratio"),
        F.round(stopword_ratio(c), 4).alias("stopword_ratio"),
        F.round(quality_score(c), 4).alias("quality_score"),
    )


def compression_signal(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    level: int = 6,
) -> DataFrame:
    """zlib compression ratio per document — the cheap low-entropy /
    boilerplate proxy (Gopher-style quality signal family): highly
    repetitive text compresses to a small fraction of its raw length,
    high-entropy prose stays near ~0.5-0.8.

    Arrow-batched ``mapInPandas`` (zlib is not expressible as a built-in
    expression); one scan, no shuffle, output carries ids + scalars only.
    Ratio uses utf-8 byte length as the denominator so multibyte text
    doesn't overshoot 1.0 artificially.
    """
    import zlib

    out_schema = (
        f"{id_col} bigint, n_bytes int, compressed_bytes int, ratio double"
    )

    def score(batches):
        import pandas as pd

        for pdf in batches:
            raw = pdf[text_col].fillna("").map(lambda s: s.encode("utf-8"))
            n_bytes = raw.map(len)
            comp = raw.map(lambda b: len(zlib.compress(b, level)))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_bytes": n_bytes,
                    "compressed_bytes": comp,
                    "ratio": (comp / n_bytes.clip(lower=1)).round(4),
                }
            )

    return docs.select(id_col, text_col).mapInPandas(score, out_schema)


def collocation_pmi(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 5,
) -> DataFrame:
    """Bigram collocation extraction by pointwise mutual information:
    pmi(w1,w2) = ln( p(w1,w2) / (p(w1)·p(w2)) ) over normalized tokens,
    keeping pairs seen at least ``min_count`` times — the classic
    corpus-analysis pass for finding multi-word expressions worth
    protecting from tokenizer splits (Church & Hanks 1990).

    Scale shape (r10): tokens materialize ONCE per doc as an array (the
    two-projection shape — lambda-CSE blindspot, see dedup.word_shingles)
    and bigrams are sliced from it row-locally, so the old window-LEAD
    assembly's corpus-sized (doc, pos, token) exchange+sort is gone —
    the only shuffles left are the map-side-combinable unigram and
    bigram count aggregates, which carry vocab-sized (token, count)
    rows, never documents. The two count-table joins are
    AQE-broadcastable; totals are a broadcast 1-row frame. No LIMIT:
    the ``min_count`` filter bounds the result, so cross-engine
    comparison never depends on double-keyed top-k selection."""
    from .dedup import _fan_out

    base = _fan_out(docs).select(
        tokens(normalize_text(F.col(text_col))).alias("_t")
    )
    t = F.col("_t")
    pair_arr = F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.struct(
                F.element_at(t, i).alias("w1"),
                F.element_at(t, i + 1).alias("w2"),
            ),
        ),
    )
    big = base.select(F.explode(pair_arr).alias("p")).select("p.w1", "p.w2")
    uni = (
        base.select(F.explode(t).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pairc = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    totals = (
        uni.agg(F.sum("c").cast("double").alias("n"))
        .crossJoin(pairc.agg(F.sum("n_pair").cast("double").alias("nb")))
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    return (
        pairc.where(F.col("n_pair") >= min_count)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            "n_pair",
            "c1",
            "c2",
            F.round(
                F.log(
                    (F.col("n_pair").cast("double") / F.col("nb"))
                    / (
                        (F.col("c1").cast("double") / F.col("n"))
                        * (F.col("c2").cast("double") / F.col("n"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )


def unigram_logprob(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
) -> DataFrame:
    """Perplexity-proxy quality score: mean per-token log-probability of
    each document under the corpus's own add-α-smoothed unigram model,
    logp(w) = ln((c_w + α) / (N + α·V)). The cheap stand-in for the
    KenLM-perplexity filter in published pipelines (CCNet, Gopher) —
    fully closed-form, no external model, so it runs JVM-side and is
    SQL-mirrorable. Low scores flag gibberish / rare-token soup; docs
    with zero tokens drop out (no rows to score).

    Scale shape: vocab is a map-side-combinable word count; the
    token→vocab equi join shuffles (token, logp)-sized rows (AQE
    broadcasts the vocab side when small); the per-doc mean is a doc-keyed
    combinable aggregate. Mean rounded to 4 dp so double summation order
    cannot leak into the comparison."""
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(normalize_text(F.col(text_col)))).alias("w"),
    )
    vocab = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    totals = vocab.agg(
        F.sum("c").cast("double").alias("n"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )
    logp = F.log(
        (F.col("c").cast("double") + F.lit(float(alpha)))
        / (F.col("n") + F.lit(float(alpha)) * F.col("v"))
    )
    return (
        tok.join(vocab, "w")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(logp), 4).alias("mean_logprob"),
        )
    )


def repetition_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style intra-document repetition signals, one row per doc with
    ≥1 token: distinct-token ratio, most-frequent-token fraction, and
    duplicate-bigram fraction (the published repetition filters for LLM
    training corpora — Rae et al. 2021 §A1.1, RefinedWeb §3.2).

    All JVM-side and — since r10 — fully ROW-LOCAL over the token array:
    every signal here is a per-document function, so the prior shape's
    two corpus-sized shuffles (the window-LEAD bigram exchange+sort and
    count_distinct's (doc, value) expansion) bought nothing. Tokens
    materialize once per row; bigrams are sliced from the array;
    distinct counts are array_distinct sizes; the top-token count is the
    max run length of the sorted array (identical to the per-(doc,token)
    mode by definition). Zero exchanges at any scale; per-row memory is
    one doc's token array, the same envelope as the text column."""
    from .dedup import _fan_out

    # ≥1-token gate expressed on the RAW column (trim ≠ '' ⇔ tokens()
    # non-empty) so it pushes to the scan instead of forcing the
    # tokenizer into a pushed-down Filter copy
    base = (
        _fan_out(docs)
        .where(F.trim(F.col(text_col)) != "")
        .select(
            F.col(id_col).alias("doc"),
            tokens(F.col(text_col)).alias("_t"),
        )
    )
    t = F.col("_t")
    n_tok = F.size(t)
    # EVERY non-cheap intermediate gets its own projection step: Catalyst
    # substitutes Project aliases into filters it pushes down and into
    # multi-reference consumers only when the alias is cheap
    # (CollapseProject), so leaving these as inline Python expressions
    # re-evaluated the bigram transform 3× per row and re-ran the whole
    # pipeline inside callers' pushed dup_bigram_frac filters — measured
    # 12.6 s vs ~1 s for the filtered join at sf0.1
    staged = base.select(
        "doc",
        "_t",
        F.when(
            n_tok >= 2,
            F.transform(
                F.sequence(F.lit(1), n_tok - 1),
                lambda i: F.concat_ws(" ", F.slice(t, i, 2)),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("_big"),
    )
    # max token multiplicity == longest equal-run in the sorted array
    # (tokens() never emits "", so the "" seed cannot collide)
    run0 = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def _step(acc, tok):
        run = F.when(tok == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            tok.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    top_c = F.aggregate(F.array_sort(t), run0, _step, lambda acc: acc["best"])
    counted = staged.select(
        "doc",
        n_tok.cast("long").alias("n_tokens"),
        F.size(F.array_distinct(t)).alias("_nd"),
        top_c.alias("_top_c"),
        F.size("_big").alias("_nb"),
        F.size(F.array_distinct("_big")).alias("_ndb"),
    )
    # doc is unique, so this single-row-group aggregate changes nothing —
    # it exists as a PUSHDOWN BARRIER: without it, a caller filtering on
    # an output column (prepare_training_data's dup_bigram_frac cutoff)
    # gets the whole interpreted stat expression alias-substituted into a
    # Filter that pushes below _fan_out's exchange, serializing the heavy
    # per-doc work into the single-split scan task (measured 12.6 s vs
    # ~1 s at sf0.1). The exchange it costs carries (doc, 4 ints) — the
    # smallest frame in this operator by orders of magnitude. MAX (not
    # FIRST) so the combine is order-insensitive: doc_id is unique by
    # corpus contract, making the two identical here, but a duplicated
    # id must not turn the output non-deterministic (ADVICE r10).
    counted = counted.groupBy("doc").agg(
        F.max("n_tokens").alias("n_tokens"),
        F.max("_nd").alias("_nd"),
        F.max("_top_c").alias("_top_c"),
        F.max("_nb").alias("_nb"),
        F.max("_ndb").alias("_ndb"),
    )
    n = F.col("n_tokens").cast("double")
    return counted.select(
        F.col("doc").alias(id_col),
        "n_tokens",
        (F.col("_nd") / n).alias("distinct_token_ratio"),
        (F.col("_top_c") / n).alias("top_token_frac"),
        F.when(
            F.col("_nb") > 0,
            1 - F.col("_ndb") / F.col("_nb").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_bigram_frac"),
    )


def inverted_index(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 2,
    max_df_frac: float = 0.9,
) -> DataFrame:
    """Inverted-index build — the retrieval-side ARTIFACT (posting lists)
    that tf_idf/bm25 only consume transiently: per term, document
    frequency, collection frequency, and the doc-id posting list
    (ascending, comma-joined so the artifact is a flat exportable
    column).

    Scale shape: (doc, token) explode → per-(token, doc) tf (map-side
    combinable) → per-token aggregate. The df cap is RELATIVE (the
    standard IR cutoff): terms in more than ``max_df_frac`` of the
    corpus are stopword-class and belong in a bitmap/skip structure,
    not a materialized list; df < min_df terms can't support retrieval.
    The corpus size joins in as a broadcast scalar (no driver action);
    postings carry bigint ids only — text never reaches the index
    shuffle. At 100 TB the string join swaps for a roaring-bitmap
    aggregate, same plan shape."""
    tf = (
        docs.select(
            F.col(id_col).alias("doc"),
            F.explode(tokens(normalize_text(F.col(text_col)))).alias("term"),
        )
        .groupBy("term", "doc")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        tf.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("cf"),
            F.array_join(F.sort_array(F.collect_list("doc")), ",").alias(
                "postings"
            ),
        )
        .crossJoin(F.broadcast(n))
        .where(
            (F.col("df") >= min_df)
            & (F.col("df") <= max_df_frac * F.col("n_docs"))
        )
        .drop("n_docs")
    )


def ndcg_eval(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Retrieval-quality evaluation: NDCG@k of the BM25 ranking per
    single-term query, with graded relevance = term frequency (the
    deterministic judgment a synthetic corpus affords). DCG uses the
    linear-gain form rel/log2(rank+1); IDCG re-ranks by relevance
    itself, so NDCG < 1 exactly where BM25's length normalization
    reorders against raw tf — the metric a curation pipeline watches
    when tuning k1/b.

    One pass: explode → per-(term, doc) tf + dl → two rank windows
    per term (score order, ideal order) → one aggregate. Windows
    partition by term (bounded by |query_terms|); only (term, doc, tf,
    dl) rows ever shuffle."""
    from pyspark.sql import Window

    terms = F.array(*[F.lit(t) for t in query_terms])
    toked = docs.select(
        F.col(id_col).alias("doc"),
        tokens(normalize_text(F.col(text_col))).alias("toks"),
    ).select("doc", F.size("toks").alias("dl"), F.explode("toks").alias("term"))
    tf = (
        toked.where(F.array_contains(terms, F.col("term")))
        .groupBy("term", "doc", "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_tbl = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = docs.select(
        F.col(id_col).alias("doc"),
        token_count(normalize_text(F.col(text_col))).alias("dl"),
    ).agg(F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl"))
    idf = F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    score = idf * F.col("tf") * (k1 + 1) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(df_tbl), "term")
        .crossJoin(F.broadcast(stats))
        .select("term", "doc", F.col("tf").alias("rel"), score.alias("score"))
    )
    w_score = Window.partitionBy("term").orderBy(F.desc("score"), "doc")
    w_ideal = Window.partitionBy("term").orderBy(F.desc("rel"), "doc")
    ranked = scored.select(
        "term",
        "rel",
        F.row_number().over(w_score).alias("rk"),
        F.row_number().over(w_ideal).alias("irk"),
    )
    gain = lambda rank: F.col("rel") / F.log2(rank + F.lit(1.0))
    return (
        ranked.groupBy("term")
        .agg(
            F.sum(F.when(F.col("rk") <= k, gain(F.col("rk"))).otherwise(0)).alias("_dcg"),
            F.sum(F.when(F.col("irk") <= k, gain(F.col("irk"))).otherwise(0)).alias("_idcg"),
            F.count(F.lit(1)).alias("n_candidates"),
        )
        .select(
            "term",
            "n_candidates",
            F.round(F.col("_dcg") / F.col("_idcg"), 6).alias("ndcg"),
        )
    )


def positioned_bigrams(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, w1, w2) token transitions in document order. r10: sliced
    row-locally from the materialized token array (two-projection shape,
    so the tokenizer runs once per doc — the lambda-CSE blindspot only
    bites when the PIPELINE sits inside the lambda) — the old
    posexplode + window LEAD shape shuffled+sorted every token row by
    (doc, pos) first, a corpus-sized exchange the transition multiset
    never needed."""
    from .dedup import _fan_out

    base = _fan_out(docs).select(
        F.col(id_col).alias("doc_id"),
        tokens(normalize_text(F.col(text_col))).alias("_t"),
    )
    t = F.col("_t")
    pair_arr = F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.struct(
                F.element_at(t, i).alias("w1"),
                F.element_at(t, i + 1).alias("w2"),
            ),
        ),
    )
    return base.select("doc_id", F.explode(pair_arr).alias("p")).select(
        "doc_id", "p.w1", "p.w2"
    )


def backoff_bigram_logprob(
    train_docs: DataFrame,
    score_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.4,
) -> DataFrame:
    """Stupid-backoff bigram LM scoring (the KenLM-style quality filter,
    self-contained): bigram/unigram counts learned on ``train_docs``,
    held-out ``score_docs`` scored per token transition as

        seen bigram:   ln( c2(w1,w2) / c1(w1) )
        else backoff:  ln( alpha * (c1(w2) + 1) / (N + V) )

    (add-1-smoothed unigram fallback also covers OOV w2). Returns one row
    per scored doc with >= 1 transition: (doc_id, n_transitions,
    n_backoff, mean_logscore). Training on a DIFFERENT split than the one
    scored is what makes backoff actually fire — a self-scored corpus has
    seen every one of its own bigrams.

    Scale shape: counts are map-side-combinable aggregates keyed by
    (w1,w2)/w; the transition→counts equi joins shuffle token-sized rows
    (AQE broadcasts count sides when small); corpus totals are a 1-row
    broadcast; the per-doc mean is doc-keyed and combinable. Mean rounded
    to 4 dp so double summation order cannot leak cross-engine."""
    t_trans = positioned_bigrams(train_docs, text_col, id_col)
    t_tok = train_docs.select(
        F.explode(tokens(normalize_text(F.col(text_col)))).alias("w")
    )
    uni = t_tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    totals = uni.agg(
        F.sum("c").cast("double").alias("n"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )
    big = t_trans.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))

    s_trans = positioned_bigrams(score_docs, text_col, id_col)
    joined = (
        s_trans.join(big, ["w1", "w2"], "left")
        .join(
            uni.select(F.col("w").alias("w1"), F.col("c").alias("c1")),
            "w1",
            "left",
        )
        .join(
            uni.select(F.col("w").alias("w2"), F.col("c").alias("c1_w2")),
            "w2",
            "left",
        )
        .crossJoin(F.broadcast(totals))
    )
    backoff = F.col("c2").isNull()
    score = F.when(
        ~backoff,
        F.log(F.col("c2").cast("double") / F.col("c1")),
    ).otherwise(
        F.log(
            F.lit(float(alpha))
            * (F.coalesce(F.col("c1_w2"), F.lit(0)).cast("double") + 1.0)
            / (F.col("n") + F.col("v"))
        )
    )
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_transitions"),
            F.count_if(backoff).alias("n_backoff"),
            F.round(F.avg(score), 4).alias("mean_logscore"),
        )
    )


def zipf_fit(
    docs: DataFrame,
    top_n: int = 100,
    min_ranks: int = 10,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Per-group Zipf-law fit: OLS slope/intercept of ln(freq) on ln(rank)
    over the ``top_n`` most frequent normalized tokens — the power-law
    exponent s in freq ∝ rank^(-s). Natural text sits near s ≈ 1; a flat
    slope flags templated/generated text, a steep one flags tiny-vocab
    spam. The corpus-level scan is one tokenize + (group, word) count; the
    fit itself runs on ≤ ``top_n`` rows per group (the window sorts the
    per-group vocabulary, never documents), so the regression input is
    group-count-bounded regardless of corpus size. Ranks tie-break by
    token for engine-independent determinism.
    """
    from pyspark.sql import Window

    tok = docs.select(
        F.col(group_col).alias("grp"),
        F.explode(tokens(normalize_text(F.col(text_col)))).alias("w"),
    )
    freq = tok.groupBy("grp", "w").agg(F.count(F.lit(1)).alias("c"))
    totals = freq.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("c").cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy("grp").orderBy(F.col("c").desc(), F.col("w"))
    ranked = (
        freq.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_n)
        .select(
            "grp",
            F.log(F.col("rank").cast("double")).alias("x"),
            F.log(F.col("c").cast("double")).alias("y"),
        )
    )
    fit = (
        ranked.groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_ranks"),
            (F.covar_pop("x", "y") / F.var_pop("x")).alias("_slope"),
            F.avg("x").alias("_mx"),
            F.avg("y").alias("_my"),
        )
        .where(F.col("n_ranks") >= min_ranks)
    )
    return (
        fit.join(totals, "grp")
        .select(
            F.col("grp").alias(group_col),
            "n_types",
            "n_tokens",
            "n_ranks",
            F.round("_slope", 4).alias("zipf_slope"),
            F.round(F.col("_my") - F.col("_slope") * F.col("_mx"), 4).alias(
                "zipf_intercept"
            ),
        )
    )


# Character alphabet for entropy scoring: letters, digits, space. Fixed
# summation order (this literal order, left-assoc) keeps the float fold
# bit-reproducible across engines.
ENTROPY_ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789 "


def char_entropy(
    docs: DataFrame,
    low_entropy_nats: float = 2.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document character-level Shannon entropy (nats) over the
    37-symbol a-z/0-9/space alphabet — the cheapest garbage detector:
    natural English sits near 2.8-3.0 nats, while repeated-character
    filler, base64-ish noise stripped to few symbols, and template spam
    fall under ~2. Counting is the length-minus-replace trick — 37
    whole-stage-codegen string ops per row, NO explode-per-character (a
    per-char unnest would be |corpus chars| rows; this stays one row per
    document and never shuffles at all). Entropy folds the fixed-order
    count columns, so both engines add the same doubles in the same
    order."""
    low = F.lower(F.col(text_col))
    counts = docs.select(
        id_col,
        *[
            (
                F.length(low) - F.length(F.regexp_replace(low, f"[{ch}]", ""))
                if ch != " "
                else F.length(low) - F.length(F.regexp_replace(low, r"[ ]", ""))
            ).alias(f"_c{i}")
            for i, ch in enumerate(ENTROPY_ALPHABET)
        ],
    )
    cols = [F.col(f"_c{i}") for i in range(len(ENTROPY_ALPHABET))]
    n = sum(cols[1:], cols[0])
    with_n = counts.withColumn("n_alpha", n.cast("long"))
    nd = F.col("n_alpha").cast("double")
    term = lambda c: F.when(  # noqa: E731 — local fold step
        c > 0, -(c.cast("double") / nd) * F.log(c.cast("double") / nd)
    ).otherwise(F.lit(0.0))
    ent = sum((term(c) for c in cols[1:]), term(cols[0]))
    entropy = F.when(F.col("n_alpha") > 0, F.round(ent, 6)).otherwise(
        F.lit(0.0)
    )
    return with_n.select(
        id_col,
        "n_alpha",
        entropy.alias("char_entropy"),
        (
            (F.col("n_alpha") == 0)
            | (entropy < F.lit(float(low_entropy_nats)))
        ).alias("is_low_entropy"),
    )


def langid_eval(
    docs: DataFrame, text_col: str = "text", lang_col: str = "lang"
) -> DataFrame:
    """Language-ID classifier evaluation against the declared label:
    per language value (union of declared labels and predictions, so
    'und' rows when the heuristic abstains), the support, prediction
    count, hits, and precision/recall/F1 — the audit that says whether
    the x10 heuristic is trustworthy enough to route filtering by it.

    Scale shape: one groupBy over documents produces the (declared,
    predicted) confusion cells — at most |langs|^2 rows; every marginal,
    diagonal, and metric derives from those cells, so nothing row-sized
    survives the first aggregate. Zero-denominator metrics are pinned to
    0.0 (not NULL) so downstream sorts are total."""
    cells = docs.groupBy(
        F.col(lang_col).alias("declared"),
        predict_lang(F.col(text_col)).alias("predicted"),
    ).agg(F.count(F.lit(1)).alias("n"))
    declared = cells.groupBy(F.col("declared").alias("lang")).agg(
        F.sum("n").cast("long").alias("n_declared")
    )
    predicted = cells.groupBy(F.col("predicted").alias("lang")).agg(
        F.sum("n").cast("long").alias("n_predicted")
    )
    correct = (
        cells.where(F.col("declared") == F.col("predicted"))
        .groupBy(F.col("declared").alias("lang"))
        .agg(F.sum("n").cast("long").alias("n_correct"))
    )
    base = (
        declared.join(predicted, "lang", "full")
        .join(correct, "lang", "left")
        .fillna(0, ["n_declared", "n_predicted", "n_correct"])
    )
    prec = F.when(
        F.col("n_predicted") > 0,
        F.col("n_correct").cast("double") / F.col("n_predicted"),
    ).otherwise(F.lit(0.0))
    rec = F.when(
        F.col("n_declared") > 0,
        F.col("n_correct").cast("double") / F.col("n_declared"),
    ).otherwise(F.lit(0.0))
    f1 = F.when(
        prec + rec > 0, 2.0 * prec * rec / (prec + rec)
    ).otherwise(F.lit(0.0))
    return base.select(
        "lang",
        "n_declared",
        "n_predicted",
        "n_correct",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )


def lf_agreement(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Weak-supervision audit: pairwise agreement matrix of the four
    quality labeling functions (length-ok, mean-token-length-ok,
    stopword-ok, digit-ok — the quality_score components treated as
    independent binary voters, the Snorkel label-model input). One row
    per unordered LF pair: co-fire/agree/conflict counts and rates —
    the diagnostic that says which heuristics are redundant and which
    genuinely disagree before anyone trains a label model on them.

    Scale shape: the four votes are row-local expressions folded by ONE
    global aggregate (10 sums, map-side combinable); the 6-pair matrix
    is a constant-width stack of that 1-row result. No shuffle carries
    documents."""
    t = F.col(text_col)
    n = token_count(t)
    mtl = mean_token_len(t)
    votes = docs.select(
        F.when((n >= 10) & (n <= 10000), 1).otherwise(0).alias("lf_len"),
        F.when((mtl >= 3.0) & (mtl <= 10.0), 1).otherwise(0).alias("lf_mtl"),
        F.when(stopword_ratio(t) >= 0.01, 1).otherwise(0).alias("lf_stop"),
        F.when(digit_ratio(t) <= 0.2, 1).otherwise(0).alias("lf_digit"),
    )
    names = ["lf_len", "lf_mtl", "lf_stop", "lf_digit"]
    aggs = [F.count(F.lit(1)).cast("long").alias("n_docs")]
    pairs = []
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            pairs.append((a, b))
            aggs.append(
                F.sum(F.when(F.col(a) == F.col(b), 1).otherwise(0))
                .cast("long")
                .alias(f"agree_{a}_{b}")
            )
            aggs.append(
                F.sum(F.when((F.col(a) == 1) & (F.col(b) == 1), 1).otherwise(0))
                .cast("long")
                .alias(f"both_{a}_{b}")
            )
    agg = votes.agg(*aggs)
    stack_args = []
    for a, b in pairs:
        stack_args += [
            F.lit(a),
            F.lit(b),
            F.col(f"agree_{a}_{b}"),
            F.col(f"both_{a}_{b}"),
        ]
    return agg.select(
        "n_docs",
        F.expr(
            "stack({}, {})".format(
                len(pairs),
                ", ".join(
                    f"'{a}', '{b}', agree_{a}_{b}, both_{a}_{b}"
                    for a, b in pairs
                ),
            )
        ).alias("lf_a", "lf_b", "n_agree", "n_both_fire"),
    ).select(
        "lf_a",
        "lf_b",
        "n_agree",
        (F.col("n_docs") - F.col("n_agree")).cast("long").alias("n_conflict"),
        "n_both_fire",
        F.round(F.col("n_agree").cast("double") / F.col("n_docs"), 6).alias(
            "agree_rate"
        ),
    )


def readability(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Flesch reading-ease per document, from three closed-form counts:
    words (whitespace tokens), sentences ([.!?]+ runs, min 1), and
    syllables ([aeiouy]+ vowel groups in the lowercased text, min 1 —
    the standard regex approximation). flesch = 206.835 - 1.015 * w/s -
    84.6 * syl/w, rounded to 4 dp; is_easy flags >= 60 (plain-English
    band). Everything is one codegen'd row-local pass — three regexp
    counters, no explode, no shuffle."""
    t = F.col(text_col)
    n_words = F.greatest(token_count(t), F.lit(1))
    n_sent = F.greatest(F.regexp_count(t, F.lit(r"[.!?]+")), F.lit(1))
    n_syl = F.greatest(
        F.regexp_count(F.lower(t), F.lit(r"[aeiouy]+")), F.lit(1)
    )
    flesch = F.round(
        F.lit(206.835)
        - F.lit(1.015) * (n_words.cast("double") / n_sent)
        - F.lit(84.6) * (n_syl.cast("double") / n_words),
        4,
    )
    return docs.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        n_sent.cast("long").alias("n_sentences"),
        n_syl.cast("long").alias("n_syllables"),
        flesch.alias("flesch"),
        (flesch >= 60.0).alias("is_easy"),
    )


def vocab_richness(
    docs: DataFrame, text_col: str = "text", group_col: str = "source"
) -> DataFrame:
    """Per-source lexical-richness profile: token volume, distinct
    vocabulary size, type-token ratio, and hapax-legomena share (types
    seen exactly once) — the cheap template/generated-text detector that
    complements x94's Zipf slope (templated sources have low TTR and a
    thin hapax tail).

    Scale shape: one explode over lowered tokens feeds a (source, token)
    count — map-side combinable, the shuffle carries vocab-sized cells,
    never documents; the per-source rollup then runs on those cells."""
    cells = (
        docs.select(
            F.col(group_col).alias("source"),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("token"),
        )
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return cells.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_hapax"),
        F.round(
            F.count(F.lit(1)).cast("double") / F.sum("cnt"), 6
        ).alias("ttr"),
        F.round(
            F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("hapax_ratio"),
    )


def keyness_terms(
    docs: DataFrame,
    top_k: int = 10,
    text_col: str = "text",
    group_col: str = "lang",
) -> DataFrame:
    """Distinctive-term extraction (corpus-linguistics keyness): for
    every group (default: language), the ``top_k`` tokens whose add-1
    smoothed within-group rate most exceeds their rest-of-corpus rate,
    scored by the log ratio — what actually characterizes each slice,
    beyond raw frequency (x19's TF-IDF is per-doc; this is per-group).

    Scale shape: (group, token) counts collapse map-side; group totals
    (G rows) and the (N, V) corpus totals broadcast back; the per-token
    rest-rate join is co-keyed on token (vocab-sized both sides). The
    per-group top-k runs two-phase — a partition-local rank prefilter
    keeps <= k x P rows per group before the global rank — so a giant
    group's vocabulary never funnels through one task unbounded."""
    cells = (
        docs.select(
            F.col(group_col).alias("grp"),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("token"),
        )
        .groupBy("grp", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    grp_tot = cells.groupBy("grp").agg(F.sum("c").cast("long").alias("n_g"))
    tok_tot = cells.groupBy("token").agg(F.sum("c").cast("long").alias("n_t"))
    corpus = cells.agg(
        F.sum("c").cast("long").alias("n_all"),
        F.countDistinct("token").cast("long").alias("v"),
    )
    rate_in = (F.col("c") + 1).cast("double") / (F.col("n_g") + F.col("v"))
    rate_out = (F.col("n_t") - F.col("c") + 1).cast("double") / (
        F.col("n_all") - F.col("n_g") + F.col("v")
    )
    scored = (
        cells.join(F.broadcast(grp_tot), "grp")
        .join(tok_tot, "token")
        .crossJoin(F.broadcast(corpus))
        .select(
            "grp",
            "token",
            "c",
            F.round(F.log(rate_in / rate_out), 6).alias("keyness"),
        )
    )
    from pyspark.sql import Window

    w_local = Window.partitionBy("grp", "_p").orderBy(
        F.desc("keyness"), "token"
    )
    w_global = Window.partitionBy("grp").orderBy(F.desc("keyness"), "token")
    return (
        scored.withColumn("_p", F.spark_partition_id())
        .withColumn("_rl", F.row_number().over(w_local))
        .where(F.col("_rl") <= top_k)
        .drop("_rl", "_p")
        .withColumn("rank", F.row_number().over(w_global))
        .where(F.col("rank") <= top_k)
        .select(
            F.col("grp").alias(group_col),
            F.col("rank").cast("long").alias("rank"),
            "token",
            F.col("c").alias("n_in_group"),
            "keyness",
        )
    )


def code_switch_profile(
    docs: DataFrame,
    min_chars: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Code-switching detector: segment each document at [.!?]+
    boundaries, language-ID every sentence with the x10 heuristic, and
    report the per-doc language mix — sentence count, distinct predicted
    languages, the dominant language and its share, and an is_mixed
    flag. Doc-level language labels hide mixed documents; multilingual
    pipelines route or split them, and this is the audit that finds
    them. Docs whose sentences all fall under ``min_chars`` emit no row.

    Scale shape: the sentence explode collapses to (doc, predicted)
    cells map-side (the x128 cell discipline); the dominant-language
    argmax is a per-doc window over those tiny cells; text never
    shuffles."""
    sent = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.filter(
                F.transform(
                    F.split(F.col(text_col), r"[.!?]+"), lambda s: F.trim(s)
                ),
                lambda s: F.length(s) >= min_chars,
            )
        ).alias("sentence"),
    )
    cells = sent.groupBy(
        "doc", predict_lang(F.col("sentence")).alias("pred")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    from pyspark.sql import Window

    w = Window.partitionBy("doc").orderBy(F.desc("n"), "pred")
    ranked = cells.select(
        "doc", "pred", "n", F.row_number().over(w).alias("rn")
    )
    per_doc = ranked.groupBy("doc").agg(
        F.sum("n").cast("long").alias("n_sentences"),
        F.count(F.lit(1)).cast("long").alias("n_langs"),
        F.min(F.when(F.col("rn") == 1, F.col("pred"))).alias("dominant_lang"),
        F.min(F.when(F.col("rn") == 1, F.col("n"))).alias("dominant_n"),
    )
    return per_doc.select(
        F.col("doc").alias(id_col),
        "n_sentences",
        "n_langs",
        "dominant_lang",
        F.round(
            F.col("dominant_n").cast("double") / F.col("n_sentences"), 6
        ).alias("dominant_share"),
        (F.col("n_langs") >= 2).alias("is_mixed"),
    )


def lm_score_deciles(
    train_docs: DataFrame,
    score_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.4,
) -> DataFrame:
    """Perplexity-filtering report: decile the held-out docs by their
    stupid-backoff LM score (:func:`backoff_bigram_logprob`) and
    summarize each band — doc count, mean logscore, mean backoff share,
    transition volume. This is the artifact a curation pipeline
    publishes before picking the keep-threshold for perplexity
    filtering (CCNet-style: low-score bands are the candidates to
    drop). Decile 10 = highest (most-fluent) scores.

    Scale shape: per-doc scores ride the y1 pipeline; the 9 decile
    edges are ONE exact-percentile 1-row aggregate broadcast back; the
    band rollup is a 10-cell aggregate. Edges compare against 4
    dp-rounded scores with > (ties sink), so banding is engine-stable."""
    scored = backoff_bigram_logprob(
        train_docs, score_docs, text_col, id_col, alpha
    )
    edges = scored.agg(
        F.percentile(
            F.col("mean_logscore"),
            F.lit([i / 10.0 for i in range(1, 10)]),
        ).alias("edges")
    )
    banded = scored.crossJoin(F.broadcast(edges)).select(
        "n_transitions",
        "n_backoff",
        "mean_logscore",
        (
            1
            + F.aggregate(
                F.col("edges"),
                F.lit(0),
                lambda acc, e: acc
                + F.when(F.col("mean_logscore") > e, 1).otherwise(0),
            )
        ).alias("decile"),
    )
    return banded.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.avg("mean_logscore"), 4).alias("mean_logscore"),
        F.round(
            F.avg(
                F.col("n_backoff").cast("double") / F.col("n_transitions")
            ),
            6,
        ).alias("mean_backoff_share"),
        F.sum("n_transitions").cast("long").alias("n_transitions"),
    )


def truncation_loss(
    docs: DataFrame,
    max_tokens: int = 512,
    band_width: int = 256,
    text_col: str = "text",
) -> DataFrame:
    """Context-window truncation loss audit: if every document trains
    truncated at ``max_tokens``, how many tokens does each doc-length
    band lose? One row per ``band_width``-token length band: doc count,
    total tokens, tokens beyond the window, and the band's loss share —
    the table that decides between truncation and chunking (x21) for a
    corpus, and sizes the waste before anyone burns compute on it.

    Scale shape: token counts are row-local (size of the tokenizer
    split — the corpus is never exploded); bands collapse to
    |max_len / band_width| cells in one map-side-combinable aggregate.
    Integer token arithmetic end-to-end; only shares round (6 dp)."""
    n = F.size(tokens(normalize_text(F.col(text_col))))
    cells = (
        docs.select(
            n.alias("n_tokens"),
            F.floor(n / band_width).cast("long").alias("band"),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum(
                F.greatest(F.col("n_tokens") - max_tokens, F.lit(0))
            )
            .cast("long")
            .alias("lost_tokens"),
        )
    )
    return cells.select(
        "band",
        (F.col("band") * band_width).alias("band_lo"),
        ((F.col("band") + 1) * band_width - 1).alias("band_hi"),
        "n_docs",
        "total_tokens",
        "lost_tokens",
        F.round(
            F.col("lost_tokens").cast("double") / F.col("total_tokens"), 6
        ).alias("loss_share"),
    )


def heaps_law(
    docs: DataFrame,
    n_buckets: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Heaps'-law vocabulary growth fit: V(n) ~ K * n^beta, estimated
    from ``n_buckets`` deterministic md5 prefixes of the corpus (the
    content-addressed stand-in for ingestion order). One row per
    prefix: cumulative tokens, cumulative distinct types, plus the
    corpus-level (beta, K) from population OLS of ln V on ln n — the
    curve that predicts how much NEW vocabulary the next 10x of data
    buys (and whether a tokenizer's vocab budget will saturate).

    The scale trick: cumulative DISTINCT types never re-scan prefixes —
    each type contributes one (type, min_bucket) row, so prefix k's
    vocabulary is the count of types with min_bucket <= k: one
    corpus-sized aggregate, then |buckets|-row folds.

    Scale shape: token explode -> two keyed aggregates (bucket cells,
    type min-bucket); the cumulative/prefix math runs on the 10-row
    cell frame (sanctioned tiny window); the OLS is a 1-row regr_*
    aggregate broadcast back."""
    from pyspark.sql import Window

    hx = F.md5(F.col(id_col).cast("string"))
    bucket = (
        (F.ascii(F.substring(hx, 1, 1)) * 256 + F.ascii(F.substring(hx, 2, 1)))
        % n_buckets
    )
    tok = docs.select(
        bucket.alias("b"),
        F.explode(tokens(normalize_text(F.col(text_col)))).alias("t"),
    )
    per_bucket = tok.groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("n_tok")
    )
    new_types = (
        tok.groupBy("t")
        .agg(F.min("b").alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_new"))
    )
    cells = per_bucket.join(new_types, "b", "full").select(
        "b",
        F.coalesce("n_tok", F.lit(0)).alias("n_tok"),
        F.coalesce("n_new", F.lit(0)).alias("n_new"),
    )
    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    pts = cells.select(
        (F.col("b") + 1).alias("k"),
        F.sum("n_tok").over(w).cast("long").alias("cum_tokens"),
        F.sum("n_new").over(w).cast("long").alias("cum_types"),
    ).where(F.col("cum_tokens") > 0)
    fit = pts.agg(
        (
            F.round(
                F.regr_slope(F.log("cum_types"), F.log("cum_tokens")), 6
            )
            + F.lit(0.0)  # normalize -0.0 (saturated-vocab fits)
        ).alias("beta"),
        F.round(
            F.exp(
                F.regr_intercept(F.log("cum_types"), F.log("cum_tokens"))
            ),
            4,
        ).alias("heaps_k"),
    )
    return pts.crossJoin(F.broadcast(fit)).select(
        "k", "cum_tokens", "cum_types", "beta", "heaps_k"
    )


def filter_agreement(
    docs: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Quality-filter agreement matrix: how correlated are the corpus
    filters actually being run? Each x18 rejection reason becomes an
    independent row-local flag (too-short, digit-heavy, short-words),
    and every unordered filter pair reports its reject counts, overlap,
    and Jaccard — near-1 pairs are redundant (drop one), near-0 pairs
    are orthogonal (both earn their compute). The meta-audit a curation
    pipeline runs before adding filter #7.

    Scale shape: the flags are row-local expressions folded by ONE
    global aggregate (map-side combined, 6 conditional sums); the
    matrix is a constant-width stack of that 1-row frame."""
    c = F.col(text_col)
    a = token_count(c) < 20
    b = digit_ratio(c) > 0.2
    d = mean_token_len(c) < 3.0
    flags = docs.select(
        a.cast("long").alias("fa"),
        b.cast("long").alias("fb"),
        d.cast("long").alias("fd"),
    )
    one = flags.agg(
        F.sum("fa").cast("long").alias("na"),
        F.sum("fb").cast("long").alias("nb"),
        F.sum("fd").cast("long").alias("nd"),
        F.sum(F.col("fa") * F.col("fb")).cast("long").alias("nab"),
        F.sum(F.col("fa") * F.col("fd")).cast("long").alias("nad"),
        F.sum(F.col("fb") * F.col("fd")).cast("long").alias("nbd"),
    )
    stacked = one.selectExpr(
        "stack(3, "
        "'too_few_tokens', 'too_many_digits', na, nb, nab, "
        "'too_few_tokens', 'tokens_too_short', na, nd, nad, "
        "'too_many_digits', 'tokens_too_short', nb, nd, nbd"
        ") as (filter_a, filter_b, n_a, n_b, n_both)"
    )
    either = F.col("n_a") + F.col("n_b") - F.col("n_both")
    return stacked.select(
        "filter_a",
        "filter_b",
        "n_a",
        "n_b",
        "n_both",
        F.when(either > 0, F.round(F.col("n_both") / either.cast("double"), 6))
        .otherwise(F.lit(0.0))
        .alias("jaccard"),
    )


def vocab_coverage_by_lang(
    train_docs: DataFrame,
    heldout_docs: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Vocabulary coverage fairness audit: per language of the held-out
    split, what share of token OCCURRENCES and of distinct TYPES fall
    outside the training vocabulary — the fast screen for "this
    language's text will be mostly <unk> under the frozen vocab" that
    complements x139's fertility view (fertility measures splitting
    cost; this measures outright misses).

    Scale shape: the train vocab is a distinct-word aggregate; the
    held-out stream joins it word-keyed (left, null = OOV); token
    shares fold per language; type shares fold on the distinct
    (lang, word) frame. Integer counts, shares at 6 dp."""
    vocab = (
        train_docs.select(
            F.explode(tokens(normalize_text(F.col(text_col)))).alias("word")
        )
        .distinct()
        .select("word", F.lit(1).alias("in_vocab"))
    )
    held = heldout_docs.select(
        F.col(lang_col).alias("lang"),
        F.explode(tokens(normalize_text(F.col(text_col)))).alias("word"),
    ).join(vocab, "word", "left")
    tok = held.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("oov_tokens"),
    )
    typ = (
        held.select("lang", "word", "in_vocab")
        .distinct()
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("oov_types"),
        )
    )
    return tok.join(typ, "lang").select(
        "lang",
        "n_tokens",
        "oov_tokens",
        F.round(
            F.col("oov_tokens").cast("double") / F.col("n_tokens"), 6
        ).alias("oov_token_share"),
        "n_types",
        "oov_types",
        F.round(
            F.col("oov_types").cast("double") / F.col("n_types"), 6
        ).alias("oov_type_share"),
    )


def vocab_budget_curve(
    docs: DataFrame,
    targets: tuple[int, ...] = (100, 1000, 5000, 10000),
    text_col: str = "text",
) -> DataFrame:
    """Vocabulary budget sizing: if the tokenizer keeps only the top-K
    types by frequency, what share of token OCCURRENCES stays covered?
    One row per target K: the effective cutoff (block-aligned on count
    ties, so the answer is deterministic — whole frequency blocks in or
    out, never an arbitrary tie split) and the coverage share. The
    companion to x157's Heaps fit: Heaps says how fast vocabulary
    grows; this says what a fixed budget buys.

    Scale shape: the corpus folds to (type, count) once, then to a
    COUNT-VALUE histogram (|distinct counts| rows — thousands at most,
    Zipf guarantees it); the cumulative walk runs on that tiny frame
    (sanctioned window); targets attach by a broadcast literal frame
    and a min_by per target."""
    vocab = docs.select(
        F.explode(tokens(normalize_text(F.col(text_col)))).alias("t")
    ).groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    hist = vocab.groupBy("c").agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        (F.col("c") * F.count(F.lit(1))).cast("long").alias("n_tokens"),
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("c")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = hist.select(
        F.sum("n_types").over(w).cast("long").alias("cum_types"),
        F.sum("n_tokens").over(w).cast("long").alias("cum_tokens"),
    )
    tot = vocab.agg(F.sum("c").cast("double").alias("total_tokens"))
    tgt = docs.sparkSession.createDataFrame(
        [(int(k),) for k in targets], "target_k long"
    )
    hits = cum.crossJoin(F.broadcast(tgt)).where(
        F.col("cum_types") >= F.col("target_k")
    )
    best = hits.groupBy("target_k").agg(
        F.min("cum_types").cast("long").alias("k_eff")
    )
    return (
        best.join(
            cum.select(
                F.col("cum_types").alias("k_eff"),
                "cum_tokens",
            ).distinct(),
            "k_eff",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "target_k",
            "k_eff",
            F.round(
                F.col("cum_tokens").cast("double") / F.col("total_tokens"), 6
            ).alias("coverage"),
        )
    )


def quality_outliers(
    docs: DataFrame,
    top_k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Multivariate quality-outlier screening: z-score each document on
    four row-local style features (token count, digit ratio, mean token
    length, punctuation ratio) against the corpus moments and rank by
    the summed squared z — the docs that are weird on SEVERAL axes at
    once, which single-feature filters (x18) each let through. Top
    ``top_k`` by score.

    Determinism: features are exact rationals; corpus moments are one
    1-row aggregate broadcast back; the score rounds at 6 dp BEFORE the
    ordering (with an id tie-break), so a last-ulp moment wobble cannot
    reorder the boundary.

    Scale shape: row-local features -> 1-row moments -> broadcast ->
    TakeOrdered."""
    c = F.col(text_col)
    feats = docs.select(
        F.col(id_col).alias("doc_id"),
        token_count(c).cast("double").alias("f1"),
        digit_ratio(c).alias("f2"),
        mean_token_len(c).alias("f3"),
        punct_ratio(c).alias("f4"),
    )
    moments = feats.agg(
        *[
            x
            for i in (1, 2, 3, 4)
            for x in (
                F.avg(f"f{i}").alias(f"m{i}"),
                F.stddev_pop(f"f{i}").alias(f"s{i}"),
            )
        ]
    )
    z = [
        F.when(
            F.col(f"s{i}") > 0,
            (F.col(f"f{i}") - F.col(f"m{i}")) / F.col(f"s{i}"),
        ).otherwise(F.lit(0.0))
        for i in (1, 2, 3, 4)
    ]
    score = sum(zi * zi for zi in z)
    return (
        feats.crossJoin(F.broadcast(moments))
        .select(
            "doc_id",
            F.col("f1").cast("long").alias("n_tokens"),
            F.round("f2", 6).alias("digit_ratio"),
            F.round("f3", 6).alias("mean_token_len"),
            F.round("f4", 6).alias("punct_ratio"),
            F.round(score, 6).alias("outlier_score"),
        )
        .orderBy(F.desc("outlier_score"), "doc_id")
        .limit(top_k)
    )


def pii_cooccurrence(
    docs: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """PII linkability audit: how many PII TYPES co-occur per document —
    one email is contact info, but an email AND a long number in the
    same doc is a linkable identity (re-identification risk grows with
    joint presence, which per-type counts like x16's can't see). One
    row per distinct type-count 0..3: docs, share, and per-type
    presence counts within the band.

    Scale shape: row-local regex presence flags -> a <=4-cell histogram
    + broadcast 1-row total. Integer flags; shares at 6 dp."""
    c = F.col(text_col)
    flags = docs.select(
        *[
            (
                F.size(F.regexp_extract_all(c, F.lit(pat), F.lit(0))) > 0
            ).cast("long").alias(f"has_{tag}")
            for tag, pat in PII_PATTERNS.items()
        ]
    )
    names = [f"has_{tag}" for tag in PII_PATTERNS]
    n_types = sum(F.col(n) for n in names)
    cells = flags.select(
        n_types.alias("n_pii_types"), *names
    ).groupBy("n_pii_types").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        *[F.sum(n).cast("long").alias(f"n_{n[4:]}") for n in names],
    )
    tot = cells.agg(F.sum("n_docs").cast("double").alias("total"))
    return cells.crossJoin(F.broadcast(tot)).select(
        "n_pii_types",
        "n_docs",
        F.round(F.col("n_docs") / F.col("total"), 6).alias("share"),
        *[f"n_{n[4:]}" for n in names],
    )


def quality_by_length(
    docs: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Quality-vs-length profile: bin documents into token-count
    DECILES (exact corpus percentile edges) and report each bin's
    quality-score quartiles — the curve that shows whether a length
    filter and a quality filter are secretly the same filter (strong
    monotone trend) or independent signals (flat).

    Scale shape: token counts and quality scores are row-local; the 9
    decile edges are ONE 1-row exact-percentile aggregate broadcast
    back; the rollup is 10 cells with exact-percentile quartiles of
    the 2 dp-rounded score."""
    c = F.col(text_col)
    feats = docs.select(
        token_count(c).cast("double").alias("n_tok"),
        F.round(quality_score(c), 2).alias("q"),
    )
    edges = feats.agg(
        F.percentile(
            F.col("n_tok"), F.lit([i / 10.0 for i in range(1, 10)])
        ).alias("e")
    )
    banded = feats.crossJoin(F.broadcast(edges)).select(
        (
            1
            + F.aggregate(
                F.col("e"),
                F.lit(0),
                lambda acc, x: acc + F.when(F.col("n_tok") > x, 1).otherwise(0),
            )
        ).alias("length_decile"),
        "n_tok",
        "q",
    )
    return banded.groupBy("length_decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.avg("n_tok"), 2).alias("mean_tokens"),
        F.round(F.percentile("q", F.lit(0.25)), 4).alias("q25_quality"),
        F.round(F.percentile("q", F.lit(0.5)), 4).alias("p50_quality"),
        F.round(F.percentile("q", F.lit(0.75)), 4).alias("q75_quality"),
    )


def source_jsd(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between the unigram
    distributions of every source pair (add-1 smoothed over the union
    vocabulary) — the distributional source-similarity matrix: x99
    measures document overlap, this measures LANGUAGE overlap (two
    crawls can share zero documents and still be distributionally
    identical). One row per unordered pair: (source_a, source_b,
    jsd_nats) in [0, ln 2].

    Scale shape: one (source, word) count aggregate; the zero cells a
    sparse join would miss materialize via vocab x sources (|V| x G
    rows — G is small); the pair join is word-keyed; the fold is
    G^2/2 cells. Terms where both sides are absent contribute exactly
    0 and the dense fill preserves that identity."""
    tok = docs.select(
        F.col(source_col).alias("s"),
        F.explode(tokens(normalize_text(F.col(text_col)))).alias("w"),
    )
    counts = tok.groupBy("s", "w").agg(F.count(F.lit(1)).alias("c"))
    vocab = counts.select("w").distinct()
    sources = counts.select("s").distinct()
    v_tot = vocab.agg(F.count(F.lit(1)).cast("double").alias("v"))
    n_tot = counts.groupBy("s").agg(F.sum("c").cast("double").alias("n_s"))
    dense = (
        vocab.crossJoin(F.broadcast(sources))
        .join(counts, ["s", "w"], "left")
        .join(F.broadcast(n_tot), "s")
        .crossJoin(F.broadcast(v_tot))
        .select(
            "s",
            "w",
            (
                (F.coalesce(F.col("c"), F.lit(0)) + 1.0)
                / (F.col("n_s") + F.col("v"))
            ).alias("p"),
        )
    )
    a = dense.alias("a")
    b = dense.alias("b")
    m = (F.col("a.p") + F.col("b.p")) / 2.0
    term = 0.5 * F.col("a.p") * F.log(F.col("a.p") / m) + 0.5 * F.col(
        "b.p"
    ) * F.log(F.col("b.p") / m)
    return (
        a.join(b, F.col("a.w") == F.col("b.w"))
        .where(F.col("a.s") < F.col("b.s"))
        .groupBy(
            F.col("a.s").alias("source_a"), F.col("b.s").alias("source_b")
        )
        .agg(F.round(F.sum(term), 6).alias("jsd_nats"))
    )


def vocab_estimate(
    docs: DataFrame, text_col: str = "text", group_col: str = "source"
) -> DataFrame:
    """Unseen-vocabulary estimation per source: Good-Turing sample
    coverage (1 - singletons/tokens) and the bias-corrected Chao1
    richness estimate V + n1(n1-1)/(2(n2+1)) — x115 reports the
    vocabulary we SAW; this estimates how much vocabulary the source
    still hides, the coverage planning number for tokenizer training
    and corpus-growth decisions.

    Determinism: everything derives from exact integer frequency
    spectra (n1 = types seen once, n2 = twice); the two estimates are
    closed-form rationals rounded at 6 dp.

    Scale shape: one explode feeds the (source, token) count cells
    (map-side combinable, vocab-sized shuffle — text never shuffles);
    the frequency spectrum and estimates are a G-row rollup."""
    cells = (
        docs.select(
            F.col(group_col).alias("source"),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("token"),
        )
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    agg = cells.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("cnt") == 2, 1).otherwise(0)).cast("long").alias("n2"),
    )
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    chao1 = F.col("n_types").cast("double") + n1 * (n1 - 1.0) / (
        2.0 * (n2 + 1.0)
    )
    return agg.select(
        "source",
        "n_tokens",
        "n_types",
        "n1",
        "n2",
        F.round(1.0 - n1 / F.col("n_tokens").cast("double"), 6).alias(
            "gt_coverage"
        ),
        F.round(chao1, 6).alias("chao1"),
        F.round(chao1 - F.col("n_types").cast("double"), 6).alias(
            "est_unseen"
        ),
    ).orderBy("source")


def novelty_position(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Lead-bias audit: where inside documents new vocabulary is
    introduced. Each (doc, type) pair is credited to the position
    decile of the type's FIRST occurrence; uniform-ish mass says
    ideas keep arriving, a front-loaded profile says documents are
    summaries-plus-padding (truncation at x152's window costs little),
    a flat-then-spike tail flags appended boilerplate.

    Determinism: positions, deciles and counts are pure integers; the
    two shares fold over the 10-cell frame with a broadcast 1-row
    total and an ordered cumulative window.

    Scale shape: one posexplode feeds a (doc, token) min-position
    aggregate (map-side combinable, vocab-sized per doc); deciles
    collapse to 10 cells."""
    toked = docs.select(
        F.col("doc_id"),
        F.posexplode(tokens(F.lower(F.col(text_col)))).alias("pos", "token"),
        F.size(tokens(F.lower(F.col(text_col)))).alias("n"),
    ).where(F.col("n") > 0)
    firsts = toked.groupBy("doc_id", "token").agg(
        F.min("pos").cast("long").alias("off"),
        F.min("n").cast("long").alias("n"),
    )
    binned = firsts.select(
        F.least(
            F.floor(F.col("off") * 10 / F.col("n")), F.lit(9)
        ).cast("long").alias("decile")
    )
    cells = binned.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_types_introduced")
    )
    tot = cells.agg(
        F.sum("n_types_introduced").cast("double").alias("total")
    )
    cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_types_introduced",
            F.round(F.col("n_types_introduced") / F.col("total"), 6).alias(
                "share"
            ),
            F.round(
                F.sum("n_types_introduced").over(cum) / F.col("total"), 6
            ).alias("cum_share"),
        )
        .orderBy("decile")
    )


def langid_kappa(
    docs: DataFrame, text_col: str = "text", lang_col: str = "lang"
) -> DataFrame:
    """Cohen's kappa for the langid heuristic against declared labels
    — the chance-corrected single number over x102's confusion matrix
    (raw accuracy flatters any classifier on a skewed language mix;
    kappa subtracts what label-marginal guessing would score).

    Determinism: observed and expected agreement are exact integer
    rationals off the |langs|^2 confusion cells and their margins;
    kappa is closed form, 6 dp; degenerate pe = 1 yields NULL.

    Scale shape: one confusion-cell aggregate, lang-sized margins
    joined full-outer, one 1-row fold."""
    cells = docs.groupBy(
        F.col(lang_col).alias("declared"),
        predict_lang(F.col(text_col)).alias("predicted"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    decl = cells.groupBy(F.col("declared").alias("lang")).agg(
        F.sum("n").cast("long").alias("n_d")
    )
    pred = cells.groupBy(F.col("predicted").alias("lang")).agg(
        F.sum("n").cast("long").alias("n_p")
    )
    margins = decl.join(pred, "lang", "full").select(
        "lang",
        F.coalesce("n_d", F.lit(0)).cast("long").alias("n_d"),
        F.coalesce("n_p", F.lit(0)).cast("long").alias("n_p"),
    )
    cross = margins.agg(
        F.sum(F.col("n_d") * F.col("n_p")).cast("long").alias("cross_sum")
    )
    diag = cells.agg(
        F.sum("n").cast("long").alias("n_total"),
        F.sum(
            F.when(F.col("declared") == F.col("predicted"), F.col("n"))
            .otherwise(0)
        ).cast("long").alias("n_agree"),
    )
    n = F.col("n_total").cast("double")
    po = F.col("n_agree").cast("double") / n
    pe = F.col("cross_sum").cast("double") / (n * n)
    return diag.crossJoin(F.broadcast(cross)).select(
        "n_total",
        "n_agree",
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.when(pe < 1.0, F.round((po - pe) / (1.0 - pe), 6)).alias("kappa"),
    )


def spearman_quality(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    len_col: str = "n_chars",
) -> DataFrame:
    """Spearman rank correlation between document length and the x18
    quality score, per source — the monotone-association audit behind
    'are we just selecting for long documents?'. Ties get average
    ranks (the correct general Spearman = Pearson on midranks).

    Determinism: ranks are doubled (2·midrank = 2·min_rank + tie_count
    − 1) so every rank value and every moment sum is an exact integer
    in a double; rho is closed form off six such sums — no
    order-dependent float accumulation. The quality score ranks on its
    exact 0–10 lattice.

    Scale shape: two rank windows keyed by source (one shuffle), then
    a per-source 6-sum fold; nothing leaves the source partition until
    the G-row result."""
    s10 = F.round(quality_score(F.col(text_col)) * 10).cast("long")
    base = docs.select(
        F.col(source_col).alias("source"),
        F.col(len_col).cast("long").alias("x"),
        s10.alias("y"),
    )
    wx = Window.partitionBy("source").orderBy("x")
    wy = Window.partitionBy("source").orderBy("y")
    cx = Window.partitionBy("source", "x")
    cy = Window.partitionBy("source", "y")
    ranked = base.select(
        "source",
        (2 * F.rank().over(wx) + F.count(F.lit(1)).over(cx) - 1)
        .cast("double").alias("rx"),
        (2 * F.rank().over(wy) + F.count(F.lit(1)).over(cy) - 1)
        .cast("double").alias("ry"),
    )
    agg = ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
    )
    n = F.col("n_docs").cast("double")
    vx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = n * F.col("syy") - F.col("sy") * F.col("sy")
    cov = n * F.col("sxy") - F.col("sx") * F.col("sy")
    return agg.select(
        "source",
        "n_docs",
        F.when((vx > 0) & (vy > 0), F.round(cov / F.sqrt(vx * vy), 6))
        .alias("spearman_rho"),
    ).orderBy("source")
