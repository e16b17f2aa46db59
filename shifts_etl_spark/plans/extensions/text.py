"""Text statistics, language ID, tokenization/BPE, vocabulary, n-gram language models."""


from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ...operators import bloom, clustering, countmin, curation, dedup, funnel, heavyhitters, multimodal, profile, simsearch, textstats, theta
from ...operators.profile import profile_table
from ...sources.tables import load_table as _t
from ._shared import (
    _STOP_EN,
    _X67_NORM,
    _Y_SPLIT_CASE,
    _Y_SPLIT_INNER,
    _split_docs,
)



# --------------------------------------------------------------------------
# text analysis
# --------------------------------------------------------------------------

def x9_text_stats(spark, sf_dir):
    return textstats.text_stats(_t(spark, sf_dir, "documents"))

X9_SQL = rf"""
WITH base AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS toks
  FROM documents
),
derived AS (
  SELECT doc_id, text, toks,
         len(toks) AS n_tokens,
         CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum') AS DOUBLE)
           / greatest(len(toks), 1) AS mtl,
         CAST(len(list_filter(list_transform(toks, t -> lower(t)),
                  t -> list_contains({_STOP_EN}, t))) AS DOUBLE)
           / greatest(len(toks), 1) AS swr,
         CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS digr,
         CAST(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS punctr
  FROM base
)
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(n_tokens AS INT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT) AS n_pieces,
       round(mtl, 4) AS mean_token_len,
       round(punctr, 4) AS punct_ratio,
       round(digr, 4) AS digit_ratio,
       round(swr, 4) AS stopword_ratio,
       CAST(round(CASE WHEN n_tokens BETWEEN 10 AND 10000 THEN 0.4 ELSE 0 END
           + CASE WHEN mtl BETWEEN 3.0 AND 10.0 THEN 0.3 ELSE 0 END
           + CASE WHEN swr >= 0.01 THEN 0.2 ELSE 0 END
           + CASE WHEN digr <= 0.2 THEN 0.1 ELSE 0 END, 4) AS DOUBLE) AS quality_score
FROM derived
"""


def x10_text_langid(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    c = F.col("text")
    return docs.select(
        "doc_id",
        "lang",
        textstats.predict_lang(c).alias("pred_lang"),
        (textstats.predict_lang(c) == F.col("lang")).alias("is_match"),
    )


def _hits_sql(words: list[str]) -> str:
    arr = "[" + ",".join(f"'{w}'" for w in words) + "]"
    return (
        r"len(list_filter(list_transform(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), t -> t <> ''), t -> t), "
        + f"t -> list_contains({arr}, t)))"
    )


X10_SQL = rf"""
WITH hits AS (
  SELECT doc_id, lang,
         {_hits_sql(textstats.STOPWORDS['en'])} AS h_en,
         {_hits_sql(textstats.STOPWORDS['es'])} AS h_es,
         {_hits_sql(textstats.STOPWORDS['fr'])} AS h_fr,
         {_hits_sql(textstats.STOPWORDS['de'])} AS h_de
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN greatest(h_en, h_es, h_fr, h_de) < 1 THEN 'und'
            WHEN h_en = greatest(h_en, h_es, h_fr, h_de) THEN 'en'
            WHEN h_es = greatest(h_en, h_es, h_fr, h_de) THEN 'es'
            WHEN h_fr = greatest(h_en, h_es, h_fr, h_de) THEN 'fr'
            ELSE 'de' END AS pred_lang,
       (CASE WHEN greatest(h_en, h_es, h_fr, h_de) < 1 THEN 'und'
            WHEN h_en = greatest(h_en, h_es, h_fr, h_de) THEN 'en'
            WHEN h_es = greatest(h_en, h_es, h_fr, h_de) THEN 'es'
            WHEN h_fr = greatest(h_en, h_es, h_fr, h_de) THEN 'fr'
            ELSE 'de' END) = lang AS is_match
FROM hits
"""


def x11_text_fingerprint(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    c = F.col("text")
    return docs.select(
        "doc_id",
        textstats.fingerprint_md5(c).alias("fp_md5"),
        textstats.fingerprint_rolling(c).alias("fp_rolling"),
    )


X11_SQL = r"""
WITH norm AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS nt
  FROM documents
)
SELECT doc_id,
       md5(nt) AS fp_md5,
       list_reduce(list_transform(string_split(nt, ''), ch -> CAST(ascii(ch) AS BIGINT)),
                   (acc, c) -> (acc * 31 + c) % 1000000007) AS fp_rolling
FROM norm
"""


def x16_pii_scrub(spark, sf_dir):
    """PII scrub pass: per-doc replacement counts + scrubbed-text hash
    (hash instead of full text keeps the compared payload small)."""
    docs = _t(spark, sf_dir, "documents")
    c = F.col("text")
    counts = textstats.pii_counts(c)
    return docs.select(
        "doc_id",
        F.md5(textstats.scrub_pii(c)).alias("scrubbed_md5"),
        *[v.cast("long").alias(f"n_{k}") for k, v in counts.items()],
    )


X16_SQL = r"""
SELECT doc_id,
       md5(regexp_replace(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             'https?://[^\s]+', '<URL>', 'g'),
             '[0-9]{7,}', '<NUMBER_LONG>', 'g')) AS scrubbed_md5,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS BIGINT) AS n_url,
       CAST(len(regexp_extract_all(text, '[0-9]{7,}')) AS BIGINT) AS n_number_long
FROM documents
"""


def x17_vocabulary(spark, sf_dir):
    """Corpus vocabulary top-100 (total count + doc frequency)."""
    return textstats.vocabulary(_t(spark, sf_dir, "documents"))


X17_SQL = r"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), '\s+'), t -> t <> '')) AS token
  FROM documents
)
SELECT token, count(*) AS n_total, count(DISTINCT doc_id) AS n_docs
FROM tok GROUP BY token
ORDER BY n_total DESC, token LIMIT 100
"""


def x19_tf_idf(spark, sf_dir):
    """Sparse TF-IDF featurization (tf · ln(N/df), df ≥ 2)."""
    return textstats.tf_idf(_t(spark, sf_dir, "documents"))


X19_SQL = r"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), '\s+'), t -> t <> '')) AS token
  FROM documents
),
tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
dfreq AS (SELECT token, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
n AS (SELECT count(DISTINCT doc_id) AS n FROM documents)
SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
       round(tf.tf * ln(CAST(n.n AS DOUBLE) / dfreq.df), 6) AS tfidf
FROM tf JOIN dfreq USING (token) CROSS JOIN n
"""


def x28_repetition_stats(spark, sf_dir):
    """Intra-document repetition signals (textstats.repetition_stats):
    the published Gopher/RefinedWeb repetition filters, rounded to 4 dp
    for cross-engine comparability."""
    stats = textstats.repetition_stats(_t(spark, sf_dir, "documents"))
    return stats.select(
        "doc_id",
        "n_tokens",
        F.round("distinct_token_ratio", 4).alias("distinct_token_ratio"),
        F.round("top_token_frac", 4).alias("top_token_frac"),
        F.round("dup_bigram_frac", 4).alias("dup_bigram_frac"),
    )


X28_SQL = r"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'),
                     x -> x <> '') AS t
  FROM documents
), tok AS (
  SELECT doc_id,
         unnest(t) AS tk,
         unnest(generate_series(1, len(t))) AS pos
  FROM base
), big AS (
  SELECT doc_id, tk,
         lead(tk) OVER (PARTITION BY doc_id ORDER BY pos) AS tk2
  FROM tok
), perdoc AS (
  SELECT doc_id,
         count(*) AS n_tokens,
         count(DISTINCT tk) AS n_distinct,
         count(tk2) AS n_bigrams,
         count(DISTINCT CASE WHEN tk2 IS NOT NULL
                             THEN tk || ' ' || tk2 END) AS n_distinct_bigrams
  FROM big GROUP BY doc_id
), topf AS (
  SELECT doc_id, max(c) AS top_c
  FROM (SELECT doc_id, tk, count(*) AS c FROM tok GROUP BY doc_id, tk)
  GROUP BY doc_id
)
SELECT p.doc_id,
       n_tokens,
       ROUND(n_distinct / CAST(n_tokens AS DOUBLE), 4) AS distinct_token_ratio,
       ROUND(top_c / CAST(n_tokens AS DOUBLE), 4) AS top_token_frac,
       CASE WHEN n_bigrams > 0
            THEN ROUND(1 - n_distinct_bigrams / CAST(n_bigrams AS DOUBLE), 4)
            ELSE 0.0 END AS dup_bigram_frac
FROM perdoc p JOIN topf USING (doc_id)
"""


def x37_length_histogram(spark, sf_dir):
    """Sequence-length histogram (16-token buckets) — the planning input
    for sequence packing (x22): bucket shape decides pack budget and
    expected padding waste. Pure built-in expression pipeline over one
    scan; the groupBy shuffles only (bucket, count, sum) partials."""
    d = _t(spark, sf_dir, "documents")
    nt = F.size(textstats.tokens(textstats.normalize_text(F.col("text"))))
    return (
        d.select(
            (F.floor(nt / 16) * 16).cast("bigint").alias("bucket_lo"),
            nt.alias("nt"),
        )
        .groupBy("bucket_lo")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("nt").cast("bigint").alias("total_tokens"),
            F.round(F.avg("nt"), 6).alias("mean_tokens"),
        )
    )


X37_SQL = r"""
WITH norm AS (
  SELECT list_filter(regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), '\s+'), t -> t <> '') AS toks
  FROM documents
),
n AS (SELECT len(toks) AS nt FROM norm)
SELECT CAST(nt // 16 * 16 AS BIGINT) AS bucket_lo,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(nt) AS BIGINT) AS total_tokens,
       round(avg(nt), 6) AS mean_tokens
FROM n GROUP BY 1
"""


def x38_collocation_pmi(spark, sf_dir):
    """Bigram collocation extraction by PMI (textstats.collocation_pmi):
    ln(p(w1,w2)/(p(w1)p(w2))) over normalized tokens, pairs seen ≥5
    times. min_count bounds the output, so the cross-engine compare
    never rides on double-keyed top-k selection."""
    return textstats.collocation_pmi(_t(spark, sf_dir, "documents"))


X38_SQL = r"""
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), '\s+'), t -> t <> '') AS t
  FROM documents
), tok AS (
  SELECT doc_id, unnest(t) AS w, unnest(generate_series(1, len(t))) AS pos
  FROM base
), big AS (
  SELECT doc_id, w AS w1,
         lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM tok
), pairc AS (
  SELECT w1, w2, count(*) AS n_pair FROM big WHERE w2 IS NOT NULL GROUP BY 1, 2
), uni AS (
  SELECT w, count(*) AS c FROM tok GROUP BY 1
), tot AS (
  SELECT (SELECT CAST(sum(c) AS DOUBLE) FROM uni) AS n,
         (SELECT CAST(sum(n_pair) AS DOUBLE) FROM pairc) AS nb
)
SELECT w1, w2, n_pair, u1.c AS c1, u2.c AS c2,
       round(ln((CAST(n_pair AS DOUBLE) / nb)
                / ((CAST(u1.c AS DOUBLE) / n) * (CAST(u2.c AS DOUBLE) / n))), 6) AS pmi
FROM pairc
JOIN uni u1 ON pairc.w1 = u1.w
JOIN uni u2 ON pairc.w2 = u2.w
CROSS JOIN tot
WHERE n_pair >= 5
"""


def x39_unigram_logprob(spark, sf_dir):
    """Perplexity-proxy quality score (textstats.unigram_logprob): mean
    per-token ln((c+1)/(N+V)) under the corpus's own smoothed unigram
    model — the KenLM-filter stand-in; low scores flag rare-token soup."""
    return textstats.unigram_logprob(_t(spark, sf_dir, "documents"))


X39_SQL = r"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), '\s+'), t -> t <> '')) AS w
  FROM documents
), vocab AS (
  SELECT w, count(*) AS c FROM tok GROUP BY 1
), tot AS (
  SELECT CAST(sum(c) AS DOUBLE) AS n, CAST(count(*) AS DOUBLE) AS v FROM vocab
)
SELECT doc_id,
       count(*) AS n_tokens,
       round(avg(ln((CAST(c AS DOUBLE) + 1.0) / (n + 1.0 * v))), 4) AS mean_logprob
FROM tok JOIN vocab USING (w) CROSS JOIN tot
GROUP BY doc_id
"""


def x45_bm25_scores(spark, sf_dir):
    """Okapi BM25 retrieval over documents for a fixed query-term bag —
    the length-normalized lexical ranker (first-stage retrieval for RAG
    and curation). Built-in expressions only; df/corpus stats broadcast
    (operators/textstats.bm25_scores)."""
    return textstats.bm25_scores(
        _t(spark, sf_dir, "documents"), ["spark", "join", "window"]
    )


X45_SQL = r"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), '\s+'), t -> t <> '')) AS token
  FROM documents
),
-- derive dl from documents (not tok) so zero-token docs keep dl=0 and
-- enter avgdl exactly as the Spark side's token_count-over-all-docs does
dl AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), '\s+'), t -> t <> '')) AS dl
  FROM documents
),
matched AS (
  SELECT doc_id, token, count(*) AS tf FROM tok
  WHERE token IN ('spark', 'join', 'window') GROUP BY 1, 2
),
dfreq AS (SELECT token, count(DISTINCT doc_id) AS df FROM matched GROUP BY 1),
stats AS (
  SELECT (SELECT count(DISTINCT doc_id) FROM documents) AS n,
         (SELECT avg(dl) FROM dl) AS avgdl
)
SELECT m.doc_id,
       round(SUM(ln((s.n - f.df + 0.5) / (f.df + 0.5) + 1)
                 * m.tf * 2.2
                 / (m.tf + 1.2 * (0.25 + 0.75 * d.dl / s.avgdl))), 6) AS bm25,
       count(*) AS n_matched_terms
FROM matched m
JOIN dfreq f USING (token)
JOIN dl d USING (doc_id)
CROSS JOIN stats s
GROUP BY m.doc_id
ORDER BY bm25 DESC, m.doc_id
LIMIT 20
"""


def x52_bigram_entropy(spark, sf_dir):
    """Corpus bigram conditional entropy H(next|prev) in nats, plus the
    implied perplexity — the single-number language-model audit that
    complements x38's per-pair PMI and x39's unigram log-prob (a
    repetitive/templated corpus shows anomalously low H). Conditional
    distribution is normalized by the PREFIX bigram total (Σ_b n(a,b)),
    not the unigram count, so it sums to 1 exactly.

    Scale notes: the bigram and prefix aggregates are map-side
    combinable (vocab-sized shuffles, never documents); the entropy is
    ONE 1-row aggregate; join prefix→pairs is AQE-broadcastable."""
    from ...operators.textstats import normalize_text, tokens
    from ...operators.dedup import _fan_out
    from pyspark.sql import Window

    tok = _fan_out(_t(spark, sf_dir, "documents")).select(
        F.col("doc_id").alias("doc"),
        F.posexplode(tokens(normalize_text(F.col("text")))).alias("pos", "w"),
    )
    w = Window.partitionBy("doc").orderBy("pos")
    pairc = (
        tok.select("doc", "w", F.lead("w", 1).over(w).alias("w2"))
        .where(F.col("w2").isNotNull())
        .groupBy(F.col("w").alias("w1"), "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    prefix = pairc.groupBy("w1").agg(F.sum("n_pair").alias("pc"))
    tot = pairc.agg(F.sum("n_pair").cast("double").alias("nb"))
    return (
        pairc.join(prefix, "w1")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.count(F.lit(1)).alias("n_distinct_bigrams"),
            F.sum("n_pair").alias("n_bigrams"),
            F.round(
                -F.sum(
                    (F.col("n_pair") / F.col("nb"))
                    * F.log(F.col("n_pair") / F.col("pc"))
                ),
                6,
            ).alias("cond_entropy_nats"),
        )
        .select(
            "n_distinct_bigrams",
            "n_bigrams",
            "cond_entropy_nats",
            F.round(F.exp("cond_entropy_nats"), 4).alias("perplexity"),
        )
    )


X52_SQL = r"""
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), '\s+'), t -> t <> '') AS t
  FROM documents
), tok AS (
  SELECT doc_id, unnest(t) AS w, unnest(generate_series(1, len(t))) AS pos
  FROM base
), big AS (
  SELECT doc_id, w AS w1,
         lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM tok
), pairc AS (
  SELECT w1, w2, count(*) AS n_pair FROM big WHERE w2 IS NOT NULL GROUP BY 1, 2
), prefix AS (
  SELECT w1, sum(n_pair) AS pc FROM pairc GROUP BY 1
), tot AS (
  SELECT CAST(sum(n_pair) AS DOUBLE) AS nb FROM pairc
), ent AS (
  SELECT count(*) AS n_distinct_bigrams,
         CAST(sum(n_pair) AS BIGINT) AS n_bigrams,
         round(-sum((n_pair / tot.nb) * ln(n_pair / CAST(pc AS DOUBLE))), 6)
           AS cond_entropy_nats
  FROM pairc JOIN prefix USING (w1) CROSS JOIN tot
  GROUP BY tot.nb
)
SELECT n_distinct_bigrams, n_bigrams, cond_entropy_nats,
       round(exp(cond_entropy_nats), 4) AS perplexity
FROM ent
"""


def x56_compression_signal(spark, sf_dir):
    """Compression-ratio quality signal (textstats.compression_signal):
    zlib-compressed length / raw length per document — the classic
    cheap proxy for boilerplate and low-entropy junk (highly repetitive
    text compresses far below ~0.5). Arrow-batched mapInPandas, one
    scan, no shuffle; rows-only check (no zlib in the oracle), with the
    monotonicity semantics pinned in pytest."""
    return textstats.compression_signal(_t(spark, sf_dir, "documents"))


def x69_inverted_index(spark, sf_dir):
    """Inverted-index artifact (operators/textstats.inverted_index):
    per-term df, collection frequency, and ascending doc-id posting
    list, with a RELATIVE df cutoff (terms in > 90% of docs are
    stopword-class and never materialize a list). Only (term, doc, tf)
    rows shuffle; text stays at the scan."""
    return textstats.inverted_index(_t(spark, sf_dir, "documents"))


X69_SQL = rf"""
WITH tok AS (
  SELECT doc_id, unnest({_X67_NORM}) AS term FROM documents
),
tf AS (
  SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2
)
SELECT term,
       count(*) AS df,
       CAST(sum(tf) AS BIGINT) AS cf,
       string_agg(doc_id, ',' ORDER BY doc_id) AS postings
FROM tf
GROUP BY term
HAVING count(*) >= 2
   AND count(*) <= 0.9 * (SELECT count(*) FROM documents)
"""


def x74_bpe_merges(spark, sf_dir):
    """Distributed BPE merge training (operators/bpe.py): 10 merges
    learned at VOCABULARY scale (the corpus folds to distinct words
    once; every iteration runs on the vocab frame with a 1-row argmax
    collect).

    Oracle-checkable since round 3: the training loop is integer-exact
    and deterministic (freq desc, pair-lexicographic tie-break), so
    X74_SQL replays it as a recursive CTE over the vocab — adjacent-pair
    counts via a LATERAL comprehension, the global argmax via a
    full-ordering window, and the left-to-right greedy non-overlapping
    merge application as a list_reduce string fold that mirrors
    bpe._apply_merge's prev-carry accumulator exactly. The merge
    sequence is additionally pytest-pinned on the canonical Sennrich
    example."""
    from ...operators.bpe import bpe_merges_df

    return bpe_merges_df(_t(spark, sf_dir, "documents"), n_merges=10)


def x75_bpe_encode(spark, sf_dir):
    """Tokenizer-aware per-doc length accounting: apply x74's learned
    merges to the distinct-word frame (vocab-sized), broadcast the
    word→piece-count map back over the corpus word stream, and report
    (n_words, n_chars, n_pieces, pieces_per_word).

    Oracle-checkable since round 3: X75_SQL runs the same recursive
    training chain as X74_SQL and reads each word's FINAL tokenization
    off the last recursion layer (every word advances every iteration,
    so max(it) carries the full vocab), then joins piece counts back
    over the per-doc word stream."""
    from ...operators.bpe import bpe_encode_counts

    return bpe_encode_counts(_t(spark, sf_dir, "documents"), n_merges=10)


def _bpe_chain_sql(n_merges: int) -> str:
    """The shared recursive BPE-training CTE prefix (through ``sel``),
    mirroring bpe.bpe_train(n_merges=...) bit-for-bit. Integer weights
    and string symbols only — no float conventions needed."""
    fold = """list_reduce(string_split(sym, ' '), (acc, x) ->
  CASE WHEN x = r AND (acc = l OR ends_with(acc, ' ' || l))
       THEN CASE WHEN acc = l THEN l || r
            ELSE left(acc, length(acc) - length(l)) || l || r END
       ELSE acc || ' ' || x END)"""
    return f"""WITH RECURSIVE
norm AS (SELECT doc_id, {_X67_NORM} AS toks FROM documents),
vocab AS (
  SELECT word, count(*) AS weight
  FROM (SELECT unnest(toks) AS word FROM norm) GROUP BY word
),
base AS (
  SELECT word, weight,
         array_to_string(regexp_split_to_array(word, ''), ' ') || ' ▁' AS sym
  FROM vocab
),
sel(word, weight, sym, it, l, r, freq) AS (
  SELECT word, weight, sym, 0,
         CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT)
  FROM base
  UNION ALL
  SELECT word, weight, {fold} AS sym, it + 1, l, r, freq
  FROM (
    SELECT word, weight, sym, it, best_a AS l, best_b AS r, best_f AS freq
    FROM (
      SELECT q.*,
             first_value(pa) OVER w AS best_a,
             first_value(pb) OVER w AS best_b,
             first_value(pf) OVER w AS best_f,
             row_number() OVER (PARTITION BY word ORDER BY pa NULLS LAST, pb NULLS LAST) AS rn
      FROM (
        SELECT s.word, s.weight, s.sym, s.it, p.pa, p.pb,
               CASE WHEN p.pa IS NULL THEN NULL
                    ELSE SUM(s.weight * p.n) OVER (PARTITION BY p.pa, p.pb) END AS pf
        FROM (SELECT word, weight, sym, it, string_split(sym, ' ') AS t
              FROM sel WHERE it < {n_merges}) s
        LEFT JOIN LATERAL (
          SELECT u.pr['a'] AS pa, u.pr['b'] AS pb, count(*) AS n
          FROM unnest([{{'a': s.t[i], 'b': s.t[i + 1]}}
                       for i in generate_series(1, len(s.t) - 1)]) AS u(pr)
          GROUP BY 1, 2
        ) p ON TRUE
      ) q
      WINDOW w AS (ORDER BY pf DESC NULLS LAST, pa NULLS LAST, pb NULLS LAST)
    ) z
    WHERE rn = 1 AND best_f IS NOT NULL AND best_f >= 2
  ) picked
)"""


X74_SQL = f"""{_bpe_chain_sql(10)}
SELECT DISTINCT CAST(it AS BIGINT) AS merge_rank, l AS "left", r AS "right", freq
FROM sel WHERE it >= 1
"""

X75_SQL = f"""{_bpe_chain_sql(10)},
final AS (
  SELECT word, len(string_split(sym, ' ')) AS wp
  FROM sel WHERE it = (SELECT max(it) FROM sel)
),
stream AS (SELECT doc_id, unnest(toks) AS word FROM norm)
SELECT s.doc_id,
       count(*) AS n_words,
       CAST(SUM(length(s.word)) AS BIGINT) AS n_chars,
       CAST(SUM(f.wp) AS BIGINT) AS n_pieces,
       round(CAST(SUM(f.wp) AS DOUBLE) / count(*), 6) AS pieces_per_word
FROM stream s JOIN final f USING (word)
GROUP BY s.doc_id
"""


def y1_backoff_bigram_lm(spark, sf_dir):
    """Stupid-backoff bigram LM quality scoring (textstats.
    backoff_bigram_logprob — the KenLM-filter shape, self-contained):
    counts learned on the md5-split TRAIN docs, held-out val/test docs
    scored per transition (ln c2/c1 when the bigram was seen in train,
    else ln 0.4·(c1(w2)+1)/(N+V)). Held-out scoring is what makes
    backoff fire — a corpus scored under its own counts has seen every
    one of its bigrams (which is all x39's unigram variant can do)."""
    assigned = _split_docs(spark, sf_dir)
    return textstats.backoff_bigram_logprob(
        assigned.where(F.col("split") == "train"),
        assigned.where(F.col("split") != "train"),
    )


Y1_SQL = rf"""
WITH base AS (
  SELECT doc_id, {_X67_NORM} AS toks,
         {_Y_SPLIT_CASE} AS split
  FROM (SELECT doc_id, text, {_Y_SPLIT_INNER} AS b FROM documents)
),
ttok AS (SELECT unnest(toks) AS w FROM base WHERE split = 'train'),
uni AS (SELECT w, count(*) AS c FROM ttok GROUP BY 1),
tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n, CAST(count(*) AS DOUBLE) AS v FROM uni),
ttrans AS (
  SELECT toks[i] AS w1, toks[i + 1] AS w2
  FROM base, unnest(generate_series(1, len(toks) - 1)) AS u(i)
  WHERE split = 'train'
),
big AS (SELECT w1, w2, count(*) AS c2 FROM ttrans GROUP BY 1, 2),
strans AS (
  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
  FROM base, unnest(generate_series(1, len(toks) - 1)) AS u(i)
  WHERE split <> 'train'
),
scored AS (
  SELECT s.doc_id,
         b.c2 IS NULL AS backoff,
         CASE WHEN b.c2 IS NOT NULL THEN ln(CAST(b.c2 AS DOUBLE) / u1.c)
              ELSE ln(0.4 * (COALESCE(u2.c, 0) + 1.0) / (t.n + t.v))
         END AS sc
  FROM strans s
  LEFT JOIN big b ON b.w1 = s.w1 AND b.w2 = s.w2
  LEFT JOIN uni u1 ON u1.w = s.w1
  LEFT JOIN uni u2 ON u2.w = s.w2
  CROSS JOIN tot t
)
SELECT doc_id,
       count(*) AS n_transitions,
       CAST(count(*) FILTER (backoff) AS BIGINT) AS n_backoff,
       round(avg(sc), 4) AS mean_logscore
FROM scored GROUP BY doc_id
"""


def x94_zipf_fit(spark, sf_dir):
    """Per-source Zipf-law fit (textstats.zipf_fit): OLS of ln(freq) on
    ln(rank) over each source's top-100 tokens — natural language sits
    near slope −1; flat or cliff-shaped fits flag templated/generated
    sources before they enter a mixture. Regression input is ≤ 100 rows
    per source by construction."""
    return textstats.zipf_fit(_t(spark, sf_dir, "documents"))


X94_SQL = rf"""
WITH tok AS (
  SELECT source, unnest({_X67_NORM}) AS w FROM documents
),
freq AS (SELECT source, w, count(*) AS c FROM tok GROUP BY 1, 2),
totals AS (
  SELECT source, count(*) AS n_types, CAST(sum(c) AS BIGINT) AS n_tokens
  FROM freq GROUP BY 1
),
ranked AS (
  SELECT source, ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y
  FROM (
    SELECT source, c,
           row_number() OVER (PARTITION BY source ORDER BY c DESC, w) AS rank
    FROM freq
  ) WHERE rank <= 100
),
fit AS (
  SELECT source, count(*) AS n_ranks,
         covar_pop(x, y) / var_pop(x) AS slope,
         avg(x) AS mx, avg(y) AS my
  FROM ranked GROUP BY 1 HAVING count(*) >= 10
)
SELECT f.source, t.n_types, t.n_tokens, f.n_ranks,
       round(f.slope, 4) AS zipf_slope,
       round(f.my - f.slope * f.mx, 4) AS zipf_intercept
FROM fit f JOIN totals t USING (source)
"""


def x96_char_entropy(spark, sf_dir):
    """Character-entropy garbage detector (textstats.char_entropy):
    per-doc Shannon entropy in nats over the a-z/0-9/space alphabet via
    37 length-minus-replace counters — one codegen'd row-local pass, no
    explode, no shuffle."""
    return textstats.char_entropy(_t(spark, sf_dir, "documents"))


_X96_ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789 "
_X96_COUNTS = ",\n         ".join(
    f"length(t) - length(replace(t, '{ch}', '')) AS c{i}"
    for i, ch in enumerate(_X96_ALPHABET)
)
_X96_N = " + ".join(f"c{i}" for i in range(len(_X96_ALPHABET)))
_X96_ENT = "\n           + ".join(
    f"CASE WHEN c{i} > 0 THEN -(CAST(c{i} AS DOUBLE) / n_alpha)"
    f" * ln(CAST(c{i} AS DOUBLE) / n_alpha) ELSE 0.0 END"
    for i in range(len(_X96_ALPHABET))
)

X96_SQL = f"""
WITH low AS (SELECT doc_id, lower(text) AS t FROM documents),
c AS (
  SELECT doc_id,
         {_X96_COUNTS}
  FROM low
),
n AS (SELECT *, CAST({_X96_N} AS BIGINT) AS n_alpha FROM c),
e AS (
  SELECT doc_id, n_alpha,
         {_X96_ENT} AS ent
  FROM n
),
fin AS (
  SELECT doc_id, n_alpha,
         CASE WHEN n_alpha > 0 THEN round(ent, 6) ELSE 0.0 END
           AS char_entropy
  FROM e
)
SELECT doc_id, n_alpha, char_entropy,
       (n_alpha = 0) OR (char_entropy < 2.0) AS is_low_entropy
FROM fin
"""


def x102_langid_confusion(spark, sf_dir):
    """Language-ID evaluation (textstats.langid_eval): per language,
    support / prediction count / hits and precision-recall-F1 of the
    x10 stopword-argmax heuristic against the declared label — the
    trust audit before routing filters by predicted language. One
    |langs|^2-cell confusion aggregate; metrics derive from cells."""
    return textstats.langid_eval(_t(spark, sf_dir, "documents"))


_X102_PRED = """CASE WHEN greatest(h_en, h_es, h_fr, h_de) < 1 THEN 'und'
            WHEN h_en = greatest(h_en, h_es, h_fr, h_de) THEN 'en'
            WHEN h_es = greatest(h_en, h_es, h_fr, h_de) THEN 'es'
            WHEN h_fr = greatest(h_en, h_es, h_fr, h_de) THEN 'fr'
            ELSE 'de' END"""

X102_SQL = rf"""
WITH hits AS (
  SELECT doc_id, lang,
         {_hits_sql(textstats.STOPWORDS['en'])} AS h_en,
         {_hits_sql(textstats.STOPWORDS['es'])} AS h_es,
         {_hits_sql(textstats.STOPWORDS['fr'])} AS h_fr,
         {_hits_sql(textstats.STOPWORDS['de'])} AS h_de
  FROM documents
),
pred AS (SELECT lang AS declared, {_X102_PRED} AS predicted FROM hits),
cells AS (SELECT declared, predicted, count(*) AS n FROM pred GROUP BY 1, 2),
d AS (SELECT declared AS lang, CAST(SUM(n) AS BIGINT) AS n_declared FROM cells GROUP BY 1),
p AS (SELECT predicted AS lang, CAST(SUM(n) AS BIGINT) AS n_predicted FROM cells GROUP BY 1),
c AS (SELECT declared AS lang, CAST(SUM(n) AS BIGINT) AS n_correct
      FROM cells WHERE declared = predicted GROUP BY 1),
base AS (
  SELECT COALESCE(d.lang, p.lang) AS lang,
         COALESCE(d.n_declared, 0) AS n_declared,
         COALESCE(p.n_predicted, 0) AS n_predicted,
         COALESCE(c.n_correct, 0) AS n_correct
  FROM d FULL JOIN p ON d.lang = p.lang
  LEFT JOIN c ON COALESCE(d.lang, p.lang) = c.lang
),
m AS (
  SELECT lang, n_declared, n_predicted, n_correct,
         CASE WHEN n_predicted > 0
              THEN CAST(n_correct AS DOUBLE) / n_predicted ELSE 0.0 END AS pr,
         CASE WHEN n_declared > 0
              THEN CAST(n_correct AS DOUBLE) / n_declared ELSE 0.0 END AS rc
  FROM base
)
SELECT lang, n_declared, n_predicted, n_correct,
       round(pr, 6) AS "precision",
       round(rc, 6) AS recall,
       round(CASE WHEN pr + rc > 0 THEN 2.0 * pr * rc / (pr + rc) ELSE 0.0 END, 6) AS f1
FROM m
"""


def x114_readability(spark, sf_dir):
    """Flesch reading-ease per document (textstats.readability): words /
    sentence-run / vowel-group counts via three regexp counters in one
    codegen'd row-local pass — no explode, no shuffle."""
    return textstats.readability(_t(spark, sf_dir, "documents"))


X114_SQL = r"""
WITH counts AS (
  SELECT doc_id,
         greatest(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                  t -> t <> '')), 1) AS n_words,
         greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
         greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
           AS n_syllables
  FROM documents
)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_sentences AS BIGINT) AS n_sentences,
       CAST(n_syllables AS BIGINT) AS n_syllables,
       round(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
             - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 4) AS flesch,
       round(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
             - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 4) >= 60.0
         AS is_easy
FROM counts
"""


def x115_vocab_richness(spark, sf_dir):
    """Per-source lexical richness (textstats.vocab_richness): token
    volume, vocabulary size, type-token ratio, hapax share — the cheap
    template detector complementing x94's Zipf slope. One explode into a
    map-side-combinable (source, token) count; the rollup runs on
    vocab-sized cells."""
    return textstats.vocab_richness(_t(spark, sf_dir, "documents"))


X115_SQL = r"""
WITH base AS (
  SELECT source,
         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                     t -> t <> '') AS toks
  FROM documents
),
flat AS (SELECT source, unnest(toks) AS token FROM base),
cells AS (
  SELECT source, token, CAST(count(*) AS BIGINT) AS cnt
  FROM flat GROUP BY 1, 2
)
SELECT source,
       CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       round(CAST(count(*) AS DOUBLE) / SUM(cnt), 6) AS ttr,
       round(CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS hapax_ratio
FROM cells GROUP BY 1
"""


def x131_keyness_terms(spark, sf_dir):
    """Per-language distinctive terms (textstats.keyness_terms): top-10
    tokens by add-1 smoothed log rate-ratio vs the rest of the corpus —
    corpus-linguistics keyness (x19's TF-IDF is per-doc; this is
    per-group). Two-phase bounded per-group top-k, vocab-sized cell
    joins, broadcast totals."""
    return textstats.keyness_terms(_t(spark, sf_dir, "documents"))


X131_SQL = r"""
WITH flat AS (
  SELECT lang AS grp,
         unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                            t -> t <> '')) AS token
  FROM documents
),
cells AS (
  SELECT grp, token, CAST(count(*) AS BIGINT) AS c FROM flat GROUP BY 1, 2
),
gt AS (SELECT grp, CAST(SUM(c) AS BIGINT) AS n_g FROM cells GROUP BY 1),
tt AS (SELECT token, CAST(SUM(c) AS BIGINT) AS n_t FROM cells GROUP BY 1),
corpus AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n_all,
         CAST(count(DISTINCT token) AS BIGINT) AS v
  FROM cells
),
scored AS (
  SELECT cells.grp, cells.token, cells.c,
         round(ln(((c + 1) / CAST(n_g + v AS DOUBLE))
                  / ((n_t - c + 1) / CAST(n_all - n_g + v AS DOUBLE))), 6)
           AS keyness
  FROM cells JOIN gt USING (grp) JOIN tt USING (token) CROSS JOIN corpus
)
SELECT grp AS lang, CAST(rank AS BIGINT) AS rank, token,
       c AS n_in_group, keyness
FROM (
  SELECT *, row_number() OVER (PARTITION BY grp
                               ORDER BY keyness DESC, token) AS rank
  FROM scored
)
WHERE rank <= 10
"""


def x135_code_switch(spark, sf_dir):
    """Code-switching audit (textstats.code_switch_profile): per doc,
    sentence-level language mix (distinct predicted langs, dominant
    share, is_mixed) from the x10 heuristic applied per sentence —
    (doc, predicted) cells, per-doc argmax window over tiny cells."""
    return textstats.code_switch_profile(_t(spark, sf_dir, "documents"))


_X135_HITS = "\n         ".join(
    f"{_hits_sql(textstats.STOPWORDS[l]).replace('trim(lower(text))', 'trim(lower(sentence))')} AS h_{l},"
    for l in ("en", "es", "fr", "de")
).rstrip(",")

X135_SQL = rf"""
WITH sent AS (
  SELECT d.doc_id AS doc, trim(t.s) AS sentence
  FROM documents d,
       unnest(regexp_split_to_array(d.text, '[.!?]+')) AS t(s)
  WHERE length(trim(t.s)) >= 20
),
hits AS (
  SELECT doc,
         {_X135_HITS}
  FROM sent
),
pred AS (SELECT doc, {_X102_PRED} AS pred FROM hits),
cells AS (
  SELECT doc, pred, CAST(count(*) AS BIGINT) AS n FROM pred GROUP BY 1, 2
),
ranked AS (
  SELECT doc, pred, n,
         row_number() OVER (PARTITION BY doc ORDER BY n DESC, pred) AS rn
  FROM cells
)
SELECT doc AS doc_id,
       CAST(SUM(n) AS BIGINT) AS n_sentences,
       CAST(count(*) AS BIGINT) AS n_langs,
       MIN(CASE WHEN rn = 1 THEN pred END) AS dominant_lang,
       round(CAST(MIN(CASE WHEN rn = 1 THEN n END) AS DOUBLE) / SUM(n), 6)
         AS dominant_share,
       count(*) >= 2 AS is_mixed
FROM ranked GROUP BY 1
"""


def x139_bpe_fertility(spark, sf_dir):
    """Tokenizer-fertility fairness audit (bpe.bpe_fertility_by_lang):
    per language, BPE pieces per word and chars per piece under x74's
    10 learned merges — the languages a merge table under-serves pay
    more sequence length per character. Vocab-sized merge application,
    broadcast word->pieces map, language-keyed cells."""
    from ...operators.bpe import bpe_fertility_by_lang

    return bpe_fertility_by_lang(_t(spark, sf_dir, "documents"), n_merges=10)


X139_SQL = f"""{_bpe_chain_sql(10)},
final AS (
  SELECT word, len(string_split(sym, ' ')) AS wp
  FROM sel WHERE it = (SELECT max(it) FROM sel)
),
stream AS (SELECT doc_id, unnest(toks) AS word FROM norm)
SELECT d.lang,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(SUM(length(s.word)) AS BIGINT) AS n_chars,
       CAST(SUM(f.wp) AS BIGINT) AS n_pieces,
       round(CAST(SUM(f.wp) AS DOUBLE) / count(*), 6) AS pieces_per_word,
       round(CAST(SUM(length(s.word)) AS DOUBLE) / SUM(f.wp), 6)
         AS chars_per_piece
FROM stream s
JOIN final f USING (word)
JOIN documents d USING (doc_id)
GROUP BY 1
"""


def x146_lm_score_deciles(spark, sf_dir):
    """Perplexity-filtering decile report (textstats.lm_score_deciles):
    y1's held-out stupid-backoff doc scores bucketed by 9 exact decile
    edges (1-row broadcast), 10-cell band rollup — the keep-threshold
    artifact for CCNet-style perplexity filtering."""
    assigned = _split_docs(spark, sf_dir)
    return textstats.lm_score_deciles(
        assigned.where(F.col("split") == "train"),
        assigned.where(F.col("split") != "train"),
    )


X146_SQL = f"""
WITH perdoc AS ({Y1_SQL}),
edges AS (
  SELECT quantile_cont(mean_logscore,
           [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS e
  FROM perdoc
),
banded AS (
  SELECT p.n_transitions, p.n_backoff, p.mean_logscore,
         1 + len(list_filter(e.e, x -> p.mean_logscore > x)) AS decile
  FROM perdoc p CROSS JOIN edges e
)
SELECT decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(mean_logscore), 4) AS mean_logscore,
       round(avg(CAST(n_backoff AS DOUBLE) / n_transitions), 6)
         AS mean_backoff_share,
       CAST(SUM(n_transitions) AS BIGINT) AS n_transitions
FROM banded GROUP BY 1
"""


def x157_heaps_law(spark, sf_dir):
    """Heaps'-law vocabulary growth fit (textstats.heaps_law): 10 md5
    corpus prefixes, cumulative-distinct via per-type min bucket (one
    corpus aggregate, never prefix re-scans), ln-ln OLS via regr_* on
    the 10-point frame."""
    return textstats.heaps_law(_t(spark, sf_dir, "documents"))


X157_SQL = f"""
WITH norm AS (
  SELECT (ascii(substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 256
          + ascii(substring(md5(CAST(doc_id AS VARCHAR)), 2, 1))) % 10 AS b,
         {_X67_NORM} AS toks
  FROM documents
),
tok AS (SELECT b, unnest(toks) AS t FROM norm),
per_bucket AS (
  SELECT b, CAST(count(*) AS BIGINT) AS n_tok FROM tok GROUP BY 1
),
new_types AS (
  SELECT b, CAST(count(*) AS BIGINT) AS n_new
  FROM (SELECT t, MIN(b) AS b FROM tok GROUP BY 1) GROUP BY 1
),
cells AS (
  SELECT COALESCE(p.b, n.b) AS b,
         COALESCE(p.n_tok, 0) AS n_tok,
         COALESCE(n.n_new, 0) AS n_new
  FROM per_bucket p FULL JOIN new_types n USING (b)
),
pts AS (
  SELECT b + 1 AS k,
         CAST(SUM(n_tok) OVER (ORDER BY b) AS BIGINT) AS cum_tokens,
         CAST(SUM(n_new) OVER (ORDER BY b) AS BIGINT) AS cum_types
  FROM cells
),
kept AS (SELECT * FROM pts WHERE cum_tokens > 0),
fit AS (
  SELECT round(regr_slope(ln(cum_types), ln(cum_tokens)), 6) + 0.0 AS beta,
         round(exp(regr_intercept(ln(cum_types), ln(cum_tokens))), 4)
           AS heaps_k
  FROM kept
)
SELECT k, cum_tokens, cum_types, beta, heaps_k
FROM kept CROSS JOIN fit
"""


def x159_vocab_coverage(spark, sf_dir):
    """Vocabulary coverage by language (textstats.vocab_coverage_by_
    lang): token- and type-level OOV shares of the held-out md5 splits
    under the train-split vocabulary — word-keyed left join, language
    cells."""
    assigned = _split_docs(spark, sf_dir)
    return textstats.vocab_coverage_by_lang(
        assigned.where(F.col("split") == "train"),
        assigned.where(F.col("split") != "train"),
    )


X159_SQL = f"""
WITH base AS (
  SELECT doc_id, lang, {_X67_NORM} AS toks,
         {_Y_SPLIT_CASE} AS split
  FROM (SELECT doc_id, lang, text, {_Y_SPLIT_INNER} AS b FROM documents)
),
vocab AS (
  SELECT DISTINCT unnest(toks) AS word FROM base WHERE split = 'train'
),
held AS (
  SELECT b.lang, u.word, v.word IS NOT NULL AS in_vocab
  FROM base b, unnest(b.toks) AS u(word)
  LEFT JOIN vocab v ON u.word = v.word
  WHERE b.split <> 'train'
),
tok AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(SUM(CASE WHEN NOT in_vocab THEN 1 ELSE 0 END) AS BIGINT)
           AS oov_tokens
  FROM held GROUP BY 1
),
typ AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_types,
         CAST(SUM(CASE WHEN NOT in_vocab THEN 1 ELSE 0 END) AS BIGINT)
           AS oov_types
  FROM (SELECT DISTINCT lang, word, in_vocab FROM held) GROUP BY 1
)
SELECT lang, n_tokens, oov_tokens,
       round(CAST(oov_tokens AS DOUBLE) / n_tokens, 6) AS oov_token_share,
       n_types, oov_types,
       round(CAST(oov_types AS DOUBLE) / n_types, 6) AS oov_type_share
FROM tok JOIN typ USING (lang)
"""


def x163_vocab_budget(spark, sf_dir):
    """Vocabulary budget coverage curve (textstats.vocab_budget_curve):
    top-K-types token coverage via the count-value histogram cumsum
    (tiny frame), block-aligned on frequency ties."""
    return textstats.vocab_budget_curve(_t(spark, sf_dir, "documents"))


X163_SQL = f"""
WITH norm AS (SELECT {_X67_NORM} AS toks FROM documents),
vocab AS (
  SELECT t, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(toks) AS t FROM norm) GROUP BY 1
),
hist AS (
  SELECT c, CAST(count(*) AS BIGINT) AS n_types,
         CAST(c * count(*) AS BIGINT) AS n_tokens
  FROM vocab GROUP BY 1
),
cum AS (
  SELECT CAST(SUM(n_types) OVER (ORDER BY c DESC) AS BIGINT) AS cum_types,
         CAST(SUM(n_tokens) OVER (ORDER BY c DESC) AS BIGINT) AS cum_tokens
  FROM hist
),
tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS total_tokens FROM vocab),
tgt AS (SELECT unnest([100, 1000, 5000, 10000]) AS target_k),
best AS (
  SELECT t.target_k, CAST(MIN(c.cum_types) AS BIGINT) AS k_eff
  FROM cum c JOIN tgt t ON c.cum_types >= t.target_k
  GROUP BY 1
)
SELECT CAST(b.target_k AS BIGINT) AS target_k, b.k_eff,
       round(CAST(c.cum_tokens AS DOUBLE) / tot.total_tokens, 6)
         AS coverage
FROM best b
JOIN (SELECT DISTINCT cum_types, cum_tokens FROM cum) c
  ON b.k_eff = c.cum_types
CROSS JOIN tot
"""


def x169_linenumber_audit(spark, sf_dir):
    """Line-numbering integrity audit (quality.linenumber_audit): per
    order 1..n contiguity (dups + gaps), one orderkey aggregate +
    1-row fold."""
    from ...operators.quality import linenumber_audit

    return linenumber_audit(_t(spark, sf_dir, "lineitem"))


X169_SQL = """
WITH per_order AS (
  SELECT l_orderkey,
         CAST(count(*) AS BIGINT) AS cnt,
         CAST(MIN(l_linenumber) AS BIGINT) AS mn,
         CAST(MAX(l_linenumber) AS BIGINT) AS mx,
         CAST(count(DISTINCT l_linenumber) AS BIGINT) AS dn
  FROM lineitem GROUP BY 1
)
SELECT CAST(count(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN dn < cnt THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_lines,
       CAST(SUM(CASE WHEN dn = cnt AND (mx <> cnt OR mn <> 1)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_gapped,
       round(CAST(SUM(CASE WHEN dn < cnt OR mx <> cnt OR mn <> 1
                           THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
         AS bad_share
FROM per_order
"""



def x188_vocab_estimate(spark, sf_dir):
    """Unseen-vocabulary estimation per source
    (textstats.vocab_estimate): Good-Turing coverage + bias-corrected
    Chao1 off the exact integer frequency spectrum."""
    return textstats.vocab_estimate(_t(spark, sf_dir, "documents"))


X188_SQL = r"""
WITH base AS (
  SELECT source,
         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                     t -> t <> '') AS toks
  FROM documents
),
flat AS (SELECT source, unnest(toks) AS token FROM base),
cells AS (
  SELECT source, token, CAST(count(*) AS BIGINT) AS cnt
  FROM flat GROUP BY 1, 2
),
agg AS (
  SELECT source,
         CAST(SUM(cnt) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_types,
         CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
  FROM cells GROUP BY 1
)
SELECT source, n_tokens, n_types, n1, n2,
       round(1.0 - CAST(n1 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
         AS gt_coverage,
       round(CAST(n_types AS DOUBLE)
             + CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1.0)
               / (2.0 * (CAST(n2 AS DOUBLE) + 1.0)), 6) AS chao1,
       round(CAST(n_types AS DOUBLE)
             + CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1.0)
               / (2.0 * (CAST(n2 AS DOUBLE) + 1.0))
             - CAST(n_types AS DOUBLE), 6) AS est_unseen
FROM agg
ORDER BY source
"""


def x210_langid_kappa(spark, sf_dir):
    """Cohen's kappa of the x10 langid heuristic vs declared labels
    (textstats.langid_kappa): chance-corrected agreement over x102's
    confusion cells — one number for 'is the router better than the
    label mix would produce by accident'."""
    return textstats.langid_kappa(_t(spark, sf_dir, "documents"))


X210_SQL = rf"""
WITH hits AS (
  SELECT doc_id, lang,
         {_hits_sql(textstats.STOPWORDS['en'])} AS h_en,
         {_hits_sql(textstats.STOPWORDS['es'])} AS h_es,
         {_hits_sql(textstats.STOPWORDS['fr'])} AS h_fr,
         {_hits_sql(textstats.STOPWORDS['de'])} AS h_de
  FROM documents
),
pred AS (SELECT lang AS declared, {_X102_PRED} AS predicted FROM hits),
cells AS (
  SELECT declared, predicted, CAST(count(*) AS BIGINT) AS n
  FROM pred GROUP BY 1, 2
),
d AS (SELECT declared AS lang, CAST(SUM(n) AS BIGINT) AS n_d
      FROM cells GROUP BY 1),
p AS (SELECT predicted AS lang, CAST(SUM(n) AS BIGINT) AS n_p
      FROM cells GROUP BY 1),
margins AS (
  SELECT COALESCE(d.lang, p.lang) AS lang,
         CAST(COALESCE(d.n_d, 0) AS BIGINT) AS n_d,
         CAST(COALESCE(p.n_p, 0) AS BIGINT) AS n_p
  FROM d FULL JOIN p ON d.lang = p.lang
),
crossm AS (
  SELECT CAST(SUM(n_d * n_p) AS BIGINT) AS cross_sum FROM margins
),
diag AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_total,
         CAST(SUM(CASE WHEN declared = predicted THEN n ELSE 0 END)
              AS BIGINT) AS n_agree
  FROM cells
)
SELECT n_total, n_agree,
       round(n_agree / CAST(n_total AS DOUBLE), 6) AS po,
       round(cross_sum / (CAST(n_total AS DOUBLE) * n_total), 6) AS pe,
       CASE WHEN cross_sum / (CAST(n_total AS DOUBLE) * n_total) < 1.0
            THEN round((n_agree / CAST(n_total AS DOUBLE)
                        - cross_sum / (CAST(n_total AS DOUBLE) * n_total))
                       / (1.0 - cross_sum
                          / (CAST(n_total AS DOUBLE) * n_total)), 6)
       END AS kappa
FROM diag CROSS JOIN crossm
"""
