"""Sampling, splits, mixtures, quality filtering and calibration, chunking/packing, multimodal plumbing, privacy audits."""


from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ...operators import bloom, clustering, countmin, curation, dedup, funnel, heavyhitters, multimodal, profile, simsearch, textstats, theta
from ...operators.profile import profile_table
from ...sources.tables import load_table as _t
from ._shared import (
    X3_SQL,
    X67_SQL,
    _AUTOBKT,
    _STOP_EN,
    _X67_NORM,
    _X73_U,
    _Y_SPLIT_INNER,
    _hex12_int_sql,
    _sign_band_ctes,
    _kmeans_cells_sql,
    _split_docs,
)


# --------------------------------------------------------------------------
# multimodal
# --------------------------------------------------------------------------

def x12_multimodal_features(spark, sf_dir):
    """Opaque-binary pipeline: attach blob → mapInPandas feature extraction
    (byte-frame sampling + byte histogram). Scalar outputs are mirrored in
    plain SQL over the source text (the blob is its utf-8 bytes)."""
    docs = _t(spark, sf_dir, "documents")
    feats = multimodal.extract_features(multimodal.attach_blob(docs))
    return feats.select(
        "doc_id",
        "byte_len",
        "n_frames",
        F.round("mean_byte", 6).alias("mean_byte"),
        F.round(F.element_at("features", 1), 6).alias("f0"),
    )


X12_SQL = r"""
WITH codes AS (
  SELECT doc_id, octet_length(CAST(text AS BLOB)) AS byte_len,
         list_transform(string_split(text, ''), ch -> ascii(ch)) AS cs
  FROM documents
)
SELECT doc_id,
       CAST(byte_len AS BIGINT) AS byte_len,
       CAST(ceil(CAST(greatest(byte_len, 1) AS DOUBLE) / 256) AS BIGINT) AS n_frames,
       round(CAST(list_aggregate(cs, 'sum') AS DOUBLE) / greatest(byte_len, 1), 6) AS mean_byte,
       round(CAST(len(list_filter(cs, c -> c % 8 = 0)) AS DOUBLE) / greatest(byte_len, 1), 6) AS f0
FROM codes
"""


def x18_quality_filter(spark, sf_dir):
    """Quality gate with deterministic first-failing-reason labels."""
    return textstats.quality_filter(_t(spark, sf_dir, "documents"))


X18_SQL = r"""
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS toks,
         CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS digr
  FROM documents
),
derived AS (
  SELECT doc_id,
         CASE WHEN len(toks) < 20 THEN 'too_few_tokens'
              WHEN digr > 0.2 THEN 'too_many_digits'
              WHEN CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum') AS DOUBLE)
                   / greatest(len(toks), 1) < 3.0 THEN 'tokens_too_short'
         END AS reason
  FROM base
)
SELECT doc_id, reason IS NULL AS keep, coalesce(reason, 'ok') AS reason
FROM derived
"""


def x20_frame_sample(spark, sf_dir):
    """Multimodal frame sampling: blob → every 2nd 256-byte frame via
    mapInPandas; compared on frame count + md5 of each frame's bytes."""
    docs = _t(spark, sf_dir, "documents")
    frames = multimodal.frame_sample(multimodal.attach_blob(docs))
    return frames.select(
        "doc_id", "frame_idx", F.md5("frame").alias("frame_md5")
    )


X20_SQL = """
WITH offs AS (
  SELECT doc_id, text,
         unnest(generate_series(1, greatest(length(text), 1), 256)) AS i
  FROM documents
)
SELECT doc_id, CAST((i - 1) // 256 AS BIGINT) AS frame_idx,
       md5(substring(text, i, 256)) AS frame_md5
FROM offs WHERE ((i - 1) // 256) % 2 = 0
"""


_NORM_TOKS_SQL = r"list_filter(regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), '\s+'), t -> t <> '')"


def x21_chunk_documents(spark, sf_dir):
    """Context-window chunking: 100-token chunks, 20-token overlap."""
    from ...operators.chunking import chunk_documents

    return chunk_documents(_t(spark, sf_dir, "documents"))


X21_SQL = rf"""
WITH toked AS (
  SELECT doc_id, {_NORM_TOKS_SQL} AS tk FROM documents
),
idx AS (
  SELECT doc_id, tk,
         unnest(generate_series(0, CAST(greatest(ceil((len(tk) - 20) / 80.0), 1) AS BIGINT) - 1)) AS chunk_idx
  FROM toked
)
SELECT doc_id, chunk_idx,
       array_to_string(tk[chunk_idx * 80 + 1 : chunk_idx * 80 + 100], ' ') AS chunk_text,
       CAST(len(tk[chunk_idx * 80 + 1 : chunk_idx * 80 + 100]) AS INT) AS n_tokens
FROM idx
"""


def x22_pack_sequences(spark, sf_dir):
    """Token-budget sequence packing (512-token packs, id order)."""
    from ...operators.chunking import pack_sequences

    return pack_sequences(_t(spark, sf_dir, "documents"))


X22_SQL = rf"""
WITH sized AS (
  SELECT doc_id, len({_NORM_TOKS_SQL}) AS n_tokens FROM documents
),
cum AS (
  SELECT doc_id, n_tokens,
         SUM(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
  FROM sized
)
SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
       CAST(floor((c - n_tokens) / 512.0) AS BIGINT) AS pack_id,
       CAST((c - n_tokens) % 512 AS BIGINT) AS pack_offset
FROM cum
"""


def x23_stratified_sample(spark, sf_dir):
    """Deterministic stratified subsample: keep the first 20% of docs per
    language (doc_id order) — reproducible corpus downsampling (the seeded
    `sampleBy` analog whose sample is stable across engines/runs)."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("doc_id")
    n = Window.partitionBy("lang")
    return (
        docs.select(
            "doc_id",
            "lang",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(n).alias("n_lang"),
        )
        .where(F.col("rn") <= F.ceil(F.col("n_lang") * 0.2))
        .select("doc_id", "lang")
    )


X23_SQL = """
WITH ranked AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n_lang
  FROM documents
)
SELECT doc_id, lang FROM ranked WHERE rn <= ceil(n_lang * 0.2)
"""


def x24_dataset_split(spark, sf_dir):
    """Stable train/val/test assignment from a content-independent hash of
    the id: bucket = md5 first-two-chars → 0..255; <5% val, <10% test,
    rest train. Identical assignment on any engine — the property that
    matters for split leakage audits."""
    docs = _t(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    bucket = (
        F.ascii(F.substring(h, 1, 1)) * 256 + F.ascii(F.substring(h, 2, 1))
    ) % 100
    split = (
        F.when(bucket < 5, "val").when(bucket < 15, "test").otherwise("train")
    )
    return docs.select("doc_id", split.alias("split")).groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc_id")
    )


X24_SQL = """
WITH assigned AS (
  SELECT doc_id,
         (ascii(substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 256
          + ascii(substring(md5(CAST(doc_id AS VARCHAR)), 2, 1))) % 100 AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < 5 THEN 'val' WHEN bucket < 15 THEN 'test'
            ELSE 'train' END AS split,
       count(*) AS n_docs, MIN(doc_id) AS min_doc_id
FROM assigned GROUP BY 1
"""


def x26_resize_images(spark, sf_dir):
    """Multimodal resize (stub decoder, nearest-neighbor byte sampling to
    16×8): compared on the md5 of the resized payload — the sampling index
    math is mirrored in plain SQL over the source text bytes."""
    docs = _t(spark, sf_dir, "documents")
    resized = multimodal.resize_images(
        multimodal.attach_blob(docs), width=16, height=8
    )
    return resized.select(
        "doc_id", "width", "height", F.md5("resized").alias("resized_md5")
    )


X26_SQL = """
WITH sampled AS (
  SELECT doc_id,
         array_to_string(
           list_transform(generate_series(0, 127),
                          i -> substring(text, 1 + (i * length(text)) // 128, 1)),
           '') AS resized
  FROM documents
)
SELECT doc_id, 16 AS width, 8 AS height, md5(resized) AS resized_md5
FROM sampled
"""


def x34_domain_caps(spark, sf_dir):
    """Per-domain quota (curation.cap_per_group): keep <= 15 docs per
    source, drawn by (md5(text), doc_id) so the selection is deterministic
    and content-unbiased — the C4/RefinedWeb-style cap that stops one hot
    domain from dominating the corpus. Bounded two-phase top-k, so a
    billion-row domain never funnels through one reducer."""
    d = _t(spark, sf_dir, "documents")
    return curation.cap_per_group(
        d, "source", 15, order_cols=[F.md5("text"), F.col("doc_id")]
    ).select(
        "source", "doc_id", F.col("group_rank").cast("bigint").alias("group_rank")
    )


X34_SQL = """
SELECT source, doc_id, CAST(rk AS BIGINT) AS group_rank
FROM (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source ORDER BY md5(text), doc_id) AS rk
  FROM documents
)
WHERE rk <= 15
"""


def x40_weighted_sample(spark, sf_dir):
    """Weighted sample without replacement (curation.weighted_sample):
    10 docs per language by sequential Poisson sampling, weight =
    length(text)+1 — longer docs proportionally likelier, yet the draw
    is a pure function of doc_id (engine/run/partitioning reproducible)."""
    d = _t(spark, sf_dir, "documents")
    return curation.weighted_sample(
        d.select(
            "doc_id", "lang", (F.length("text") + 1).cast("bigint").alias("w")
        ),
        k=10,
        weight_col=F.col("w"),
        strata_col="lang",
    )


_X40_U = " + ".join(
    # Horner would nest 6 deep; the positional-weight sum is the same
    # exact integer and keeps the SQL readable.
    f"(ascii(substring(h, {i}, 1)) - CASE WHEN ascii(substring(h, {i}, 1)) >= 97 "
    f"THEN 87 ELSE 48 END) * {16 ** (6 - i)}"
    for i in range(1, 7)
)

X40_SQL = f"""
WITH base AS (
  SELECT doc_id, lang, CAST(length(text) + 1 AS BIGINT) AS w,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
), pri AS (
  SELECT doc_id, lang, w,
         CAST({_X40_U} AS DOUBLE) / CAST(w AS DOUBLE) AS pri
  FROM base
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY pri, doc_id) AS rn
  FROM pri
)
SELECT doc_id, lang, w, pri FROM ranked WHERE rn <= 10
"""


def x46_split_drift(spark, sf_dir):
    """Distribution-drift audit between hash-assigned train and test
    splits: per-language share in each split plus the (add-one smoothed)
    KL(train‖test) contribution — the pre-training sanity check that a
    deterministic split did not skew a covariate. Scale notes: two
    map-side-combinable counts over the scan; the per-split totals and
    the language universe are broadcast-sized; nothing shuffles document
    text."""
    docs = _t(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    bucket = (
        F.ascii(F.substring(h, 1, 1)) * 256 + F.ascii(F.substring(h, 2, 1))
    ) % 100
    split = (
        F.when(bucket < 5, "val").when(bucket < 15, "test").otherwise("train")
    )
    counts = (
        docs.select(split.alias("split"), "lang")
        .where(F.col("split") != "val")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    langs = docs.select("lang").distinct()
    n_langs = langs.count()
    grid = langs.crossJoin(
        counts.select("split").distinct()
    )
    full = grid.join(counts, ["split", "lang"], "left").fillna(0, ["n"])
    totals = full.groupBy("split").agg(F.sum("n").alias("tot"))
    smoothed = full.join(F.broadcast(totals), "split").select(
        "lang",
        "split",
        "n",
        ((F.col("n") + 1) / (F.col("tot") + n_langs)).alias("p"),
    )
    tr = smoothed.where(F.col("split") == "train").select(
        "lang", F.col("n").alias("n_train"), F.col("p").alias("p_tr")
    )
    te = smoothed.where(F.col("split") == "test").select(
        "lang", F.col("n").alias("n_test"), F.col("p").alias("p_te")
    )
    return (
        tr.join(te, "lang")
        .select(
            "lang",
            "n_train",
            "n_test",
            F.round("p_tr", 6).alias("p_train"),
            F.round("p_te", 6).alias("p_test"),
            F.round(
                F.col("p_tr") * F.log(F.col("p_tr") / F.col("p_te")), 6
            ).alias("kl_term"),
        )
        .orderBy("lang")
    )


X46_SQL = """
WITH assigned AS (
  SELECT lang,
         CASE WHEN b < 5 THEN 'val' WHEN b < 15 THEN 'test' ELSE 'train' END AS split
  FROM (
    SELECT lang,
           (ascii(substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 256
            + ascii(substring(md5(CAST(doc_id AS VARCHAR)), 2, 1))) % 100 AS b
    FROM documents
  )
),
langs AS (SELECT DISTINCT lang FROM documents),
nl AS (SELECT count(*) AS n_langs FROM langs),
counts AS (
  SELECT s.split, l.lang, COALESCE(c.n, 0) AS n
  FROM (SELECT DISTINCT split FROM assigned WHERE split <> 'val') s
  CROSS JOIN langs l
  LEFT JOIN (
    SELECT split, lang, count(*) AS n FROM assigned
    WHERE split <> 'val' GROUP BY 1, 2
  ) c ON c.split = s.split AND c.lang = l.lang
),
totals AS (SELECT split, SUM(n) AS tot FROM counts GROUP BY 1),
sm AS (
  SELECT c.lang, c.split, c.n,
         (c.n + 1) / (t.tot + nl.n_langs) AS p
  FROM counts c JOIN totals t USING (split) CROSS JOIN nl
)
SELECT tr.lang,
       tr.n AS n_train,
       te.n AS n_test,
       round(tr.p, 6) AS p_train,
       round(te.p, 6) AS p_test,
       round(tr.p * ln(tr.p / te.p), 6) AS kl_term
FROM (SELECT * FROM sm WHERE split = 'train') tr
JOIN (SELECT * FROM sm WHERE split = 'test') te USING (lang)
ORDER BY tr.lang
"""


def x50_mixture_allocation(spark, sf_dir):
    """Temperature-scaled pre-training mixture (T=2, the flattening
    multilingual-sampling setting): per-source sampling share ∝
    token_share^(1/T) and a largest-remainder integer budget of 1000
    docs (operators/curation.mixture_allocation)."""
    return curation.mixture_allocation(
        _t(spark, sf_dir, "documents"), budget=1000, temperature=2.0
    )


X50_SQL = r"""
WITH g AS (
  SELECT source,
         count(*) AS n_docs,
         CAST(SUM(len(list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> ''))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1
),
tot AS (SELECT SUM(n_tokens) AS tot FROM g),
wtd AS (
  SELECT source, n_docs, n_tokens,
         pow(n_tokens / tot.tot, 1.0 / 2.0) AS w
  FROM g CROSS JOIN tot
),
ws AS (SELECT SUM(w) AS ws FROM wtd),
scored AS (
  SELECT source, n_docs, n_tokens,
         w / ws.ws AS p,
         floor(w / ws.ws * 1000) AS base,
         w / ws.ws * 1000 - floor(w / ws.ws * 1000) AS frac
  FROM wtd CROSS JOIN ws
),
ranked AS (
  SELECT *,
         row_number() OVER (ORDER BY frac DESC, source) AS fr,
         1000 - SUM(base) OVER () AS short
  FROM scored
)
SELECT source, n_docs, n_tokens,
       round(p, 6) AS p,
       CAST(base + CASE WHEN fr <= short THEN 1 ELSE 0 END AS BIGINT) AS alloc_docs
FROM ranked ORDER BY source
"""


def x53_split_leakage(spark, sf_dir):
    """Split-leakage audit: documents whose normalized 160-char OPENING
    PASSAGE lands in BOTH the train and test splits of the x24 hash
    assignment — the exact-dup counterpart of x46's distribution drift
    (leaked content inflates eval). The prefix fingerprint (vs whole-doc
    hash) catches shared boilerplate/header contamination and keeps the
    audit non-vacuous at small SF, where full-content duplicates don't
    exist; whole-doc leakage is a strict subset of prefix leakage. Scale
    notes: one (hash, split) aggregate — the shuffle carries md5+counts,
    never text; the HAVING-both filter is a 2-value conditional count on
    the same aggregate, no self-join."""
    docs = _t(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    bucket = (
        F.ascii(F.substring(h, 1, 1)) * 256 + F.ascii(F.substring(h, 2, 1))
    ) % 100
    split = (
        F.when(bucket < 5, "val").when(bucket < 15, "test").otherwise("train")
    )
    content = F.md5(
        F.substring(
            F.trim(
                F.regexp_replace(
                    F.regexp_replace(
                        F.lower(F.col("text")), "[^a-z0-9\\s]", " "
                    ),
                    "\\s+",
                    " ",
                )
            ),
            1,
            160,
        )
    )
    return (
        docs.select(content.alias("content_hash"), split.alias("split"), "doc_id")
        .where(F.col("split") != "val")
        .groupBy("content_hash")
        .agg(
            F.sum((F.col("split") == "train").cast("int")).alias("n_train"),
            F.sum((F.col("split") == "test").cast("int")).alias("n_test"),
            F.min(F.when(F.col("split") == "train", F.col("doc_id"))).alias(
                "train_doc"
            ),
            F.min(F.when(F.col("split") == "test", F.col("doc_id"))).alias(
                "test_doc"
            ),
        )
        .where((F.col("n_train") > 0) & (F.col("n_test") > 0))
        .orderBy("content_hash")
    )


X53_SQL = r"""
WITH assigned AS (
  SELECT doc_id,
         md5(substring(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), 1, 160)) AS content_hash,
         CASE WHEN b < 5 THEN 'val' WHEN b < 15 THEN 'test' ELSE 'train' END AS split
  FROM (
    SELECT doc_id, text,
           (ascii(substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 256
            + ascii(substring(md5(CAST(doc_id AS VARCHAR)), 2, 1))) % 100 AS b
    FROM documents
  )
)
SELECT content_hash,
       CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
       CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
       MIN(CASE WHEN split = 'train' THEN doc_id END) AS train_doc,
       MIN(CASE WHEN split = 'test' THEN doc_id END) AS test_doc
FROM assigned
WHERE split <> 'val'
GROUP BY content_hash
HAVING SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) > 0
   AND SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) > 0
ORDER BY content_hash
"""


def x61_k_anonymity(spark, sf_dir):
    """k-anonymity release gate (operators/quality.py): class-size
    histogram over the customer quasi-identifiers (nation, segment,
    balance band) with the under-k risk flag — the governance audit
    that complements PII scrubbing (x16) before a dataset ships. Two
    map-side-combinable rollups; shuffles carry per-class then per-size
    rows only."""
    from ...operators.quality import k_anonymity_histogram

    cust = _t(spark, sf_dir, "customer")
    return k_anonymity_histogram(
        cust,
        {
            "nation": F.col("c_nationkey"),
            "segment": F.col("c_mktsegment"),
            "bal_band": F.floor(F.col("c_acctbal") / 2000),
        },
        k=4,
    )


X61_SQL = """
WITH classes AS (
  SELECT c_nationkey AS nation, c_mktsegment AS segment,
         floor(c_acctbal / 2000) AS bal_band, count(*) AS class_size
  FROM customer GROUP BY 1, 2, 3
)
SELECT class_size, count(*) AS n_classes,
       class_size * count(*) AS n_rows,
       class_size < 4 AS at_risk
FROM classes GROUP BY class_size
"""


def x71_materialize_mixture(spark, sf_dir):
    """Mixture MATERIALIZATION (curation.materialize_mixture): actually
    draw the temperature-scaled per-source quotas x50 plans — broadcast
    G-row allocation joined to docs, deterministic md5 priority,
    variable-quota two-phase bounded top-k. Same (T=2, budget=1000)
    settings as x50, so the drawn counts reconcile with its plan."""
    return curation.materialize_mixture(
        _t(spark, sf_dir, "documents"), budget=1000, temperature=2.0
    )


X71_SQL = rf"""
WITH g AS (
  SELECT source,
         count(*) AS n_docs,
         SUM(len(list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> ''))) AS n_tokens
  FROM documents GROUP BY 1
),
tot AS (SELECT SUM(n_tokens) AS tot FROM g),
wtd AS (
  SELECT source, n_docs, n_tokens, pow(n_tokens / tot.tot, 1.0 / 2.0) AS w
  FROM g CROSS JOIN tot
),
ws AS (SELECT SUM(w) AS ws FROM wtd),
scored AS (
  SELECT source,
         floor(w / ws.ws * 1000) AS base,
         w / ws.ws * 1000 - floor(w / ws.ws * 1000) AS frac
  FROM wtd CROSS JOIN ws
),
alloc AS (
  SELECT source,
         CAST(base + CASE WHEN row_number() OVER (ORDER BY frac DESC, source)
                          <= 1000 - SUM(base) OVER () THEN 1 ELSE 0 END AS BIGINT) AS alloc_docs
  FROM scored
),
pri AS (
  SELECT source, doc_id, md5(CAST(doc_id AS VARCHAR) || '-mix') AS h
  FROM documents
),
drawn AS (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source ORDER BY ({_X40_U}), doc_id) AS rn
  FROM pri
)
SELECT d.source, d.doc_id, CAST(d.rn AS BIGINT) AS draw_rank
FROM drawn d JOIN alloc a USING (source)
WHERE d.rn <= a.alloc_docs
"""


def x72_purged_temporal_split(spark, sf_dir):
    """Leakage-safe TEMPORAL train/test split with a purge embargo (the
    financial-ML purged-split discipline, after de Prado): train is
    strictly before the cutoff, test strictly after cutoff + embargo,
    and the embargo window is EXCLUDED — rows whose time is too close
    to the boundary leak forward-looking signal into features built
    with trailing windows, so they belong to neither split. Hash splits
    (x24) can't give this guarantee for time-series features. One
    scan, one map-side-combinable aggregate; the split expression is a
    pure date comparison, so partition pruning on o_orderdate still
    applies under either split at scale."""
    o = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    cutoff = F.lit("1999-01-01").cast("date")
    embargo_end = F.date_add(cutoff, 30)
    split = (
        F.when(d < cutoff, "train")
        .when(d >= embargo_end, "test")
        .otherwise("embargo")
    )
    return (
        o.select(
            split.alias("split"),
            d.alias("d"),
            F.col("o_totalprice"),
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            F.min("d").alias("first_date"),
            F.max("d").alias("last_date"),
        )
    )


X72_SQL = """
SELECT CASE WHEN CAST(o_orderdate AS DATE) < DATE '1999-01-01' THEN 'train'
            WHEN CAST(o_orderdate AS DATE) >= DATE '1999-01-31' THEN 'test'
            ELSE 'embargo' END AS split,
       count(*) AS n_orders,
       round(SUM(o_totalprice), 2) AS total_price,
       MIN(CAST(o_orderdate AS DATE)) AS first_date,
       MAX(CAST(o_orderdate AS DATE)) AS last_date
FROM orders
GROUP BY 1
"""


def x73_negative_sampling(spark, sf_dir):
    """Contrastive negative sampling over embeddings: for each anchor
    vector, 3 deterministic cross-label negatives — the pair-mining
    stage of contrastive/triplet training. Candidates are blocked on an
    md5 bucket of the NEGATIVE id, so each anchor joins one bucket,
    never the full table, and the draw stays a pure function of the id
    pair (engine/run/partitioning reproducible). Since r9 the bucket
    count auto-sizes to ceil(N/256) (the x185 _AUTOBKT recipe) instead
    of a fixed 16: with fixed buckets the join's row count carried an
    N²/16 term (measured FLAT at 10× — 0.8, the pair rows are two longs
    and overhead dominates — but the term loses to any corpus
    eventually); auto-sizing pins per-anchor candidates at ~256 at any
    scale. Shuffle carries (ids, label, bucket) only — vectors are not
    needed for mining."""
    emb = _t(spark, sf_dir, "embeddings")
    from ...operators.curation import _hex_uniform_int

    nb = max(1, -(-emb.count() // 256))
    a = emb.select(F.col("vec_id").alias("anchor_id"), F.col("label").alias("a_label"))
    neg_bucket = _hex_uniform_int(F.concat(F.col("vec_id").cast("string"), F.lit("-nb"))) % nb
    n = emb.select(
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("n_label"),
        neg_bucket.alias("bkt"),
    )
    anchor_bucket = (
        _hex_uniform_int(F.concat(F.col("anchor_id").cast("string"), F.lit("-ab"))) % nb
    )
    pri = _hex_uniform_int(
        F.concat(
            F.col("anchor_id").cast("string"), F.lit("/"), F.col("neg_id").cast("string")
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("anchor_id").orderBy("pri", "neg_id")
    return (
        a.withColumn("bkt", anchor_bucket)
        .join(n, "bkt")
        .where(F.col("a_label") != F.col("n_label"))
        .select("anchor_id", "neg_id", pri.alias("pri"))
        .withColumn("neg_rank", F.row_number().over(w))
        .where(F.col("neg_rank") <= 3)
        .select(
            "anchor_id", "neg_id", F.col("neg_rank").cast("long").alias("neg_rank")
        )
    )

X73_SQL = f"""
WITH a AS (
  SELECT vec_id AS anchor_id, label AS a_label,
         ({_X73_U("md5(CAST(vec_id AS VARCHAR) || '-ab')")}) {_AUTOBKT}
  FROM embeddings
),
n AS (
  SELECT vec_id AS neg_id, label AS n_label,
         ({_X73_U("md5(CAST(vec_id AS VARCHAR) || '-nb')")}) {_AUTOBKT}
  FROM embeddings
),
pairs AS (
  SELECT anchor_id, neg_id,
         ({_X73_U("md5(CAST(anchor_id AS VARCHAR) || '/' || CAST(neg_id AS VARCHAR))")}) AS pri
  FROM a JOIN n USING (bkt)
  WHERE a.a_label <> n.n_label
),
ranked AS (
  SELECT anchor_id, neg_id,
         row_number() OVER (PARTITION BY anchor_id ORDER BY pri, neg_id) AS rn
  FROM pairs
)
SELECT anchor_id, neg_id, CAST(rn AS BIGINT) AS neg_rank
FROM ranked WHERE rn <= 3
"""


def x76_label_noise(spark, sf_dir):
    """Label-noise detection via neighborhood disagreement (the
    confident-learning signal): for each vector, the fraction of its
    k=5 nearest candidate neighbors carrying a DIFFERENT label; high
    disagreement with enough neighbors flags a suspect label. The
    block is the x51 8-bit sign bucket — label-independent (so
    cross-label neighbors are visible) and deterministic — ANDed,
    since round 9, with an x8 md5 sign-LSH band bucket (32 planes / 4
    bands, hot (bkt, bucket) cap 64): the raw bucket's 256 FIXED cells
    made per-bucket occupancy — and the pair scan — grow with the
    corpus (3.6× on the r9 10× sweep); the band term caps pair work by
    bucket geometry. Cosine and ranking are JVM-side."""
    from pyspark.sql import Window

    from ...functions.vectors import cosine_from_norms, l2_norm
    from ...operators.dedup import _cooled_band_buckets

    emb = _t(spark, sf_dir, "embeddings")
    bucket = sum(
        F.coalesce((F.get("embedding", i) >= 0).cast("int"), F.lit(0)) * (1 << i)
        for i in range(8)
    ).alias("bkt")
    # norms once per vector, not per pair (bit-identical cosine)
    e = emb.select(
        F.col("vec_id").alias("vid"), "label", bucket, F.col("embedding").alias("v")
    ).withColumn("nrm", l2_norm(F.col("v")))
    # dim inferred (not a 64 literal): a wrong literal would NULL every
    # bucket via zip_with padding and silently emit zero candidates
    dim = len(emb.select("embedding").first()[0])
    cool, keys = _cooled_band_buckets(
        e.select("vid", "label", "bkt", "v"),
        keep=["vid", "label", "bkt"],
        block_keys=["bkt"],
        vec_col="v",
        dim=dim,
    )
    cand = (
        cool.alias("a")
        .join(cool.alias("b"), keys)
        .where(F.col("a.vid") != F.col("b.vid"))
        .select(
            F.col("a.vid").alias("vec_id"),
            F.col("a.label").alias("label"),
            F.col("b.label").alias("n_label"),
            F.col("b.vid").alias("nid"),
        )
        .dropDuplicates(["vec_id", "nid"])
    )
    # vectors re-attach by id AFTER the candidate distinct; 6-decimal
    # rounding BEFORE the rank window (the x13/x7 convention): Spark's
    # sequential zip_with fold and DuckDB's unordered SUM can differ in
    # the last ulp, which would flip row_number at near-ties
    av = e.select(
        F.col("vid").alias("vec_id"), F.col("v").alias("av"), F.col("nrm").alias("anrm")
    )
    bv = e.select(
        F.col("vid").alias("nid"), F.col("v").alias("bv"), F.col("nrm").alias("bnrm")
    )
    pairs = cand.join(av, "vec_id").join(bv, "nid").select(
        "vec_id",
        "label",
        "n_label",
        "nid",
        F.round(
            cosine_from_norms(
                F.col("av"), F.col("bv"), F.col("anrm"), F.col("bnrm")
            ),
            6,
        ).alias("sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), "nid")
    top = pairs.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 5)
    return (
        top.groupBy("vec_id", "label")
        .agg(
            F.count(F.lit(1)).alias("n_neighbors"),
            F.count_if(F.col("n_label") != F.col("label")).alias("n_disagree"),
        )
        .select(
            "vec_id",
            "label",
            "n_neighbors",
            "n_disagree",
            F.round(F.col("n_disagree") / F.col("n_neighbors"), 6).alias(
                "disagree_frac"
            ),
            (
                (F.col("n_neighbors") >= 3)
                & (F.col("n_disagree") / F.col("n_neighbors") >= 0.6)
            ).alias("suspect"),
        )
    )


# since r9: the X239 md5 band chain ANDed into the raw 8-bit sign bucket
# (hot (bkt, bucket) groups dropped at 64) — the bucket-only scan's pair
# space grew with the corpus (fixed 256 cells, 3.6× on the 10× smoke)
X76_SQL = f"""
WITH e AS (
  SELECT vec_id, label, embedding,
         (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
       + (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END)
       + (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END)
       + (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END)
       + (CASE WHEN embedding[5] >= 0 THEN 16 ELSE 0 END)
       + (CASE WHEN embedding[6] >= 0 THEN 32 ELSE 0 END)
       + (CASE WHEN embedding[7] >= 0 THEN 64 ELSE 0 END)
       + (CASE WHEN embedding[8] >= 0 THEN 128 ELSE 0 END) AS bkt
  FROM embeddings
),
elem AS (
  SELECT vec_id, bkt, label, CAST(unnest(embedding) AS DOUBLE) AS v,
         generate_subscripts(embedding, 1) AS i
  FROM e
),
{_sign_band_ctes(join="ON pl.i = el.i - 1", a="el")}
buckets AS (
  SELECT k.vec_id, e.label, e.bkt, k.band * 4294967296 + k.key AS bucket
  FROM bkeys k JOIN e USING (vec_id)
),
hot AS (
  SELECT bkt, bucket FROM buckets GROUP BY 1, 2 HAVING count(*) > 64
),
cool AS (
  SELECT vec_id, label, bkt, bucket FROM buckets bu
  WHERE NOT EXISTS (SELECT 1 FROM hot h
                    WHERE h.bkt = bu.bkt AND h.bucket = bu.bucket)
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_id, a.label AS label,
         b.vec_id AS nid, b.label AS n_label
  FROM cool a
  JOIN cool b ON a.bkt = b.bkt AND a.bucket = b.bucket
             AND a.vec_id <> b.vec_id
),
norms AS (SELECT vec_id, sqrt(SUM(v * v)) AS nrm FROM elem GROUP BY 1),
dots AS (
  SELECT c.vec_id, c.label, c.nid, c.n_label, SUM(a.v * b.v) AS dot
  FROM cand c
  JOIN elem a ON a.vec_id = c.vec_id
  JOIN elem b ON b.vec_id = c.nid AND b.i = a.i
  GROUP BY 1, 2, 3, 4
),
sims AS (
  SELECT d.vec_id, d.label, d.nid, d.n_label,
         round(d.dot / (na.nrm * nb.nrm), 6) AS sim
  FROM dots d
  JOIN norms na ON d.vec_id = na.vec_id
  JOIN norms nb ON d.nid = nb.vec_id
),
top AS (
  SELECT * FROM (
    SELECT vec_id, label, n_label,
           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, nid) AS rn
    FROM sims
  ) WHERE rn <= 5
)
SELECT vec_id, label,
       count(*) AS n_neighbors,
       CAST(count(*) FILTER (n_label <> label) AS BIGINT) AS n_disagree,
       round(CAST(count(*) FILTER (n_label <> label) AS DOUBLE) / count(*), 6) AS disagree_frac,
       (count(*) >= 3 AND CAST(count(*) FILTER (n_label <> label) AS DOUBLE) / count(*) >= 0.6) AS suspect
FROM top
GROUP BY vec_id, label
"""


def x82_audio_energy(spark, sf_dir):
    """Audio-style windowed RMS energy + silence detection over the
    opaque blob column (multimodal.audio_window_energy): 128-sample
    8-bit-PCM frames, 6-dp-rounded window RMS, silence fraction at
    rms < 20, and the peak window — the VAD/silence-trim signal an
    audio curation pipeline runs before transcription. Decode is the
    sanctioned byte-view stub; the Spark plumbing (binary column,
    Arrow-batched mapInPandas, numpy reshape per batch) is the real
    contract, and every statistic mirrors into X82_SQL's byte
    arithmetic (the corpus is pure ASCII, so ascii(substring) IS the
    byte — asserted by the driver compare itself)."""
    docs = _t(spark, sf_dir, "documents")
    return multimodal.audio_window_energy(multimodal.attach_blob(docs))


X82_SQL = """
WITH idx AS (
  SELECT doc_id, text,
         unnest(generate_series(1, (length(text) // 128) * 128)) AS i
  FROM documents
  WHERE length(text) >= 128
),
samples AS (
  SELECT doc_id, (i - 1) // 128 AS w,
         CAST(ascii(substring(text, i, 1)) AS DOUBLE) - 128.0 AS s
  FROM idx
),
win AS (
  SELECT doc_id, w, round(sqrt(avg(s * s)), 6) AS rms
  FROM samples GROUP BY 1, 2
),
agg AS (
  SELECT doc_id,
         count(*) AS n_windows,
         -- integer micro-unit mean with half-up division: a float avg of
         -- 6-dp values ties at .5 constantly and ulp order flips it
         ((2 * SUM(CAST(round(rms * 1000000) AS BIGINT)) + count(*))
          // (2 * count(*))) / 1000000.0 AS mean_rms,
         round(CAST(count(*) FILTER (rms < 20.0) AS DOUBLE) / count(*), 6) AS silence_frac
  FROM win GROUP BY doc_id
),
peak AS (
  SELECT doc_id, rms AS peak_rms, CAST(w AS INT) AS peak_window
  FROM (
    SELECT doc_id, rms, w,
           row_number() OVER (PARTITION BY doc_id ORDER BY rms DESC, w) AS rn
    FROM win
  ) WHERE rn = 1
)
SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_samples,
       a.n_windows, a.mean_rms, a.silence_frac, p.peak_rms, p.peak_window
FROM documents d JOIN agg a USING (doc_id) JOIN peak p USING (doc_id)
"""


def x88_quality_calibration(spark, sf_dir):
    """Cross-source quality-score calibration
    (curation.calibrate_quality): each doc's within-source percent-rank
    mapped through the corpus inverse-ECDF — quantile normalization
    before mixing heterogeneous sources. The corpus CDF is bounded by
    the 16-point quality lattice (collected, re-embedded as literal
    arrays); rank arithmetic is exact int/int in both engines, so every
    value is oracle-checked bit-for-bit."""
    return curation.calibrate_quality(_t(spark, sf_dir, "documents"))


X88_SQL = rf"""
WITH qual AS (
  SELECT doc_id, source,
         CAST(round(CASE WHEN n_tokens BETWEEN 10 AND 10000 THEN 0.4 ELSE 0 END
             + CASE WHEN mtl BETWEEN 3.0 AND 10.0 THEN 0.3 ELSE 0 END
             + CASE WHEN swr >= 0.01 THEN 0.2 ELSE 0 END
             + CASE WHEN digr <= 0.2 THEN 0.1 ELSE 0 END, 4) AS DOUBLE) AS q
  FROM (
    SELECT doc_id, source,
           len(toks) AS n_tokens,
           CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum') AS DOUBLE)
             / greatest(len(toks), 1) AS mtl,
           CAST(len(list_filter(list_transform(toks, t -> lower(t)),
                    t -> list_contains({_STOP_EN}, t))) AS DOUBLE)
             / greatest(len(toks), 1) AS swr,
           CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
             / greatest(length(text), 1) AS digr
    FROM (
      SELECT doc_id, source, text,
             list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS toks
      FROM documents
    )
  )
),
cdf AS (
  SELECT q AS qv,
         CAST(SUM(COUNT(*)) OVER (ORDER BY q
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           / (SELECT COUNT(*) FROM qual) AS cf
  FROM qual GROUP BY q
),
ranked AS (
  SELECT doc_id, source, q,
         percent_rank() OVER (PARTITION BY source ORDER BY q, doc_id) AS r
  FROM qual
)
SELECT rk.doc_id, rk.source, rk.q,
       round(rk.r, 6) AS src_rank,
       (SELECT MIN(qv) FROM cdf WHERE cf >= rk.r) AS q_calibrated
FROM ranked rk
"""


def x90_budget_selection(spark, sf_dir):
    """Quality-greedy selection under a per-source token budget
    (curation.select_within_token_budget): each source keeps its
    best-quality prefix whose running token total fits 1000 tokens —
    materializing a token quota rather than a doc-count quota."""
    return curation.select_within_token_budget(
        _t(spark, sf_dir, "documents"), budget_tokens=1000
    )


X90_SQL = rf"""
WITH q AS (
  SELECT doc_id, source,
         CAST(round(CASE WHEN n_tokens BETWEEN 10 AND 10000 THEN 0.4 ELSE 0 END
             + CASE WHEN mtl BETWEEN 3.0 AND 10.0 THEN 0.3 ELSE 0 END
             + CASE WHEN swr >= 0.01 THEN 0.2 ELSE 0 END
             + CASE WHEN digr <= 0.2 THEN 0.1 ELSE 0 END, 4) AS DOUBLE) AS q,
         CAST(n_tokens AS INT) AS n_tokens
  FROM (
    SELECT doc_id, source,
           len(toks) AS n_tokens,
           CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum') AS DOUBLE)
             / greatest(len(toks), 1) AS mtl,
           CAST(len(list_filter(list_transform(toks, t -> lower(t)),
                    t -> list_contains({_STOP_EN}, t))) AS DOUBLE)
             / greatest(len(toks), 1) AS swr,
           CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
             / greatest(length(text), 1) AS digr
    FROM (
      SELECT doc_id, source, text,
             list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS toks
      FROM documents
    )
  )
),
ranked AS (
  SELECT doc_id, source, q, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY q DESC, doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_tokens
  FROM q
)
SELECT doc_id, source, q, n_tokens, cum_tokens
FROM ranked WHERE cum_tokens <= 1000
"""


def x91_dsir_weights(spark, sf_dir):
    """DSIR-style importance weights (curation.dsir_importance_weights):
    mean per-token log-likelihood ratio of the add-1-smoothed src0
    unigram LM vs the corpus LM, for every out-of-target doc — the
    importance-resampling signal that steers a raw crawl toward a
    curated target distribution. Mean rounded to 4 dp (y1 convention)
    so summation order cannot leak cross-engine."""
    return curation.dsir_importance_weights(
        _t(spark, sf_dir, "documents"), target_source="src0"
    )


X91_SQL = rf"""
WITH tok AS (
  SELECT doc_id, source, unnest({_X67_NORM}) AS w FROM documents
),
tfreq AS (
  SELECT w, count(*) AS ct FROM tok WHERE source = 'src0' GROUP BY w
),
cfreq AS (SELECT w, count(*) AS cc FROM tok GROUP BY w),
tot AS (
  SELECT CAST(SUM(cc) AS DOUBLE) AS nc, CAST(COUNT(*) AS DOUBLE) AS v
  FROM cfreq
),
ttot AS (SELECT CAST(COALESCE(SUM(ct), 0) AS DOUBLE) AS nt FROM tfreq),
scored AS (
  SELECT p.doc_id, p.source,
         COUNT(*) AS n_tokens,
         round(AVG(ln((COALESCE(f.ct, 0) + 1) / (ttot.nt + tot.v))
                 - ln((c.cc + 1) / (tot.nc + tot.v))), 4) + 0.0
           AS mean_log_ratio
  FROM tok p
  JOIN cfreq c USING (w)
  LEFT JOIN tfreq f USING (w)
  CROSS JOIN tot CROSS JOIN ttot
  WHERE p.source <> 'src0'
  GROUP BY p.doc_id, p.source
)
SELECT doc_id, source, n_tokens, mean_log_ratio,
       mean_log_ratio > 0 AS target_like
FROM scored
"""


def x92_padding_audit(spark, sf_dir):
    """Sequence-length bucketing padding audit: clip each doc's token
    count at max_seq=256, assign the power-of-2 length bucket
    (16/32/64/128/256 — exact integer CASE, no float log), and report
    per bucket how many padded tokens a bucketed batcher would burn —
    the throughput accounting that decides bucket boundaries before
    packing (x22 packs; this measures what naive bucketing costs).
    One scan + a 5-group aggregate; every term map-side combinable."""
    docs = _t(spark, sf_dir, "documents")
    n = F.least(textstats.token_count(F.col("text")), F.lit(256))
    bucket = (
        F.when(n <= 16, 16)
        .when(n <= 32, 32)
        .when(n <= 64, 64)
        .when(n <= 128, 128)
        .otherwise(256)
    )
    return (
        docs.select(n.alias("eff_tokens"), bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("eff_tokens").cast("long").alias("sum_tokens"),
            (F.count(F.lit(1)) * F.col("bucket")).alias("sum_padded"),
            F.round(
                F.lit(1.0)
                - F.sum("eff_tokens") / (F.count(F.lit(1)) * F.col("bucket")),
                6,
            ).alias("waste_frac"),
        )
    )


X92_SQL = r"""
WITH t AS (
  SELECT least(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                               x -> x <> '')), 256) AS eff_tokens
  FROM documents
),
b AS (
  SELECT eff_tokens,
         CASE WHEN eff_tokens <= 16 THEN 16
              WHEN eff_tokens <= 32 THEN 32
              WHEN eff_tokens <= 64 THEN 64
              WHEN eff_tokens <= 128 THEN 128
              ELSE 256 END AS bucket
  FROM t
)
SELECT bucket, COUNT(*) AS n_docs,
       CAST(SUM(eff_tokens) AS BIGINT) AS sum_tokens,
       COUNT(*) * bucket AS sum_padded,
       round(1.0 - CAST(SUM(eff_tokens) AS DOUBLE) / (COUNT(*) * bucket), 6)
         AS waste_frac
FROM b GROUP BY bucket
"""


def x97_dataset_card(spark, sf_dir):
    """Per-source dataset card (curation.dataset_card): volume, language
    mix, exact-dup rate, mean quality — the datasheet a corpus release
    ships. One scan, one source-keyed aggregate."""
    return curation.dataset_card(_t(spark, sf_dir, "documents"))


X97_SQL = rf"""
WITH base AS (
  SELECT source, lang, text,
         list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS toks,
         CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS digr
  FROM documents
),
derived AS (
  SELECT source, lang, text, len(toks) AS n_tok,
         CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum') AS DOUBLE)
           / greatest(len(toks), 1) AS mtl,
         CAST(len(list_filter(list_transform(toks, t -> lower(t)),
                  t -> list_contains({_STOP_EN}, t))) AS DOUBLE)
           / greatest(len(toks), 1) AS swr,
         digr
  FROM base
),
q AS (
  SELECT source, lang, text, n_tok,
         CASE WHEN n_tok BETWEEN 10 AND 10000 THEN 0.4 ELSE 0.0 END
           + CASE WHEN mtl BETWEEN 3.0 AND 10.0 THEN 0.3 ELSE 0.0 END
           + CASE WHEN swr >= 0.01 THEN 0.2 ELSE 0.0 END
           + CASE WHEN digr <= 0.2 THEN 0.1 ELSE 0.0 END AS quality
  FROM derived
)
SELECT source,
       count(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       CAST(SUM(length(text)) AS BIGINT) AS n_chars,
       count(DISTINCT lang) AS n_langs,
       round(avg(CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END), 6) AS share_en,
       round(1.0 - CAST(count(DISTINCT md5(text)) AS DOUBLE) / count(*), 6)
         AS dup_rate,
       round(avg(quality), 6) AS mean_quality
FROM q GROUP BY source
"""


def x103_coverage_sample(spark, sf_dir):
    """Cluster-coverage subsample (clustering.coverage_sample): a
    200-vector budget allocated across the x30 k-means cells
    proportional to sqrt(cell size) (largest-remainder, capped at cell
    size), each cell's quota drawn by deterministic md5 priority — the
    diversity-preserving alternative to uniform subsampling (head
    clusters capped, tail clusters still represented). The oracle
    replays the x30 Lloyd fixed point then mirrors the x50 allocation
    and x40 priority conventions."""
    emb = _t(spark, sf_dir, "embeddings")
    model = clustering.kmeans_fit(
        emb, k=8, max_iter=3, init="first", round_decimals=6
    )
    return clustering.coverage_sample(emb, model.centroids, budget=200)


X103_SQL = f"""{_kmeans_cells_sql(8, 3, 6)},
sizes AS (SELECT cell, count(*) AS n FROM a4 GROUP BY 1),
ws AS (SELECT SUM(sqrt(CAST(n AS DOUBLE))) AS ws FROM sizes),
scored AS (
  SELECT cell, n,
         floor(sqrt(CAST(n AS DOUBLE)) / ws.ws * 200) AS base,
         sqrt(CAST(n AS DOUBLE)) / ws.ws * 200
           - floor(sqrt(CAST(n AS DOUBLE)) / ws.ws * 200) AS frac
  FROM sizes CROSS JOIN ws
),
alloc AS (
  SELECT cell,
         least(base + CASE WHEN row_number() OVER (ORDER BY frac DESC, cell)
                           <= 200 - SUM(base) OVER () THEN 1 ELSE 0 END,
               n) AS quota
  FROM scored
),
pri AS (
  SELECT cell, vec_id, md5(CAST(vec_id AS VARCHAR) || '-cov') AS h
  FROM a4
),
drawn AS (
  SELECT cell, vec_id,
         row_number() OVER (PARTITION BY cell ORDER BY ({_X40_U}), vec_id) AS rn
  FROM pri
)
SELECT CAST(d.cell AS INT) AS cell, d.vec_id, CAST(d.rn AS BIGINT) AS draw_rank
FROM drawn d JOIN alloc a USING (cell)
WHERE d.rn <= a.quota
"""


def x123_temperature_mixture(spark, sf_dir):
    """Temperature-sampling mixture design (curation.temperature_mixture,
    alpha = 0.3): per-source token share, alpha-smoothed sampling
    weight, and oversampling factor — the multilingual upweighting step
    before x50/x71 materialize a mixture. G-row math off one keyed
    count + 1-row totals."""
    return curation.temperature_mixture(_t(spark, sf_dir, "documents"))


X123_SQL = rf"""
WITH counts AS (
  SELECT source,
         CAST(SUM(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                  t -> t <> ''))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1
),
tot AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS n_total FROM counts),
shares AS (
  SELECT source, n_tokens,
         n_tokens / t.n_total AS p,
         pow(n_tokens / t.n_total, 0.3) AS pa
  FROM counts CROSS JOIN tot t
),
pt AS (SELECT SUM(pa) AS pa_total FROM shares)
SELECT source, n_tokens,
       round(p, 6) AS token_share,
       round(pa / pt.pa_total, 6) AS sample_weight,
       round((pa / pt.pa_total) / p, 6) AS oversample_factor
FROM shares CROSS JOIN pt
"""


def x132_chunking_audit(spark, sf_dir):
    """RAG-chunking cost accounting (chunking.chunking_audit): per
    chunks-per-doc value, doc counts and source-vs-emitted token sums
    with the overlap overhead factor — the context-window budget check
    before materializing a chunked corpus. Mirrors X21's closed-form
    slice arithmetic."""
    from ...operators.chunking import chunking_audit

    return chunking_audit(_t(spark, sf_dir, "documents"))


X132_SQL = rf"""
WITH toked AS (
  SELECT doc_id, {_NORM_TOKS_SQL} AS tk FROM documents
),
idx AS (
  SELECT doc_id, tk,
         unnest(generate_series(0,
           CAST(greatest(ceil((len(tk) - 20) / 80.0), 1) AS BIGINT) - 1))
           AS chunk_idx
  FROM toked
),
chunks AS (
  SELECT doc_id,
         CAST(len(tk[chunk_idx * 80 + 1 : chunk_idx * 80 + 100]) AS BIGINT)
           AS n_tokens
  FROM idx
),
per_doc AS (
  SELECT doc_id AS doc, CAST(count(*) AS BIGINT) AS n_chunks,
         CAST(SUM(n_tokens) AS BIGINT) AS emitted_tokens
  FROM chunks GROUP BY 1
),
src AS (
  SELECT doc_id AS doc, CAST(len(tk) AS BIGINT) AS source_tokens FROM toked
)
SELECT p.n_chunks, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(s.source_tokens) AS BIGINT) AS source_tokens,
       CAST(SUM(p.emitted_tokens) AS BIGINT) AS emitted_tokens,
       round(CAST(SUM(p.emitted_tokens) AS DOUBLE) / SUM(s.source_tokens), 6)
         AS overhead_factor
FROM per_doc p JOIN src s USING (doc)
GROUP BY 1
"""


def x150_l_diversity(spark, sf_dir):
    """l-diversity release gate (quality.l_diversity_report): per
    (nation, segment) quasi-identifier class over customers, the
    distinct count and entropy of the generalized balance band — the
    uniform-sensitive-value attack k-anonymity (x61) can't see."""
    from ...operators.quality import l_diversity_report

    cust = _t(spark, sf_dir, "customer")
    return l_diversity_report(
        cust,
        {
            "nationkey": F.col("c_nationkey"),
            "segment": F.col("c_mktsegment"),
        },
        F.floor(F.col("c_acctbal") / 2000).cast("long"),
    )


X150_SQL = """
WITH cells AS (
  SELECT c_nationkey AS nationkey, c_mktsegment AS segment,
         CAST(floor(c_acctbal / 2000) AS BIGINT) AS sv,
         CAST(count(*) AS BIGINT) AS c
  FROM customer GROUP BY 1, 2, 3
)
SELECT nationkey, segment,
       CAST(SUM(c) AS BIGINT) AS k,
       CAST(count(*) AS BIGINT) AS l_distinct,
       round(ln(CAST(SUM(c) AS DOUBLE))
             - SUM(CAST(c AS DOUBLE) * ln(c)) / SUM(c), 6) AS entropy,
       count(*) < 3 AS at_risk
FROM cells GROUP BY 1, 2
"""


def x152_truncation_loss(spark, sf_dir):
    """Context-window truncation loss audit
    (textstats.truncation_loss): row-local token counts folded into
    256-token length bands with tokens lost beyond a 512 window — the
    truncate-vs-chunk sizing table."""
    return textstats.truncation_loss(_t(spark, sf_dir, "documents"))


X152_SQL = f"""
WITH norm AS (SELECT doc_id, {_X67_NORM} AS toks FROM documents),
cells AS (
  SELECT CAST(floor(len(toks) / 256) AS BIGINT) AS band,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(toks)) AS BIGINT) AS total_tokens,
         CAST(SUM(GREATEST(len(toks) - 512, 0)) AS BIGINT) AS lost_tokens
  FROM norm GROUP BY 1
)
SELECT band, band * 256 AS band_lo, (band + 1) * 256 - 1 AS band_hi,
       n_docs, total_tokens, lost_tokens,
       round(CAST(lost_tokens AS DOUBLE) / total_tokens, 6) AS loss_share
FROM cells
"""


def x158_filter_agreement(spark, sf_dir):
    """Quality-filter agreement matrix (textstats.filter_agreement):
    x18's three rejection reasons as independent row-local flags, ONE
    1-row aggregate of 6 conditional sums, constant-width stack to the
    3 unordered pairs with overlap Jaccard."""
    return textstats.filter_agreement(_t(spark, sf_dir, "documents"))


X158_SQL = r"""
WITH flags AS (
  SELECT CASE WHEN len(list_filter(
                regexp_split_to_array(trim(text), '\s+'), t -> t <> ''
              )) < 20 THEN 1 ELSE 0 END AS fa,
         CASE WHEN CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
                        AS DOUBLE) / greatest(length(text), 1) > 0.2
              THEN 1 ELSE 0 END AS fb,
         CASE WHEN CAST(list_aggregate(list_transform(
                     list_filter(regexp_split_to_array(trim(text), '\s+'),
                                 t -> t <> ''),
                     t -> length(t)), 'sum') AS DOUBLE)
                   / greatest(len(list_filter(
                       regexp_split_to_array(trim(text), '\s+'),
                       t -> t <> '')), 1) < 3.0
              THEN 1 ELSE 0 END AS fd
  FROM documents
),
one AS (
  SELECT CAST(SUM(fa) AS BIGINT) AS na, CAST(SUM(fb) AS BIGINT) AS nb,
         CAST(SUM(fd) AS BIGINT) AS nd,
         CAST(SUM(fa * fb) AS BIGINT) AS nab,
         CAST(SUM(fa * fd) AS BIGINT) AS nad,
         CAST(SUM(fb * fd) AS BIGINT) AS nbd
  FROM flags
),
stacked AS (
  SELECT 'too_few_tokens' AS filter_a, 'too_many_digits' AS filter_b,
         na AS n_a, nb AS n_b, nab AS n_both FROM one
  UNION ALL
  SELECT 'too_few_tokens', 'tokens_too_short', na, nd, nad FROM one
  UNION ALL
  SELECT 'too_many_digits', 'tokens_too_short', nb, nd, nbd FROM one
)
SELECT filter_a, filter_b, n_a, n_b, n_both,
       CASE WHEN n_a + n_b - n_both > 0
            THEN round(CAST(n_both AS DOUBLE) / (n_a + n_b - n_both), 6)
            ELSE 0.0 END AS jaccard
FROM stacked
"""


def x162_clean_eval(spark, sf_dir):
    """Decontaminated-eval extraction accounting
    (dedup.clean_eval_report): held-out docs surviving exclusion of
    every x3-candidate near-dup of a TRAIN doc (md5 hash family,
    est Jaccard >= 0.5), per language."""
    return dedup.clean_eval_report(_split_docs(spark, sf_dir), hash_fn="md5")


X162_SQL = f"""
WITH cand AS ({X3_SQL}),
sp AS (
  SELECT doc_id, lang,
         CASE WHEN ({_Y_SPLIT_INNER}) < 5 THEN 'val'
              WHEN ({_Y_SPLIT_INNER}) < 15 THEN 'test'
              ELSE 'train' END AS split
  FROM documents
),
labeled AS (
  SELECT p.id_a, p.id_b, sa.split AS sp_a, sb.split AS sp_b
  FROM cand p
  JOIN sp sa ON p.id_a = sa.doc_id
  JOIN sp sb ON p.id_b = sb.doc_id
  WHERE p.est_jaccard >= 0.5
),
contaminated AS (
  SELECT DISTINCT id FROM (
    SELECT id_b AS id FROM labeled
    WHERE sp_a = 'train' AND sp_b <> 'train'
    UNION
    SELECT id_a FROM labeled
    WHERE sp_b = 'train' AND sp_a <> 'train'
  )
),
held AS (SELECT doc_id, lang FROM sp WHERE split <> 'train'),
kept AS (
  SELECT h.lang, CAST(count(*) AS BIGINT) AS n_kept
  FROM held h LEFT JOIN contaminated c ON h.doc_id = c.id
  WHERE c.id IS NULL
  GROUP BY 1
),
tot AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_heldout
  FROM held GROUP BY 1
)
SELECT t.lang, t.n_heldout,
       COALESCE(k.n_kept, 0) AS n_kept,
       t.n_heldout - COALESCE(k.n_kept, 0) AS n_excluded,
       round(CAST(COALESCE(k.n_kept, 0) AS DOUBLE) / t.n_heldout, 6)
         AS kept_share
FROM tot t LEFT JOIN kept k USING (lang)
"""


def x171_pii_cooccurrence(spark, sf_dir):
    """PII linkability audit (textstats.pii_cooccurrence): row-local
    presence flags for the x16 pattern family, <=4-cell type-count
    histogram + broadcast total."""
    return textstats.pii_cooccurrence(_t(spark, sf_dir, "documents"))


X171_SQL = r"""
WITH flags AS (
  SELECT CASE WHEN regexp_matches(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')
         THEN 1 ELSE 0 END AS has_email,
         CASE WHEN regexp_matches(text, 'https?://[^\s]+')
         THEN 1 ELSE 0 END AS has_url,
         CASE WHEN regexp_matches(text, '[0-9]{7,}')
         THEN 1 ELSE 0 END AS has_number_long
  FROM documents
),
cells AS (
  SELECT has_email + has_url + has_number_long AS n_pii_types,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(SUM(has_email) AS BIGINT) AS n_email,
         CAST(SUM(has_url) AS BIGINT) AS n_url,
         CAST(SUM(has_number_long) AS BIGINT) AS n_number_long
  FROM flags GROUP BY 1
),
tot AS (SELECT CAST(SUM(n_docs) AS DOUBLE) AS total FROM cells)
SELECT n_pii_types, n_docs,
       round(n_docs / total, 6) AS share,
       n_email, n_url, n_number_long
FROM cells CROSS JOIN tot
"""


def x173_quality_by_length(spark, sf_dir):
    """Quality-vs-length profile (textstats.quality_by_length): exact
    token-count decile edges (1-row broadcast), per-bin quality-score
    quartiles — is the length filter secretly the quality filter?"""
    return textstats.quality_by_length(_t(spark, sf_dir, "documents"))


X173_SQL = rf"""
WITH base AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS toks
  FROM documents
),
derived AS (
  SELECT len(toks) AS n_tokens,
         CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum') AS DOUBLE)
           / greatest(len(toks), 1) AS mtl,
         CAST(len(list_filter(list_transform(toks, t -> lower(t)),
                  t -> list_contains({_STOP_EN}, t))) AS DOUBLE)
           / greatest(len(toks), 1) AS swr,
         CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS digr
  FROM base
),
feats AS (
  SELECT CAST(n_tokens AS DOUBLE) AS n_tok,
         CAST(round(CASE WHEN n_tokens BETWEEN 10 AND 10000 THEN 0.4 ELSE 0 END
             + CASE WHEN mtl BETWEEN 3.0 AND 10.0 THEN 0.3 ELSE 0 END
             + CASE WHEN swr >= 0.01 THEN 0.2 ELSE 0 END
             + CASE WHEN digr <= 0.2 THEN 0.1 ELSE 0 END, 2) AS DOUBLE) AS q
  FROM derived
),
edges AS (
  SELECT quantile_cont(n_tok,
           [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS e
  FROM feats
),
banded AS (
  SELECT 1 + len(list_filter(e.e, x -> f.n_tok > x)) AS length_decile,
         f.n_tok, f.q
  FROM feats f CROSS JOIN edges e
)
SELECT length_decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(n_tok), 2) AS mean_tokens,
       round(quantile_cont(q, 0.25), 4) AS q25_quality,
       round(quantile_cont(q, 0.5), 4) AS p50_quality,
       round(quantile_cont(q, 0.75), 4) AS q75_quality
FROM banded GROUP BY 1
"""


def x174_single_source_risk(spark, sf_dir):
    """Single-source supply risk per brand (profile.single_source_risk):
    distinct (part, supplier) pairs -> per-part supplier depth ->
    partkey-keyed brand attachment -> brand cells."""
    return profile.single_source_risk(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    )


X174_SQL = """
WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
per_part AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_suppliers
  FROM pairs GROUP BY 1
)
SELECT p.p_brand,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(SUM(CASE WHEN n_suppliers = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_single_source,
       round(CAST(SUM(CASE WHEN n_suppliers = 1 THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS single_source_share,
       round(avg(n_suppliers), 4) AS mean_suppliers_per_part
FROM per_part pp JOIN part p ON pp.l_partkey = p.p_partkey
GROUP BY 1
"""


def x176_source_jsd(spark, sf_dir):
    """Pairwise source JSD (textstats.source_jsd): add-1 smoothed
    unigram distributions over the union vocab, dense |V| x G fill,
    word-keyed pair join, G^2/2-cell fold."""
    return textstats.source_jsd(_t(spark, sf_dir, "documents"))


X176_SQL = f"""
WITH norm AS (SELECT source AS s, {_X67_NORM} AS toks FROM documents),
counts AS (
  SELECT s, w, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT s, unnest(toks) AS w FROM norm) GROUP BY 1, 2
),
vocab AS (SELECT DISTINCT w FROM counts),
sources AS (SELECT DISTINCT s FROM counts),
vt AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM vocab),
nt AS (SELECT s, CAST(SUM(c) AS DOUBLE) AS n_s FROM counts GROUP BY 1),
dense AS (
  SELECT sr.s, vb.w,
         (COALESCE(c.c, 0) + 1.0) / (nt.n_s + vt.v) AS p
  FROM vocab vb
  CROSS JOIN sources sr
  LEFT JOIN counts c ON c.s = sr.s AND c.w = vb.w
  JOIN nt ON nt.s = sr.s
  CROSS JOIN vt
)
SELECT a.s AS source_a, b.s AS source_b,
       round(SUM(0.5 * a.p * ln(a.p / ((a.p + b.p) / 2.0))
                 + 0.5 * b.p * ln(b.p / ((a.p + b.p) / 2.0))), 6)
         AS jsd_nats
FROM dense a JOIN dense b ON a.w = b.w AND a.s < b.s
GROUP BY 1, 2
"""


def x177_sample_representativeness(spark, sf_dir):
    """Deterministic-sample representativeness audit
    (curation.sample_representativeness): md5 10% sample vs corpus
    language mix — share diffs + chi-square contributions per
    category."""
    from ...operators.curation import sample_representativeness

    return sample_representativeness(_t(spark, sf_dir, "documents"))


X177_SQL = """
WITH cells AS (
  SELECT lang AS cat,
         CAST(count(*) AS BIGINT) AS n_corpus,
         CAST(SUM(CASE WHEN (ascii(substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 256
                           + ascii(substring(md5(CAST(doc_id AS VARCHAR)), 2, 1))) % 100 < 10
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_sample
  FROM documents GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n_corpus) AS DOUBLE) AS tc,
         CAST(SUM(n_sample) AS DOUBLE) AS ts
  FROM cells
)
SELECT cat AS lang, n_corpus, n_sample,
       round(n_corpus / tc, 6) AS corpus_share,
       round(n_sample / ts, 6) AS sample_share,
       round(n_sample / ts - n_corpus / tc, 6) AS share_diff,
       round((n_sample - n_corpus / tc * ts)
             * (n_sample - n_corpus / tc * ts)
             / (n_corpus / tc * ts), 6) AS chi2_contrib
FROM cells CROSS JOIN tot
"""



def x200_neyman_allocation(spark, sf_dir):
    """Neyman-optimal labeling-budget allocation per source
    (curation.neyman_allocation): N_h x sigma_h weights off exact
    lattice moments + the x50 largest-remainder split."""
    return curation.neyman_allocation(_t(spark, sf_dir, "documents"))


X200_SQL = rf"""
WITH base AS (
  SELECT source, text,
         list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS toks
  FROM documents
),
q AS (
  SELECT source,
         (CASE WHEN len(toks) BETWEEN 10 AND 10000 THEN 0.4 ELSE 0.0 END
          + CASE WHEN CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum') AS DOUBLE)
                      / greatest(len(toks), 1) BETWEEN 3.0 AND 10.0 THEN 0.3 ELSE 0.0 END
          + CASE WHEN CAST(len(list_filter(list_transform(toks, t -> lower(t)),
                               t -> list_contains({_STOP_EN}, t))) AS DOUBLE)
                      / greatest(len(toks), 1) >= 0.01 THEN 0.2 ELSE 0.0 END
          + CASE WHEN CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                      / greatest(length(text), 1) <= 0.2 THEN 0.1 ELSE 0.0 END) AS score
  FROM base
),
st AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(SUM(s10) AS BIGINT) AS s, CAST(SUM(s10 * s10) AS BIGINT) AS ss
  FROM (SELECT source, CAST(round(score * 10) AS BIGINT) AS s10 FROM q)
  GROUP BY 1
),
weighted AS (
  SELECT source, n_docs,
         sqrt((CAST(n_docs AS DOUBLE) * CAST(ss AS DOUBLE)
               - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
              / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE))) / 10.0
           AS sigma,
         CAST(n_docs AS DOUBLE)
         * (sqrt((CAST(n_docs AS DOUBLE) * CAST(ss AS DOUBLE)
                  - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                 / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE))) / 10.0)
           AS w
  FROM st
),
wsum AS (SELECT SUM(w) AS ws FROM weighted),
scored AS (
  SELECT source, n_docs, sigma, w / ws AS p,
         CAST(floor((w / ws) * 1000) AS BIGINT) AS base,
         (w / ws) * 1000 - floor((w / ws) * 1000) AS frac
  FROM weighted CROSS JOIN wsum
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (ORDER BY frac DESC, source) AS fr,
         1000 - SUM(base) OVER () AS short
  FROM scored
)
SELECT source, n_docs, round(sigma, 6) AS sigma, round(p, 6) AS p,
       CAST(base + CASE WHEN fr <= short THEN 1 ELSE 0 END AS BIGINT)
         AS alloc_docs
FROM ranked
ORDER BY source
"""



def x203_stratified_estimate(spark, sf_dir):
    """Design-based stratified mean-quality estimator under the x200
    Neyman allocation (curation.stratified_estimate): estimate, SE,
    and 95% interval off exact lattice moments."""
    return curation.stratified_estimate(_t(spark, sf_dir, "documents"))


X203_SQL = rf"""
WITH alloc AS ({X200_SQL}),
qb AS (
  SELECT source, text,
         list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS toks
  FROM documents
),
qq AS (
  SELECT source,
         (CASE WHEN len(toks) BETWEEN 10 AND 10000 THEN 0.4 ELSE 0.0 END
          + CASE WHEN CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum') AS DOUBLE)
                      / greatest(len(toks), 1) BETWEEN 3.0 AND 10.0 THEN 0.3 ELSE 0.0 END
          + CASE WHEN CAST(len(list_filter(list_transform(toks, t -> lower(t)),
                               t -> list_contains({_STOP_EN}, t))) AS DOUBLE)
                      / greatest(len(toks), 1) >= 0.01 THEN 0.2 ELSE 0.0 END
          + CASE WHEN CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                      / greatest(length(text), 1) <= 0.2 THEN 0.1 ELSE 0.0 END) AS score
  FROM qb
),
qst AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_h,
         CAST(SUM(s10) AS BIGINT) AS s, CAST(SUM(s10 * s10) AS BIGINT) AS ss
  FROM (SELECT source, CAST(round(score * 10) AS BIGINT) AS s10 FROM qq)
  GROUP BY 1
),
joined AS (
  SELECT q.source, q.n_h, q.s, q.ss, a.alloc_docs
  FROM qst q JOIN alloc a USING (source)
),
tot AS (SELECT CAST(SUM(n_h) AS DOUBLE) AS n_total FROM joined),
termed AS (
  SELECT source, alloc_docs, n_total,
         (CAST(n_h AS DOUBLE) / n_total)
           * (CAST(s AS DOUBLE) / CAST(n_h AS DOUBLE) / 10.0) AS mean_term,
         CASE WHEN alloc_docs > 0
              THEN (CAST(n_h AS DOUBLE) / n_total)
                   * (CAST(n_h AS DOUBLE) / n_total)
                   * ((CAST(n_h AS DOUBLE) * CAST(ss AS DOUBLE)
                       - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                      / (CAST(n_h AS DOUBLE) * CAST(n_h AS DOUBLE)) / 100.0)
                   / CAST(alloc_docs AS DOUBLE)
              ELSE 0.0 END AS var_term
  FROM joined CROSS JOIN tot
),
folded AS (
  SELECT CAST(n_total AS BIGINT) AS n_total,
         CAST(SUM(alloc_docs) OVER wf AS BIGINT) AS n_sampled,
         SUM(mean_term) OVER wf AS est,
         sqrt(SUM(var_term) OVER wf) AS se,
         ROW_NUMBER() OVER (ORDER BY source) AS rn
  FROM termed
  WINDOW wf AS (ORDER BY source ROWS BETWEEN UNBOUNDED PRECEDING AND
                UNBOUNDED FOLLOWING)
)
SELECT n_total, n_sampled,
       round(est, 6) AS est_mean_quality,
       round(se, 6) AS se,
       round(est - 1.96 * se, 6) AS ci95_lo,
       round(est + 1.96 * se, 6) AS ci95_hi
FROM folded WHERE rn = 1
"""


def x219_greedy_coverage(spark, sf_dir):
    """Greedy max-coverage subset selection
    (curation.greedy_coverage_select): 10 picks, each maximizing
    newly-covered distinct 3-shingles — the facility-location coreset
    greedy (1-1/e-optimal), hash-verified against a 10-step chained
    CTE replay of the argmax recursion."""
    return curation.greedy_coverage_select(_t(spark, sf_dir, "documents"))


def _x219_step(i: int) -> str:
    # every step CTE is MATERIALIZED: each references the previous
    # level twice, so inlining would duplicate the tree ~2^k times
    return f""",
gain{i} AS MATERIALIZED (
  SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n
  FROM flat f
  LEFT JOIN cov{i - 1} c ON c.s = f.s
  WHERE c.s IS NULL
    AND f.doc_id NOT IN (SELECT doc_id FROM picks{i - 1})
  GROUP BY 1
),
pick{i} AS MATERIALIZED (
  SELECT {i} AS rank, doc_id, n FROM gain{i} ORDER BY n DESC, doc_id LIMIT 1
),
picks{i} AS MATERIALIZED (
  SELECT doc_id FROM picks{i - 1} UNION ALL SELECT doc_id FROM pick{i}
),
cov{i} AS MATERIALIZED (
  SELECT s FROM cov{i - 1}
  UNION
  SELECT f.s FROM flat f JOIN pick{i} USING (doc_id)
)"""


X219_SQL = (
    rf"""
WITH norm AS MATERIALIZED (
  SELECT doc_id, {_X67_NORM} AS toks FROM documents
),
shn AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3
              THEN list_distinct([array_to_string(toks[i:i+2], ' ') for i in generate_series(1, len(toks) - 2)])
              WHEN len(toks) > 0
              THEN [array_to_string(toks, ' ')]
              ELSE CAST([] AS VARCHAR[])
         END AS sh
  FROM norm
),
flat AS MATERIALIZED (SELECT DISTINCT doc_id, unnest(sh) AS s FROM shn),
total AS (SELECT CAST(count(*) AS BIGINT) AS t
          FROM (SELECT DISTINCT s FROM flat)),
picks0 AS (SELECT CAST(NULL AS BIGINT) AS doc_id WHERE false),
cov0 AS (SELECT CAST(NULL AS VARCHAR) AS s WHERE false)"""
    + "".join(_x219_step(i) for i in range(1, 11))
    + """,
all_picks AS (
"""
    + "\n  UNION ALL\n".join(f"  SELECT * FROM pick{i}" for i in range(1, 11))
    + """
)
SELECT rank, doc_id, n AS marginal_gain,
       CAST(SUM(n) OVER (ORDER BY rank) AS BIGINT) AS cumulative_coverage,
       round(CAST(SUM(n) OVER (ORDER BY rank) AS BIGINT)
             / CAST(t AS DOUBLE), 6) AS coverage_frac
FROM all_picks CROSS JOIN total
ORDER BY rank
"""
)


def x222_quantile_normalize(spark, sf_dir):
    """Quantile normalization of per-source quality scores onto the
    pooled distribution (curation.quantile_normalize_quality) — the
    batch-effect correction that makes one keep-threshold mean the
    same thing for every source."""
    return curation.quantile_normalize_quality(_t(spark, sf_dir, "documents"))


X222_SQL = rf"""
WITH qb AS (
  SELECT source,
         list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS toks,
         text
  FROM documents
),
qq AS (
  SELECT source,
         CAST(round((CASE WHEN len(toks) BETWEEN 10 AND 10000 THEN 0.4 ELSE 0.0 END
          + CASE WHEN CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum') AS DOUBLE)
                      / greatest(len(toks), 1) BETWEEN 3.0 AND 10.0 THEN 0.3 ELSE 0.0 END
          + CASE WHEN CAST(len(list_filter(list_transform(toks, t -> lower(t)),
                               t -> list_contains({_STOP_EN}, t))) AS DOUBLE)
                      / greatest(len(toks), 1) >= 0.01 THEN 0.2 ELSE 0.0 END
          + CASE WHEN CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                      / greatest(length(text), 1) <= 0.2 THEN 0.1 ELSE 0.0 END) * 10)
          AS BIGINT) AS s10
  FROM qb
),
cells AS (
  SELECT source, s10, CAST(count(*) AS BIGINT) AS n
  FROM qq GROUP BY 1, 2
),
scored AS (
  SELECT source, s10, n,
         CAST(2 * SUM(n) OVER (PARTITION BY source ORDER BY s10
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) - n AS DOUBLE)
           / CAST(2 * SUM(n) OVER (PARTITION BY source) AS DOUBLE) AS p_mid
  FROM cells
),
pooled_cells AS (
  SELECT s10, CAST(SUM(n) AS BIGINT) AS pn FROM cells GROUP BY 1
),
pooled AS (
  SELECT s10 AS ps10,
         CAST(SUM(pn) OVER (ORDER BY s10
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS DOUBLE)
           / CAST(SUM(pn) OVER () AS DOUBLE) AS pooled_cdf
  FROM pooled_cells
),
mapped AS (
  SELECT s.source, s.s10, s.n, s.p_mid, MIN(p.ps10) AS mapped_s10
  FROM scored s JOIN pooled p ON p.pooled_cdf >= s.p_mid
  GROUP BY 1, 2, 3, 4
)
SELECT source, s10, n,
       round(p_mid, 6) AS p_mid,
       mapped_s10,
       round(mapped_s10 / 10.0, 6) AS mapped_quality
FROM mapped
ORDER BY source, s10
"""


def x226_grouped_kfold(spark, sf_dir):
    """Cluster-aware k-fold audit (curation.grouped_kfold_audit):
    folds hash the x67 GROUP key so near-dup twins never straddle a
    fold; the report shows the naive per-doc hashing would have split
    n_span_naive clusters (the leakage prevented)."""
    return curation.grouped_kfold_audit(_t(spark, sf_dir, "documents"))


def _x226_fold(col: str) -> str:
    h = f"md5(CAST({col} AS VARCHAR) || '-fold')"
    return (
        f"(ascii(substring({h}, 1, 1)) * 256"
        f" + ascii(substring({h}, 2, 1))) % 5"
    )


X226_SQL = X67_SQL.replace(
    "SELECT node AS doc, MIN(r) AS cluster_id FROM reach GROUP BY node",
    rf""", comp AS (
  SELECT node AS doc, MIN(r) AS cluster_id FROM reach GROUP BY node
),
base AS (
  SELECT d.doc_id AS doc,
         COALESCE(c.cluster_id, d.doc_id) AS group_key
  FROM documents d LEFT JOIN comp c ON c.doc = d.doc_id
),
assigned AS (
  SELECT doc, group_key,
         {_x226_fold("group_key")} AS fold,
         {_x226_fold("doc")} AS naive_fold
  FROM base
),
per_fold AS (
  SELECT fold, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT group_key) AS BIGINT) AS n_groups
  FROM assigned GROUP BY 1
),
tot AS (SELECT CAST(SUM(n_docs) AS DOUBLE) AS nt FROM per_fold),
span_naive AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN nf > 1 THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n_span_naive
  FROM (SELECT group_key, count(DISTINCT naive_fold) AS nf
        FROM assigned WHERE group_key <> doc GROUP BY 1)
),
span_grouped AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN nf > 1 THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n_span_grouped
  FROM (SELECT group_key, count(DISTINCT fold) AS nf
        FROM assigned WHERE group_key <> doc GROUP BY 1)
)
SELECT fold, n_docs, n_groups,
       round(n_docs / nt, 6) AS doc_share,
       n_span_naive, n_span_grouped
FROM per_fold CROSS JOIN tot
CROSS JOIN span_naive CROSS JOIN span_grouped
ORDER BY fold""",
)


def x227_loso_quality(spark, sf_dir):
    """Leave-one-source-out quality attribution
    (curation.loso_quality_attribution): corpus mean quality without
    each source; positive drop_gain = the corpus improves when the
    source is dropped (Shapley-lite data valuation)."""
    return curation.loso_quality_attribution(_t(spark, sf_dir, "documents"))


X227_SQL = rf"""
WITH qb AS (
  SELECT source, text,
         list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS toks
  FROM documents
),
qq AS (
  SELECT source,
         CAST(round((CASE WHEN len(toks) BETWEEN 10 AND 10000 THEN 0.4 ELSE 0.0 END
          + CASE WHEN CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum') AS DOUBLE)
                      / greatest(len(toks), 1) BETWEEN 3.0 AND 10.0 THEN 0.3 ELSE 0.0 END
          + CASE WHEN CAST(len(list_filter(list_transform(toks, t -> lower(t)),
                               t -> list_contains({_STOP_EN}, t))) AS DOUBLE)
                      / greatest(len(toks), 1) >= 0.01 THEN 0.2 ELSE 0.0 END
          + CASE WHEN CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                      / greatest(length(text), 1) <= 0.2 THEN 0.1 ELSE 0.0 END) * 10)
          AS BIGINT) AS s10
  FROM qb
),
per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(SUM(s10) AS BIGINT) AS s_sum
  FROM qq GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n_docs) AS BIGINT) AS nt,
         CAST(SUM(s_sum) AS BIGINT) AS st
  FROM per
)
SELECT source, n_docs,
       round(s_sum / CAST(n_docs AS DOUBLE) / 10.0, 6) AS mean_quality,
       round(st / CAST(nt AS DOUBLE) / 10.0, 6) AS corpus_mean,
       CASE WHEN nt > n_docs
            THEN round((st - s_sum) / CAST(nt - n_docs AS DOUBLE) / 10.0, 6)
       END AS loso_mean,
       CASE WHEN nt > n_docs
            THEN round((st - s_sum) / CAST(nt - n_docs AS DOUBLE) / 10.0
                       - st / CAST(nt AS DOUBLE) / 10.0, 6)
       END AS drop_gain
FROM per CROSS JOIN tot
ORDER BY source
"""


def y7_negative_collision(spark, sf_dir):
    """In-batch negative collision planner
    (curation.negative_collision_budget): expected same-label and
    near-duplicate false negatives per anchor at batch sizes
    {64, 256, 1024} — closed form off the label distribution and the
    x67 confirmed-pair count."""
    return curation.negative_collision_budget(
        _t(spark, sf_dir, "documents"), _t(spark, sf_dir, "embeddings")
    )


Y7_SQL = rf"""
WITH norm AS MATERIALIZED (
  SELECT doc_id, {_X67_NORM} AS toks FROM documents
),
shn AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3
              THEN list_distinct([array_to_string(toks[i:i+2], ' ') for i in generate_series(1, len(toks) - 2)])
              WHEN len(toks) > 0
              THEN [array_to_string(toks, ' ')]
              ELSE CAST([] AS VARCHAR[])
         END AS sh
  FROM norm
),
flat AS MATERIALIZED (SELECT DISTINCT doc_id, unnest(sh) AS s FROM shn),
rare AS MATERIALIZED (SELECT s FROM flat GROUP BY s HAVING count(*) BETWEEN 2 AND 5),
cand AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
  FROM flat a JOIN rare USING (s) JOIN flat b USING (s)
  WHERE a.doc_id < b.doc_id
),
conf AS (
  SELECT ia, ib
  FROM cand JOIN shn x ON x.doc_id = ia JOIN shn y ON y.doc_id = ib
  WHERE round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
        / len(list_distinct(list_concat(x.sh, y.sh))), 6) >= 0.3
),
ndup AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM conf),
lab AS (SELECT label, CAST(count(*) AS BIGINT) AS nl
        FROM embeddings GROUP BY 1),
p2 AS (
  SELECT CAST(SUM(nl) AS BIGINT) AS n,
         CAST(SUM(nl * nl) AS BIGINT) AS sum_nl2
  FROM lab
),
base AS (
  SELECT n,
         sum_nl2 / (CAST(n AS DOUBLE) * n) AS sum_p2,
         2.0 * n_pairs / (CAST(n AS DOUBLE) * (n - 1)) AS p_dup
  FROM p2 CROSS JOIN ndup
),
grid AS (
  SELECT n, sum_p2, p_dup, unnest([64, 256, 1024]) AS batch_size
  FROM base
)
SELECT batch_size, n AS n_corpus,
       round(sum_p2, 6) AS p_same_label,
       round(p_dup, 6) AS p_near_dup,
       round(CAST(batch_size - 1 AS DOUBLE) * sum_p2, 6)
         AS exp_label_collisions,
       round(CAST(batch_size - 1 AS DOUBLE) * p_dup, 6)
         AS exp_dup_collisions
FROM grid
ORDER BY batch_size
"""


def x241_balanced_shards(spark, sf_dir):
    """Token-balanced output-shard plan (curation.balanced_shard_plan,
    new in r8): documents hash into 8x32 md5 sub-buckets, the bounded
    sub-bucket token summary packs serpentine-wise onto 8 shards
    (heaviest with lightest), and the per-shard report shows token
    share and skew vs the perfect-balance mean — the straggler audit a
    100 TB writer runs before emitting training shards. Corpus-side
    work is one linear hash + one map-side-combinable sum; the
    sort/window only ever sees the <= 256-row summary."""
    return curation.balanced_shard_plan(_t(spark, sf_dir, "documents"))


X241_SQL = f"""
WITH t AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         x -> x <> '')) AS n_tok
  FROM documents
),
sub AS (
  SELECT doc_id, n_tok,
         ({_X73_U("md5(CAST(doc_id AS VARCHAR) || '-shard')")}) % 256 AS sb
  FROM t
),
ss AS (
  SELECT sb, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS n_tokens
  FROM sub GROUP BY 1
),
rk AS (
  SELECT sb, n_docs, n_tokens,
         row_number() OVER (ORDER BY n_tokens DESC, sb) - 1 AS r
  FROM ss
),
asg AS (
  SELECT n_docs, n_tokens,
         CAST(CASE WHEN r % 16 < 8 THEN r % 16 ELSE 15 - (r % 16) END
              AS BIGINT) AS shard
  FROM rk
),
per AS (
  SELECT shard, CAST(count(*) AS BIGINT) AS n_sub_buckets,
         CAST(SUM(n_docs) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
  FROM asg GROUP BY 1
),
tot AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS tt FROM per)
SELECT shard, n_sub_buckets, n_docs, n_tokens,
       round(n_tokens / tt, 6) AS token_share,
       round(n_tokens / (tt / 8), 6) AS skew_vs_mean
FROM per CROSS JOIN tot
ORDER BY shard
"""
