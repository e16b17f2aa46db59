"""Composed-pipeline and linear-scale-mode entries (x228-x238).

Built in round 7 behind the ``SPARK_GRAFT_UNFREEZE`` flag while the
driver drained the frozen 329-entry catalog (plans/pending.py then);
merged into the catalog proper in round 8 per VERDICT r7 "Next round"
#2 after all eleven came back gate-green at sf0.01 (GATE_r07_pending:
correctness 11/11, plan audit, determinism) and judge-green at sf0.1.
Each stays pytest-pinned against its DuckDB oracle
(tests/test_composed_entries.py).

The first four, per the r6 verdict:
  x228 — scrub_duplicate_spans as an oracle-backed entry (destructive
         counterpart of the green x87; the oracle reassembles the
         scrubbed text from the x85 interval chain).
  x229 — x185's auto-bucket kNN agreement mode. The r7-certified
         ceil(N/256) sizing became x185's own default (and oracle) in
         the r8 flip, so this entry now certifies the occupancy KNOB
         at target_bucket_rows=128 instead of duplicating the default.
  x230 — IVF probe sweep with corpus-decoupled fixed cells
         (md5-priority centroids instead of the stride sample whose
         centroid count grows with the corpus). n_cells=8 became
         x215's default in the r8 flip; this entry certifies the knob
         at n_cells=4.
  x231 — the pipeline.curate() ledger as an oracle entry: the composed
         end-to-end curation run certified stage by stage with the
         driver's own hash check.

Two more cover curate()'s remaining arms,
built from the same parameterized ledger-SQL builder as x231:
  x232 — the per-source TOKEN-budget mixture (``budget_tokens``, x90's
         quality-greedy running-sum selection) in place of the
         temperature document draw.
  x233 — benchmark decontamination (``eval_docs``, x35's shingle-overlap
         audit applied as a drop filter between span scrub and the
         quality gate).
  x234 — the minhash near-dup arm with the md5 hash family (x3's
         cross-engine convention), turning curate()'s last rows-only
         configuration into a value-checked one.
  x235/x236 — x220 retrieval exposure and y6 kNN classifier in the
         auto-bucket linear-scale mode, at the 128-occupancy knob
         setting (their ceil(N/256) sizing became the operators'
         defaults in the r8 flip, like x229 for x185).
  x237 — pipeline.prepare_training_data's end-to-end stage-count
         certificate (quality gate → PII scrub → md5-family minhash
         dedup → chunk/pack/split), the sibling composed-run
         certificate to x231's curate().
  x238 — x237 with the optional deterministic filter stages on
         (Gopher repetition cutoff + RefinedWeb cross-doc coverage
         cutoff, the x28/x68 signals applied).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ...operators import dedup, profile, simsearch
from ...sources.tables import load_table as _t
from ._shared import (
    _STOP_EN,
    _Y_SPLIT_CASE,
    _Y_SPLIT_INNER,
    X67_SQL,
)
from .ann import (
    QUERY_IDS,
    X185_FIXED_SQL,
    X220_FIXED_SQL,
    Y6_FIXED_SQL,
    _ivf_cells_sql,
)
from .curation import _NORM_TOKS_SQL, _X40_U
from .dedup import _X85_CHAIN, X3_SQL

# ---------------------------------------------------------------------------
# x228 — exact-substring scrub APPLIED (dedup.scrub_duplicate_spans)
# ---------------------------------------------------------------------------


def x228_span_scrub_apply(spark, sf_dir):
    """Destructive exact-substring scrub (dedup.scrub_duplicate_spans):
    every maximal duplicated span (the green x85 intervals) cut out of
    its document, mostly-duplicated docs flagged 'drop' — Lee et al.'s
    exact-substring dedup applied, not just measured (x87). The full
    post-scrub text is part of the compared payload, so the oracle
    checks the substring-reassembly itself, value for value."""
    return dedup.scrub_duplicate_spans(_t(spark, sf_dir, "documents")).select(
        "doc_id", "text", "n_chars", "dup_chars", "n_spans", "dup_frac",
        "action",
    )


# The x85 interval chain, then reassembly: spans are disjoint maximal
# intervals per doc, so the scrubbed text is the ordered concat of the
# inter-span pieces plus the tail after the last span. Action mirrors the
# Spark operator: no spans -> keep, UNROUNDED dup fraction >= 0.8 -> drop
# (text passes through), else scrub. n_chars/dup_chars/dup_frac describe
# the INPUT text (the operator's documented convention).
X228_SQL = _X85_CHAIN + """
, per_doc AS (
  SELECT doc, CAST(SUM(span_chars) AS BIGINT) AS dup_chars,
         CAST(COUNT(*) AS BIGINT) AS n_spans
  FROM spans GROUP BY doc
),
segs AS (
  SELECT doc, span_start, span_chars,
         COALESCE(lag(span_end) OVER (PARTITION BY doc ORDER BY span_start),
                  0) AS prev_end
  FROM spans
),
pieces AS (
  SELECT s.doc,
         substr(d.text, s.prev_end + 1, s.span_start - s.prev_end - 1)
           AS piece,
         s.span_start
  FROM segs s JOIN documents d ON d.doc_id = s.doc
),
rebuilt AS (
  SELECT doc, string_agg(piece, '' ORDER BY span_start) AS head
  FROM pieces GROUP BY doc
),
lastend AS (SELECT doc, MAX(span_end) AS last_end FROM spans GROUP BY doc)
SELECT d.doc_id,
       CASE WHEN p.doc IS NULL THEN d.text
            WHEN CAST(p.dup_chars AS DOUBLE) / greatest(length(d.text), 1)
                 >= 0.8 THEN d.text
            ELSE r.head || substr(d.text, l.last_end + 1) END AS text,
       CAST(length(d.text) AS BIGINT) AS n_chars,
       COALESCE(p.dup_chars, 0) AS dup_chars,
       COALESCE(p.n_spans, 0) AS n_spans,
       round(CAST(COALESCE(p.dup_chars, 0) AS DOUBLE)
             / greatest(length(d.text), 1), 6) AS dup_frac,
       CASE WHEN p.doc IS NULL THEN 'keep'
            WHEN CAST(p.dup_chars AS DOUBLE) / greatest(length(d.text), 1)
                 >= 0.8 THEN 'drop'
            ELSE 'scrub' END AS action
FROM documents d
LEFT JOIN per_doc p ON p.doc = d.doc_id
LEFT JOIN rebuilt r ON r.doc = d.doc_id
LEFT JOIN lastend l ON l.doc = d.doc_id
"""


# ---------------------------------------------------------------------------
# x229 — kNN label agreement, auto-sized buckets (the 100 TB mode)
# ---------------------------------------------------------------------------


def x229_knn_agreement_autobucket(spark, sf_dir):
    """x185's linear-scale mode at the occupancy knob's other setting
    (profile.knn_label_agreement with target_bucket_rows=128): bucket
    count = ceil(N / 128), so per-bucket pair work stays ~128² whatever
    the corpus size. Certified in r7 at the 256 occupancy that became
    x185's DEFAULT in the r8 flip; this entry now re-certifies the knob
    itself — the auto-sizing must hold at any target, not just the
    default. The bucket count is computable in SQL, so the oracle
    mirrors the sizing exactly."""
    return profile.knn_label_agreement(
        _t(spark, sf_dir, "embeddings"), n_buckets=None,
        target_bucket_rows=128,
    )


# ceil(N / 128) buckets, mirrored as a scalar subquery — shared by the
# occupancy-knob twins (x229/x235/x236); ann._AUTOBKT is the same
# surgery at the 256 default the flipped x185/x220/y6 oracles carry
_AUTOBKT_128 = (
    "% (SELECT greatest(CAST(1 AS BIGINT),"
    " CAST(ceil(count(*) / 128.0) AS BIGINT)) FROM embeddings) AS bkt"
)

X229_SQL = X185_FIXED_SQL.replace("% 16 AS bkt", _AUTOBKT_128)
assert X229_SQL != X185_FIXED_SQL  # surgery anchor must exist


# ---------------------------------------------------------------------------
# x230 — IVF probe sweep, corpus-decoupled cells at the other cell count
# ---------------------------------------------------------------------------


def x230_ivf_fixed_cells_sweep(spark, sf_dir):
    """x215's 100 TB mode at the cell-count knob's other setting
    (simsearch.ivf_probe_sweep with n_cells=4): centroids are the
    n_cells vectors with the smallest deterministic md5 priority rather
    than the stride sample (whose centroid count — and therefore the
    |corpus| x |centroids| assignment cost — grows with the corpus).
    Certified in r7 at n_cells=8, which became x215's DEFAULT in the r8
    flip; this entry now re-certifies the knob at 4 cells. The
    md5-priority sample is SQL-expressible, so recall@5 and candidate
    counts are value-checked per probe setting against the same
    exact-scan truth as x215."""
    return simsearch.ivf_probe_sweep(
        _t(spark, sf_dir, "embeddings"), QUERY_IDS, k=5, n_cells=4
    )


X230_SQL = _ivf_cells_sql(4)


# ---------------------------------------------------------------------------
# x235/x236 — the other two auto-bucket evals at the 128-occupancy knob
# (the fixed-16 superlinear family x220/y6 flipped to auto-sized defaults
# in r8; these twins certify the occupancy parameterization)
# ---------------------------------------------------------------------------


def x235_retrieval_exposure_autobucket(spark, sf_dir):
    """x220's linear-scale mode at the occupancy knob's other setting
    (profile.retrieval_exposure with target_bucket_rows=128): vote-edge
    buckets sized ceil(N / 128) so in-bucket pair scoring stays ~128
    rows per bucket regardless of corpus size. The 256 default became
    x220's own oracle in the r8 flip; this entry certifies the knob.
    Bucket count mirrored in SQL."""
    return profile.retrieval_exposure(
        _t(spark, sf_dir, "embeddings"), n_buckets=None,
        target_bucket_rows=128,
    )


X235_SQL = X220_FIXED_SQL.replace("% 16 AS bkt", _AUTOBKT_128)
assert X235_SQL != X220_FIXED_SQL  # surgery anchor must exist


def x236_knn_classifier_autobucket(spark, sf_dir):
    """y6's linear-scale mode at the occupancy knob's other setting
    (profile.knn_classifier_report with target_bucket_rows=128): same
    128-occupancy vote edges as x235, then the majority-vote confusion
    cells and per-label precision/recall/F1. The 256 default became
    y6's own oracle in the r8 flip; this entry certifies the knob."""
    return profile.knn_classifier_report(
        _t(spark, sf_dir, "embeddings"), n_buckets=None,
        target_bucket_rows=128,
    )


X236_SQL = Y6_FIXED_SQL.replace("% 16 AS bkt", _AUTOBKT_128)
assert X236_SQL != Y6_FIXED_SQL  # surgery anchor must exist


# ---------------------------------------------------------------------------
# x231 — pipeline.curate() ledger, end-to-end
# ---------------------------------------------------------------------------


def _ledger_df(spark, ledger):
    """The curate() ledger (list of per-stage dicts) as a typed DataFrame
    in the column order the oracle emits."""
    return spark.createDataFrame(
        [tuple(r.values()) for r in ledger],
        "stage string, n_docs long, n_chars long, n_tokens long, "
        "docs_dropped long, chars_removed long",
    )


def x231_curation_ledger(spark, sf_dir):
    """The composed curation pipeline's per-stage accounting ledger
    (pipeline.curate, budget_docs=200, otherwise defaults): ingest →
    PII scrub → exact dedup → near-dup canonical election (blocked) →
    span scrub → calibrated quality filter → temperature mixture →
    leakage-safe split, each stage's (n_docs, n_chars, n_tokens,
    docs_dropped, chars_removed) reproduced by one chained DuckDB CTE
    per stage — the end-to-end certificate that the stages compose the
    way the individually green x16/x1/x67/x84/x85–x87/x88/x50/x71
    entries say they do."""
    from ...pipeline import curate

    curated, ledger = curate(
        spark, _t(spark, sf_dir, "documents"), budget_docs=200
    )
    curated.unpersist()
    return _ledger_df(spark, ledger)


def x232_curation_ledger_tokens(spark, sf_dir):
    """curate()'s TOKEN-budget arm (budget_tokens=500): identical
    pipeline through the quality gate, then stage 6 is x90's
    quality-greedy running-token-sum selection per source instead of
    the temperature document draw — the configuration a mixture recipe
    with per-source token quotas runs. Same ledger schema; the oracle
    is the x231 template with the stage-6 CTEs swapped for the x90
    window, so the shared stages stay literally identical."""
    from ...pipeline import curate

    curated, ledger = curate(
        spark, _t(spark, sf_dir, "documents"), budget_tokens=500
    )
    curated.unpersist()
    return _ledger_df(spark, ledger)


def x233_curation_decontam(spark, sf_dir):
    """curate()'s decontamination arm: docs with doc_id < 20 stand in
    for the benchmark (x35's convention), the rest are the corpus, and
    the pipeline drops every doc whose post-scrub 3-gram shingle overlap
    with the eval set exceeds 0.2 — between span scrub and the quality
    gate, exactly where a pre-training run decontaminates. The ledger
    gains its 'decontaminate' row; the oracle is the x231 template with
    the corpus restricted and the x35 chain spliced in."""
    from ...pipeline import curate

    d = _t(spark, sf_dir, "documents")
    curated, ledger = curate(
        spark,
        d.where(F.col("doc_id") >= 20),
        budget_docs=200,
        eval_docs=d.where(F.col("doc_id") < 20),
    )
    curated.unpersist()
    return _ledger_df(spark, ledger)


def x234_curation_ledger_minhash(spark, sf_dir):
    """curate()'s minhash arm made fully oracle-backed: near-dup
    candidates come from banded MinHash-LSH (64 hashes / 16 bands /
    hot-bucket cap 500) with the md5 hash family (x3's cross-engine
    convention, selected via neardup_lsh_kwargs), then the usual exact
    -Jaccard confirm at 0.3 and components election — the configuration
    a 100 TB run picks for long documents, now value-checked end to end
    instead of rows-only. The oracle swaps the blocked x67 chain for the
    x3 signature/band chain; everything downstream of `comp` is the
    shared template."""
    from ...pipeline import curate

    curated, ledger = curate(
        spark,
        _t(spark, sf_dir, "documents"),
        budget_docs=200,
        neardup_method="minhash",
        neardup_lsh_kwargs={"hash_fn": "md5"},
    )
    curated.unpersist()
    return _ledger_df(spark, ledger)


_NTOK = r"len(list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> ''))"
_NORM = (
    r"trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ',"
    r" 'g'), '\s+', ' ', 'g'))"
)
_PII = (
    r"regexp_replace(regexp_replace(regexp_replace(text,"
    r" '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),"
    r" 'https?://[^\s]+', '<URL>', 'g'),"
    r" '[0-9]{7,}', '<NUMBER_LONG>', 'g')"
)

# the x84 quality rubric (verified green there), as a reusable fragment
# parameterized on the source CTE; tokens=True also surfaces the doc's
# token count (the x90 budget selection needs both)
_QUAL = lambda src, tokens=False: f"""
  SELECT doc_id, source,{
      chr(10) + '         CAST(n_tokens AS BIGINT) AS n_tokens,'
      if tokens else ''}
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
             list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '') AS toks
      FROM {src}
    )
  )
"""  # noqa: E731

_STATS = (
    lambda src: f"SELECT CAST(count(*) AS BIGINT) AS n_docs,"
    f" CAST(COALESCE(SUM(length(text)), 0) AS BIGINT) AS n_chars,"
    f" CAST(COALESCE(SUM({_NTOK}), 0) AS BIGINT) AS n_tokens FROM {src}"
)  # noqa: E731

# x67's recursive components chain, rebased onto the exact-deduped stage
# (same surgery pattern as the green X84_SQL: the shared blocking/closure
# SQL lives once in _shared.X67_SQL)
_COMP_CHAIN = (
    X67_SQL.strip()
    .removeprefix("WITH RECURSIVE ")
    .replace("FROM documents", "FROM stage2")
    .replace(
        "SELECT node AS doc, MIN(r) AS cluster_id FROM reach GROUP BY node",
        ",\ncomp AS (\n  SELECT node AS doc, MIN(r) AS cluster_id"
        " FROM reach GROUP BY node\n)",
        1,
    )
)
assert "comp AS" in _COMP_CHAIN and "FROM stage2" in _COMP_CHAIN

# x85's span chain, rebased onto the canonical-elected stage
_SPAN_CHAIN = (
    _X85_CHAIN.strip()
    .removeprefix("WITH ")
    .replace("FROM documents", "FROM stage3")
)
assert "FROM stage3" in _SPAN_CHAIN

# x3's md5-family MinHash-LSH chain (signatures → bands → hot-bucket cap
# → candidate pairs), rebased onto the exact-deduped stage and cut before
# its final SELECT so the verify/closure CTEs can take over — the
# candidate generator of curate()'s minhash arm (x234). Multi-referenced
# CTEs get the same MATERIALIZED treatment as the stage boundaries.
_X3_CTES = (
    X3_SQL.strip()
    .removeprefix("WITH ")
    .replace("FROM documents", "FROM stage2")
)
_X3_CTES = _X3_CTES[: _X3_CTES.rindex("\nSELECT id_a")].rstrip()
for _cte in ("flat", "sigs", "kept", "pairs"):
    _X3_CTES = _X3_CTES.replace(f"{_cte} AS (", f"{_cte} AS MATERIALIZED (")
assert _X3_CTES.endswith(")") and "FROM stage2" in _X3_CTES

# banded-LSH candidates → exact-Jaccard confirm (the x67/x5 convention:
# round-6 then compare, distinct shingle sets) → recursive closure →
# components, ending in the same `comp` CTE the blocked chain ends in,
# so the election SQL downstream is shared verbatim. Threshold is the
# only knob (0.3 = curate()'s default, 0.5 = prepare_training_data's).
def _minhash_comp_chain(threshold: float) -> str:
    return f"""{_X3_CTES},
dsh AS MATERIALIZED (SELECT doc_id, list(s) AS sh FROM flat GROUP BY doc_id),
mconf AS MATERIALIZED (
  SELECT id_a AS ia, id_b AS ib
  FROM pairs
  JOIN dsh x ON x.doc_id = id_a JOIN dsh y ON y.doc_id = id_b
  WHERE round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
        / len(list_distinct(list_concat(x.sh, y.sh))), 6) >= {threshold}
),
medges AS MATERIALIZED (
  SELECT ia AS a, ib AS b FROM mconf UNION SELECT ib, ia FROM mconf
),
reach AS (
  SELECT a AS node, a AS r FROM medges
  UNION
  SELECT e.a AS node, reach.r AS r FROM medges e JOIN reach ON reach.node = e.b
),
comp AS (
  SELECT node AS doc, MIN(r) AS cluster_id FROM reach GROUP BY node
)"""


_MINHASH_COMP_CHAIN = _minhash_comp_chain(0.3)


def _ledger_sql(
    corpus_where: str | None = None,
    eval_where: str | None = None,
    mixture: str = "docs",
    budget_tokens: int = 500,
    neardup: str = "blocked",
) -> str:
    """Assemble the curate()-ledger oracle for one pipeline configuration:
    an optional corpus restriction, an optional x35-mirror decontamination
    stage (between span scrub and the quality gate, exactly where curate()
    runs it), pluggable near-dup candidate generation (the blocked x67
    chain or the md5-family MinHash-LSH x3 chain, both ending in the same
    `comp` CTE), and either the temperature document draw (x50/x71) or
    the per-source token-budget selection (x90) as stage 6.
    x231/x232/x233/x234 are four instantiations of this one template, so
    the shared stages stay literally identical across the oracles."""
    src = "corpus" if corpus_where else "documents"
    pre = (
        f"corpus AS (SELECT * FROM documents WHERE {corpus_where}),\n"
        if corpus_where
        else ""
    )
    q5src = "stage4b" if eval_where else "stage4"
    comp_chain = (
        _MINHASH_COMP_CHAIN if neardup == "minhash" else _COMP_CHAIN
    )

    head = f"""
WITH RECURSIVE
{pre}-- stage 1: PII scrub (x16 mirror) — rewrites text, drops nothing
stage1 AS (
  SELECT doc_id, source, {_PII} AS text FROM {src}
),
-- stage 2: exact dedup on normalized text, keep the min-id copy (x1/x2)
keep2 AS (
  SELECT MIN(doc_id) AS doc_id FROM stage1 GROUP BY md5({_NORM})
),
stage2 AS (SELECT s.* FROM stage1 s JOIN keep2 USING (doc_id)),
-- stage 3: near-dup components (x67 or x3 chain, rebased) + canonical
-- election (x84): inside each cluster keep the best-quality member
{comp_chain},
q3 AS ({_QUAL("stage2")}),
losers AS (
  SELECT doc FROM (
    SELECT c.doc,
           ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                              ORDER BY q3.q DESC, c.doc) AS rn
    FROM comp c JOIN q3 ON q3.doc_id = c.doc
  ) WHERE rn > 1
),
stage3 AS (
  SELECT s.* FROM stage2 s
  WHERE s.doc_id NOT IN (SELECT doc FROM losers)
),
-- stage 4: exact-substring scrub applied (x85 chain + x228 reassembly);
-- docs with UNROUNDED dup fraction >= 0.8 drop, the rest are rewritten
{_SPAN_CHAIN},
per_doc AS (
  SELECT doc, CAST(SUM(span_chars) AS BIGINT) AS dup_chars
  FROM spans GROUP BY doc
),
segs AS (
  SELECT doc, span_start, span_chars,
         COALESCE(lag(span_end) OVER (PARTITION BY doc ORDER BY span_start),
                  0) AS prev_end
  FROM spans
),
pieces AS (
  SELECT s.doc,
         substr(d.text, s.prev_end + 1, s.span_start - s.prev_end - 1)
           AS piece,
         s.span_start
  FROM segs s JOIN stage3 d ON d.doc_id = s.doc
),
rebuilt AS (
  SELECT doc, string_agg(piece, '' ORDER BY span_start) AS head
  FROM pieces GROUP BY doc
),
lastend AS (SELECT doc, MAX(span_end) AS last_end FROM spans GROUP BY doc),
stage4 AS (
  SELECT d.doc_id, d.source,
         CASE WHEN p.doc IS NULL THEN d.text
              ELSE r.head || substr(d.text, l.last_end + 1) END AS text
  FROM stage3 d
  LEFT JOIN per_doc p ON p.doc = d.doc_id
  LEFT JOIN rebuilt r ON r.doc = d.doc_id
  LEFT JOIN lastend l ON l.doc = d.doc_id
  WHERE p.doc IS NULL
     OR CAST(p.dup_chars AS DOUBLE) / greatest(length(d.text), 1) < 0.8
),"""

    decon = ""
    if eval_where:
        decon = f"""
-- stage 4b: benchmark decontamination (x35 mirror: POST-scrub corpus
-- text vs the RAW eval side — exactly what curate() hands
-- benchmark_contamination): drop docs whose distinct-3-gram shingle
-- overlap with the eval set exceeds 0.2
evtok AS (
  SELECT list_filter(regexp_split_to_array(trim({_NORM}), '\\s+'),
                     t -> t <> '') AS toks
  FROM documents WHERE {eval_where}
),
evsh AS (
  SELECT DISTINCT unnest(
    CASE WHEN len(toks) >= 3
         THEN list_distinct([array_to_string(toks[i:i+2], ' ')
                             for i in generate_series(1, len(toks) - 2)])
         ELSE [array_to_string(toks, ' ')] END) AS s
  FROM evtok WHERE len(toks) > 0
),
c4sh AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3
              THEN list_distinct([array_to_string(toks[i:i+2], ' ')
                                  for i in generate_series(1, len(toks) - 2)])
              ELSE [array_to_string(toks, ' ')] END AS sh
  FROM (
    SELECT doc_id,
           list_filter(regexp_split_to_array(trim({_NORM}), '\\s+'),
                       t -> t <> '') AS toks
    FROM stage4
  ) WHERE len(toks) > 0
),
cdirty AS (
  SELECT c.doc_id
  FROM c4sh c LEFT JOIN (
    SELECT e.doc_id, count(*) AS n
    FROM (SELECT doc_id, unnest(sh) AS s FROM c4sh) e
    JOIN evsh b USING (s) GROUP BY 1
  ) h USING (doc_id)
  WHERE round(COALESCE(h.n, 0) * 1.0 / len(c.sh), 6) > 0.2
),
stage4b AS (
  SELECT s.* FROM stage4 s
  WHERE s.doc_id NOT IN (SELECT doc_id FROM cdirty)
),"""

    quality = f"""
-- stage 5: cross-source quality calibration (x88 mirror) at >= 0.5
qual5 AS ({_QUAL(q5src)}),
cdf5 AS (
  SELECT q AS qv,
         CAST(SUM(COUNT(*)) OVER (ORDER BY q
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           / (SELECT COUNT(*) FROM qual5) AS cf
  FROM qual5 GROUP BY q
),
ranked5 AS (
  SELECT doc_id,
         percent_rank() OVER (PARTITION BY source ORDER BY q, doc_id) AS r
  FROM qual5
),
keep5 AS (
  SELECT doc_id FROM ranked5 rk
  WHERE (SELECT MIN(qv) FROM cdf5 WHERE cf >= rk.r) >= 0.5
),
stage5 AS (SELECT s.* FROM {q5src} s JOIN keep5 USING (doc_id)),"""

    if mixture == "tokens":
        stage6_name = "token_budget"
        draw = f"""
-- stage 6: quality-greedy per-source TOKEN budget (x90 mirror on the
-- post-filter corpus), budget {budget_tokens} tokens per source
tb AS (
  SELECT doc_id, source, q, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY q DESC, doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_tokens
  FROM ({_QUAL("stage5", tokens=True)})
),
keep6 AS (SELECT doc_id FROM tb WHERE cum_tokens <= {budget_tokens}),
stage6 AS (SELECT s.* FROM stage5 s JOIN keep6 USING (doc_id)),"""
    else:
        stage6_name = "mixture_draw"
        draw = f"""
-- stage 6: temperature mixture, budget 200 docs, T = 0.7 (x50 plan +
-- x71 deterministic draw)
mg AS (
  SELECT source, SUM({_NTOK}) AS n_tokens FROM stage5 GROUP BY 1
),
mtot AS (SELECT SUM(n_tokens) AS tot FROM mg),
mwtd AS (
  SELECT source, pow(n_tokens / mtot.tot, 1.0 / 0.7) AS w
  FROM mg CROSS JOIN mtot
),
mws AS (SELECT SUM(w) AS ws FROM mwtd),
mscored AS (
  SELECT source, floor(w / mws.ws * 200) AS base,
         w / mws.ws * 200 - floor(w / mws.ws * 200) AS frac
  FROM mwtd CROSS JOIN mws
),
malloc AS (
  SELECT source,
         CAST(base + CASE WHEN row_number() OVER (ORDER BY frac DESC, source)
                          <= 200 - SUM(base) OVER () THEN 1 ELSE 0 END
              AS BIGINT) AS alloc_docs
  FROM mscored
),
mpri AS (
  SELECT source, doc_id, md5(CAST(doc_id AS VARCHAR) || '-mix') AS h
  FROM stage5
),
mdrawn AS (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source
                            ORDER BY ({_X40_U}), doc_id) AS rn
  FROM mpri
),
keep6 AS (
  SELECT d.doc_id FROM mdrawn d JOIN malloc a USING (source)
  WHERE d.rn <= a.alloc_docs
),
stage6 AS (SELECT s.* FROM stage5 s JOIN keep6 USING (doc_id)),"""

    s4b_stats = f"\ns4b AS ({_STATS('stage4b')})," if eval_where else ""
    decon_rows = (
        "\nUNION ALL SELECT 'decontaminate', s4b.n_docs, s4b.n_chars,"
        " s4b.n_tokens,\n"
        "       s4.n_docs - s4b.n_docs, s4.n_chars - s4b.n_chars FROM s4, s4b"
        if eval_where
        else ""
    )
    q5prev = "s4b" if eval_where else "s4"
    tail = f"""
-- split assigns a column, drops nothing: its ledger row repeats stage 6
s0 AS ({_STATS(src)}),
s1 AS ({_STATS("stage1")}),
s2 AS ({_STATS("stage2")}),
s3 AS ({_STATS("stage3")}),
s4 AS ({_STATS("stage4")}),{s4b_stats}
s5 AS ({_STATS("stage5")}),
s6 AS ({_STATS("stage6")})
SELECT 'ingest' AS stage, n_docs, n_chars, n_tokens,
       CAST(0 AS BIGINT) AS docs_dropped, CAST(0 AS BIGINT) AS chars_removed
FROM s0
UNION ALL SELECT 'pii_scrub', s1.n_docs, s1.n_chars, s1.n_tokens,
       s0.n_docs - s1.n_docs, s0.n_chars - s1.n_chars FROM s0, s1
UNION ALL SELECT 'exact_dedup', s2.n_docs, s2.n_chars, s2.n_tokens,
       s1.n_docs - s2.n_docs, s1.n_chars - s2.n_chars FROM s1, s2
UNION ALL SELECT 'neardup_canonical', s3.n_docs, s3.n_chars, s3.n_tokens,
       s2.n_docs - s3.n_docs, s2.n_chars - s3.n_chars FROM s2, s3
UNION ALL SELECT 'span_scrub', s4.n_docs, s4.n_chars, s4.n_tokens,
       s3.n_docs - s4.n_docs, s3.n_chars - s4.n_chars FROM s3, s4{decon_rows}
UNION ALL SELECT 'quality_filter', s5.n_docs, s5.n_chars, s5.n_tokens,
       {q5prev}.n_docs - s5.n_docs, {q5prev}.n_chars - s5.n_chars
FROM {q5prev}, s5
UNION ALL SELECT '{stage6_name}', s6.n_docs, s6.n_chars, s6.n_tokens,
       s5.n_docs - s6.n_docs, s5.n_chars - s6.n_chars FROM s5, s6
UNION ALL SELECT 'split', n_docs, n_chars, n_tokens,
       CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM s6
"""
    sql = head + decon + quality + draw + tail
    # Materialize every stage boundary (and the two multi-referenced
    # inner CTEs): DuckDB otherwise inlines each reference, and because
    # stage4 sits on top of the recursive x67 reach chain the inlining
    # compounds per layer — the decontamination variant re-evaluated the
    # chain enough times to turn a ~1 min oracle into ~10+ min. A pure
    # execution hint: results are unchanged (the pending pytest compares
    # all three variants value-for-value against Spark).
    for cte in ("stage1", "stage2", "stage3", "stage4", "stage4b",
                "stage5", "stage6", "c4sh", "qual5", "spans"):
        sql = sql.replace(f"\n{cte} AS (", f"\n{cte} AS MATERIALIZED (")
    return sql


X231_SQL = _ledger_sql()
X232_SQL = _ledger_sql(mixture="tokens", budget_tokens=500)
X233_SQL = _ledger_sql(corpus_where="doc_id >= 20", eval_where="doc_id < 20")
X234_SQL = _ledger_sql(neardup="minhash")


# ---------------------------------------------------------------------------
# x237 — pipeline.prepare_training_data, end-to-end stage counts
# ---------------------------------------------------------------------------


def x237_training_data_ledger(spark, sf_dir):
    """The TRAINING-SHARD pipeline's end-to-end certificate — the
    sibling composed run to x231's curate(): quality gate → PII scrub →
    minhash near-dup removal (md5 family via lsh_kwargs, min_jaccard
    0.5) → context-window chunking (100/20) → 512-token packing →
    md5-bucket split, reported as one stage-count ledger. Certifies
    that the individually green x16/x3/x21/x22/y-split stages compose
    the way pipeline.prepare_training_data chains them."""
    from ...pipeline import prepare_training_data

    return _training_rows(spark, sf_dir)


def _training_rows(spark, sf_dir, **prep_kwargs):
    """Run prepare_training_data (md5 hash family + any extra config)
    and reduce the returned stages to the 8-row stage-count ledger the
    x237/x238 oracles reproduce."""
    from ... import caching
    from ...pipeline import prepare_training_data

    with caching.scope():
        stages = prepare_training_data(
            spark,
            _t(spark, sf_dir, "documents"),
            lsh_kwargs={"hash_fn": "md5"},
            **prep_kwargs,
        )
        rows = [
            ("quality_total", stages["quality"].count()),
            ("quality_keep", stages["quality"].where(F.col("keep")).count()),
            ("deduped", stages["deduped"].count()),
            ("chunks", stages["chunks"].count()),
            (
                "packs",
                stages["packs"].select("pack_id").distinct().count(),
            ),
        ]
        sp = {
            r["split"]: r["n"]
            for r in stages["split"]
            .groupBy("split")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        rows += [
            (f"split_{k}", int(sp.get(k, 0))) for k in ("train", "val", "test")
        ]
    return spark.createDataFrame(rows, "stage string, n_rows long")


def x238_training_data_filters(spark, sf_dir):
    """x237 with the two optional deterministic filter stages ON:
    Gopher-style intra-doc repetition cutoff (dup_bigram_frac <= 0.1,
    the x28 signal) and RefinedWeb-style cross-corpus boilerplate
    cutoff (duplicate-5-gram coverage <= 0.8, the x68 signal), spliced
    between the quality gate and the PII scrub exactly where
    prepare_training_data runs them. Same 8-row ledger as x237 — the
    filters' effect is certified through the downstream
    dedup/chunk/pack/split counts. (The third optional stage, the
    length-quantile cutoff, rides a mergeable sketch whose approximate
    cutoff is not SQL-mirrorable — it stays pytest-covered.)"""
    return _training_rows(
        spark, sf_dir, max_dup_bigram_frac=0.1, max_cross_doc_dup_frac=0.8
    )


def _training_ledger_sql(
    max_dup_bigram: float | None = None,
    max_crossdoc: float | None = None,
) -> str:
    """Assemble the prepare_training_data stage-count oracle: quality
    gate → [optional x28 repetition filter] → [optional x68 cross-doc
    coverage filter] → PII scrub → md5-family minhash components →
    chunk/pack/split counts. x237 (both filters off) and x238 (both on)
    are two instantiations, so the shared stages stay literally
    identical."""
    scrub_src = "stage1"
    filters = ""
    if max_dup_bigram is not None:
        filters += f"""
-- optional filter 1 (x28 mirror on the kept docs, RAW-text whitespace
-- bigrams): keep docs whose duplicate-bigram fraction is within bound;
-- the pipeline's inner join drops token-less docs, which the per-doc
-- aggregate reproduces (no tok rows -> no rep row)
rep AS (
  SELECT doc_id FROM (
    SELECT doc_id, count(t2) AS n_bigrams,
           count(DISTINCT CASE WHEN t2 IS NOT NULL
                               THEN tk || ' ' || t2 END) AS nd
    FROM (
      SELECT doc_id, tk,
             lead(tk) OVER (PARTITION BY doc_id ORDER BY pos) AS t2
      FROM (
        SELECT doc_id, unnest(t) AS tk,
               unnest(generate_series(1, len(t))) AS pos
        FROM (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(text), '\\s+'),
                             x -> x <> '') AS t
          FROM {scrub_src}
        )
      )
    ) GROUP BY doc_id
  )
  WHERE CASE WHEN n_bigrams > 0
             THEN 1 - nd / CAST(n_bigrams AS DOUBLE) ELSE 0.0 END
        <= {max_dup_bigram}
),
stage1r AS MATERIALIZED (
  SELECT s.* FROM {scrub_src} s JOIN rep USING (doc_id)
),"""
        scrub_src = "stage1r"
    if max_crossdoc is not None:
        filters += f"""
-- optional filter 2 (x68 mirror on the post-repetition kept set):
-- drop docs whose duplicate-5-gram coverage (round 6, the operator's
-- convention) exceeds the bound; docs absent from the coverage frame
-- (zero tokens) pass through the anti-join untouched
cdnorm AS (
  SELECT doc_id, {{norm}} AS toks FROM {scrub_src}
),
cdshp AS (
  SELECT doc_id, i, array_to_string(toks[i:i+4], ' ') AS s
  FROM cdnorm, unnest(generate_series(1, greatest(len(toks) - 4, 0))) AS u(i)
),
cddup AS (
  SELECT s FROM (SELECT DISTINCT doc_id, s FROM cdshp)
  GROUP BY s HAVING count(*) >= 2
),
cdover AS (
  SELECT n.doc_id
  FROM cdnorm n JOIN (
    SELECT doc_id, count(DISTINCT cp) AS dup_tokens
    FROM (SELECT doc_id, unnest(generate_series(i, i + 4)) AS cp
          FROM cdshp SEMI JOIN cddup USING (s))
    GROUP BY doc_id
  ) c USING (doc_id)
  WHERE round(CAST(c.dup_tokens AS DOUBLE) / len(n.toks), 6) > {max_crossdoc}
),
stage1c AS MATERIALIZED (
  SELECT s.* FROM {scrub_src} s
  WHERE s.doc_id NOT IN (SELECT doc_id FROM cdover)
),""".replace("{norm}", _NORM_TOKS_SQL)
        scrub_src = "stage1c"

    return f"""
WITH RECURSIVE
-- quality gate (textstats.quality_filter mirror; the reason-labeled
-- form of the same rubric is X18_SQL — change all three together):
-- drop on too few tokens (< 20), digit ratio > 0.2, or mean token
-- length < 3.0
qstats AS (
  SELECT doc_id, text, len(toks) AS n_tokens,
         CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS digr,
         CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum')
              AS DOUBLE) / greatest(len(toks), 1) AS mtl
  FROM (
    SELECT doc_id, text,
           list_filter(regexp_split_to_array(trim(text), '\\s+'),
                       t -> t <> '') AS toks
    FROM documents
  )
),
stage1 AS MATERIALIZED (
  SELECT doc_id, text FROM qstats
  WHERE n_tokens >= 20 AND digr <= 0.2 AND mtl >= 3.0
),{filters}
-- PII scrub (x16 mirror) on the survivors
stage2pre AS MATERIALIZED (
  SELECT doc_id, {_PII} AS text FROM {scrub_src}
),
-- exact-normalized pre-collapse (x1/x2 mirror): min-id copy per
-- normalized hash feeds the LSH stage — survivor-set-preserving under
-- the hot-bucket cap, quadratic-pair-work-saving always (see
-- pipeline.prepare_training_data)
keepx AS (
  SELECT MIN(doc_id) AS doc_id FROM stage2pre GROUP BY md5({_NORM})
),
stage2 AS MATERIALIZED (
  SELECT s.* FROM stage2pre s JOIN keepx USING (doc_id)
),
-- md5-family MinHash-LSH candidates -> exact-Jaccard confirm at 0.5 ->
-- components; keep unclustered docs and each cluster's min-id member
{_minhash_comp_chain(0.5)},
stage3 AS MATERIALIZED (
  SELECT s.doc_id, s.text
  FROM stage2 s LEFT JOIN comp c ON c.doc = s.doc_id
  WHERE c.doc IS NULL OR c.cluster_id = s.doc_id
),
-- x21 chunk rows (100-token chunks, 20 overlap) over the deduped docs
ch AS (
  SELECT unnest(generate_series(0,
           CAST(greatest(ceil((len(tk) - 20) / 80.0), 1) AS BIGINT) - 1))
  FROM (SELECT {_NORM_TOKS_SQL} AS tk FROM stage3)
),
-- x22 pack ids (512-token budget, doc-id order)
pk AS (
  SELECT floor((c - n_tokens) / 512.0) AS pack_id
  FROM (
    SELECT n_tokens,
           SUM(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
    FROM (SELECT doc_id, len({_NORM_TOKS_SQL}) AS n_tokens FROM stage3)
  )
),
-- y-split md5 buckets over the deduped docs
sp AS (
  SELECT {_Y_SPLIT_CASE} AS split
  FROM (SELECT ({_Y_SPLIT_INNER}) AS b FROM stage3)
)
SELECT 'quality_total' AS stage, CAST(count(*) AS BIGINT) AS n_rows
FROM documents
UNION ALL SELECT 'quality_keep', count(*) FROM stage1
UNION ALL SELECT 'deduped', count(*) FROM stage3
UNION ALL SELECT 'chunks', count(*) FROM ch
UNION ALL SELECT 'packs', count(DISTINCT pack_id) FROM pk
UNION ALL SELECT 'split_train', count(*) FROM sp WHERE split = 'train'
UNION ALL SELECT 'split_val', count(*) FROM sp WHERE split = 'val'
UNION ALL SELECT 'split_test', count(*) FROM sp WHERE split = 'test'
"""


X237_SQL = _training_ledger_sql()
X238_SQL = _training_ledger_sql(max_dup_bigram=0.1, max_crossdoc=0.8)


COMPOSED = {
    "x228_span_scrub_apply": (x228_span_scrub_apply, X228_SQL),
    "x229_knn_agreement_autobucket": (
        x229_knn_agreement_autobucket,
        X229_SQL,
    ),
    "x230_ivf_fixed_cells_sweep": (x230_ivf_fixed_cells_sweep, X230_SQL),
    "x231_curation_ledger": (x231_curation_ledger, X231_SQL),
    "x232_curation_ledger_tokens": (x232_curation_ledger_tokens, X232_SQL),
    "x233_curation_decontam": (x233_curation_decontam, X233_SQL),
    "x234_curation_ledger_minhash": (x234_curation_ledger_minhash, X234_SQL),
    "x235_retrieval_exposure_autobucket": (
        x235_retrieval_exposure_autobucket,
        X235_SQL,
    ),
    "x236_knn_classifier_autobucket": (
        x236_knn_classifier_autobucket,
        X236_SQL,
    ),
    "x237_training_data_ledger": (x237_training_data_ledger, X237_SQL),
    "x238_training_data_filters": (x238_training_data_filters, X238_SQL),
}
