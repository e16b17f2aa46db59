"""Round-5 late ops: Zipf-law fit (x94), binary Hamming ANN (x95),
character entropy (x96), dataset card (x97) — planted-data semantics
pins; sf0.01/sf0.1 value-hash equivalence lives in the driver gate /
check_correctness."""

from __future__ import annotations

import math

from pyspark.sql import Row, functions as F

from shifts_etl_spark.operators.curation import dataset_card
from shifts_etl_spark.operators.simsearch import hamming_topk
from shifts_etl_spark.operators.textstats import (
    char_entropy,
    quality_score,
    zipf_fit,
)


def _doc(i, text, lang="en", source="s"):
    return Row(doc_id=i, text=text, lang=lang, source=source,
               n_chars=len(text))


def _ols(xs, ys):
    n = len(xs)
    mx, my = sum(xs) / n, sum(ys) / n
    cov = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / n
    var = sum((x - mx) ** 2 for x in xs) / n
    slope = cov / var
    return slope, my - slope * mx


def test_zipf_fit_matches_hand_ols(spark):
    """Word counts 8/4/2/1 at ranks 1-4: the slope/intercept must equal
    the hand-computed population OLS of ln(freq) on ln(rank), and the
    totals must count the full per-source vocabulary."""
    text = " ".join(["aa"] * 8 + ["bb"] * 4 + ["cc"] * 2 + ["dd"])
    df = spark.createDataFrame([_doc(1, text)])
    out = zipf_fit(df, min_ranks=2).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_types, r.n_tokens, r.n_ranks) == (4, 15, 4)
    xs = [math.log(k) for k in (1, 2, 3, 4)]
    ys = [math.log(c) for c in (8, 4, 2, 1)]
    slope, intercept = _ols(xs, ys)
    assert r.zipf_slope == round(slope, 4)
    assert r.zipf_intercept == round(intercept, 4)


def test_zipf_fit_min_ranks_drops_tiny_sources(spark):
    """A source with fewer distinct tokens than min_ranks yields no fit
    row (var of a 1-point regression is 0 — filtered, not NaN)."""
    df = spark.createDataFrame(
        [_doc(1, "solo solo solo", source="tiny"),
         _doc(2, " ".join(f"w{i}" for i in range(20)), source="big")]
    )
    out = {r.source: r for r in zipf_fit(df, min_ranks=10).collect()}
    assert set(out) == {"big"}
    assert out["big"].n_ranks == 20


def test_hamming_topk_distances_and_ties(spark):
    """Query 0 = all-positive 64-dim. Candidate 10 matches exactly
    (hamming 0), 11 and 13 flip one sign each (hamming 1 — tie broken by
    id), 12 flips all 64. A 32-dim candidate scores 32: absent dims pack
    as 0-bits against the query's upper word of ones."""
    plus = [1.0] * 64
    rows = [
        Row(vec_id=0, embedding=plus, label=0),
        Row(vec_id=10, embedding=list(plus), label=0),
        Row(vec_id=11, embedding=[-1.0] + [1.0] * 63, label=0),
        Row(vec_id=13, embedding=[1.0] * 63 + [-1.0], label=0),
        Row(vec_id=12, embedding=[-1.0] * 64, label=0),
        Row(vec_id=14, embedding=[1.0] * 32, label=0),
    ]
    df = spark.createDataFrame(rows)
    out = hamming_topk(df, query_ids=[0], k=5).collect()
    got = [(r.neighbor_id, r.hamming, r.rank) for r in
           sorted(out, key=lambda r: r.rank)]
    assert got == [(10, 0, 1), (11, 1, 2), (13, 1, 3), (14, 32, 4),
                   (12, 64, 5)]


def test_hamming_topk_zero_is_positive_bit(spark):
    """An exactly-0.0 coordinate binarizes as a set bit (>= 0), matching
    the oracle's CASE WHEN embedding[i] >= 0."""
    rows = [
        Row(vec_id=0, embedding=[0.0] * 64, label=0),
        Row(vec_id=10, embedding=[1.0] * 64, label=0),
    ]
    out = hamming_topk(spark.createDataFrame(rows), query_ids=[0], k=1
                       ).collect()
    assert (out[0].neighbor_id, out[0].hamming) == (10, 0)


def test_char_entropy_degenerate_and_uniform(spark):
    """'aaaa' → 0 nats (flagged); 'abab' → exactly ln 2; an empty-
    alphabet doc (symbols only) → n_alpha 0, entropy 0.0, flagged; a
    natural sentence clears the 2.0-nat garbage bar."""
    rows = [
        _doc(1, "aaaa"),
        _doc(2, "abab"),
        _doc(3, "!!!???###"),
        _doc(4, "the quick brown fox jumps over the lazy dog"),
    ]
    out = {r.doc_id: r for r in
           char_entropy(spark.createDataFrame(rows)).collect()}
    assert (out[1].n_alpha, out[1].char_entropy, out[1].is_low_entropy) == \
        (4, 0.0, True)
    assert out[2].char_entropy == round(math.log(2), 6)
    assert (out[3].n_alpha, out[3].char_entropy, out[3].is_low_entropy) == \
        (0, 0.0, True)
    assert out[4].char_entropy > 2.0 and not out[4].is_low_entropy


def test_char_entropy_case_folds(spark):
    """Upper/lower case fold together before counting: 'ABAB' scores the
    same ln 2 as 'abab'."""
    out = char_entropy(
        spark.createDataFrame([_doc(1, "ABAB"), _doc(2, "abab")])
    ).collect()
    assert out[0].char_entropy == out[1].char_entropy == round(
        math.log(2), 6
    )


def test_dataset_card_rollup(spark):
    """Source A: 3 docs, one exact-dup pair → dup_rate 1/3; langs en/en/
    fr → share_en 2/3, n_langs 2; token/char sums exact; mean_quality
    equals the averaged per-doc quality_score."""
    ta = "the cat sat on the mat with a hat and a bat for the day"
    tb = "completely different words appear in this other document here"
    rows = [
        _doc(1, ta, lang="en", source="A"),
        _doc(2, ta, lang="en", source="A"),
        _doc(3, tb, lang="fr", source="A"),
        _doc(4, "short", lang="en", source="B"),
    ]
    df = spark.createDataFrame(rows)
    out = {r.source: r for r in dataset_card(df).collect()}
    assert set(out) == {"A", "B"}
    a = out["A"]
    assert a.n_docs == 3
    assert a.n_tokens == 15 + 15 + 9
    assert a.n_chars == len(ta) * 2 + len(tb)
    assert (a.n_langs, a.share_en) == (2, round(2 / 3, 6))
    assert a.dup_rate == round(1 - 2 / 3, 6)
    q = [r[0] for r in df.where(F.col("source") == "A")
         .select(quality_score(F.col("text"))).collect()]
    assert a.mean_quality == round(sum(q) / 3, 6)
    b = out["B"]
    assert (b.n_docs, b.dup_rate, b.n_langs) == (1, 0.0, 1)


def test_shingle_novelty_first_seen_attribution(spark):
    """Doc 1 (A) coins both shingles of 'a b c d'; doc 2 (B) repeats
    them verbatim, doc 3 (B) adds one new shingle → A is 100% novel,
    B is 1/3 novel with 3 occurrence rows."""
    from shifts_etl_spark.operators.dedup import shingle_novelty

    rows = [
        _doc(1, "a b c d", source="A"),
        _doc(2, "a b c d", source="B"),
        _doc(3, "x y z", source="B"),
    ]
    out = {r.source: r for r in
           shingle_novelty(spark.createDataFrame(rows)).collect()}
    a, b = out["A"], out["B"]
    assert (a.n_occurrences, a.n_distinct, a.n_novel, a.novelty_rate) == \
        (2, 2, 2, 1.0)
    assert (b.n_occurrences, b.n_distinct, b.n_novel) == (3, 3, 1)
    assert b.novelty_rate == round(1 / 3, 6)


def test_source_overlap_full_matrix(spark):
    """A ⊂ B shares both of A's shingles (Jaccard 2/3); C is disjoint
    but still rows against A and B with jaccard 0.0 (full matrix)."""
    from shifts_etl_spark.operators.dedup import source_shingle_overlap

    rows = [
        _doc(1, "a b c d", source="A"),            # {a b c, b c d}
        _doc(2, "a b c d e", source="B"),          # + {c d e}
        _doc(3, "q r s", source="C"),              # {q r s}
    ]
    out = {(r.source_a, r.source_b): r for r in
           source_shingle_overlap(spark.createDataFrame(rows)).collect()}
    assert set(out) == {("A", "B"), ("A", "C"), ("B", "C")}
    ab = out[("A", "B")]
    assert (ab.n_a, ab.n_b, ab.n_shared) == (2, 3, 2)
    assert ab.jaccard == round(2 / 3, 6)
    assert out[("A", "C")].jaccard == 0.0
    assert out[("B", "C")].n_shared == 0


def test_categorical_mi_dependence_and_independence(spark):
    """Perfectly confounded lang↔source → every cell carries pmi ln 2;
    a fully independent 2×2 grid → pmi 0 everywhere."""
    from shifts_etl_spark.operators.profile import categorical_mi

    dep = spark.createDataFrame(
        [_doc(1, "t", lang="en", source="X"),
         _doc(2, "t", lang="en", source="X"),
         _doc(3, "t", lang="fr", source="Y"),
         _doc(4, "t", lang="fr", source="Y")]
    )
    out = categorical_mi(dep).collect()
    assert len(out) == 2
    for r in out:
        assert (r.n, r.n_a, r.n_b) == (2, 2, 2)
        assert r.p_joint == 0.5
        assert r.pmi == round(math.log(2), 6)
        assert r.mi_contrib == round(0.5 * math.log(2), 6)

    ind = spark.createDataFrame(
        [_doc(1, "t", lang="en", source="X"),
         _doc(2, "t", lang="en", source="Y"),
         _doc(3, "t", lang="fr", source="X"),
         _doc(4, "t", lang="fr", source="Y")]
    )
    for r in categorical_mi(ind).collect():
        assert r.pmi == 0.0 and r.mi_contrib == 0.0


def test_retention_sweep_threshold_semantics(spark):
    """Two docs per source at known quality scores: a long stopword-rich
    doc scores 1.0, a 3-token doc scores 0.6 (loses len_ok 0.4);
    threshold 0.7 keeps exactly the good doc, 0.0 keeps both."""
    from shifts_etl_spark.operators.curation import retention_sweep

    good = ("the quick brown fox jumped over the lazy sleeping dog "
            "again today")
    bad = "xxx yyy zzz"
    rows = [_doc(1, good, source="A"), _doc(2, bad, source="A")]
    df = spark.createDataFrame(rows)
    q = {r.doc_id: r.q for r in df.select(
        "doc_id", F.round(quality_score(F.col("text")), 4).alias("q")
    ).collect()}
    assert q[1] == 1.0 and q[2] == 0.4  # bad: mtl 0.3 + digits 0.1
    out = {r.threshold: r for r in
           retention_sweep(df, thresholds=(0.0, 0.7)).collect()}
    full = out[0.0]
    assert (full.docs_kept, full.doc_retention) == (2, 1.0)
    assert full.tokens_kept == 12 + 3
    cut = out[0.7]
    assert (cut.docs_kept, cut.tokens_kept) == (1, 12)
    assert cut.doc_retention == 0.5
    assert cut.token_retention == round(12 / 15, 6)


def test_langid_eval_metrics(spark):
    """3 en docs (2 predicted en, 1 with no stopwords → und) + 1 fr doc
    predicted fr: en has recall 2/3 precision 1.0; fr is perfect; the
    'und' row appears with zero declared support and zero precision."""
    from shifts_etl_spark.operators.textstats import langid_eval

    rows = [
        _doc(1, "the cat of the hat", lang="en"),
        _doc(2, "a dog and a cat", lang="en"),
        _doc(3, "zzz qqq www", lang="en"),
        _doc(4, "le chat et la maison", lang="fr"),
    ]
    out = {r.lang: r for r in
           langid_eval(spark.createDataFrame(rows)).collect()}
    en = out["en"]
    assert (en.n_declared, en.n_predicted, en.n_correct) == (3, 2, 2)
    assert en.precision == 1.0
    assert en.recall == round(2 / 3, 6)
    assert en.f1 == round(2 * 1.0 * (2 / 3) / (1.0 + 2 / 3), 6)
    fr = out["fr"]
    assert (fr.n_declared, fr.n_predicted, fr.f1) == (1, 1, 1.0)
    und = out["und"]
    assert (und.n_declared, und.n_predicted, und.n_correct) == (0, 1, 0)
    assert (und.precision, und.recall, und.f1) == (0.0, 0.0, 0.0)


def test_coverage_sample_sqrt_allocation(spark):
    """Two well-separated clusters, 16 vs 4 vectors: sqrt weights 4:2
    split a budget of 6 into quotas 4 and 2; every draw comes from the
    right cell, ranks are 1..quota, and the draw is reproducible."""
    from shifts_etl_spark.operators.clustering import (
        coverage_sample, kmeans_fit,
    )

    rows = [Row(vec_id=i, embedding=[10.0, 10.0 + (i % 4) * 0.1], label=0)
            for i in range(16)]
    rows += [Row(vec_id=100 + i, embedding=[-10.0, -10.0 - i * 0.1], label=1)
             for i in range(4)]
    emb = spark.createDataFrame(rows)
    model = kmeans_fit(emb, k=2, max_iter=3, init="first", round_decimals=6)
    out = coverage_sample(emb, model.centroids, budget=6).collect()
    by_cell = {}
    for r in out:
        by_cell.setdefault(r.cell, []).append(r)
    quotas = sorted(len(v) for v in by_cell.values())
    assert quotas == [2, 4]
    for rs in by_cell.values():
        assert sorted(r.draw_rank for r in rs) == list(range(1, len(rs) + 1))
        ids = {r.vec_id for r in rs}
        assert ids <= set(range(16)) or ids <= set(range(100, 104))
    again = coverage_sample(emb, model.centroids, budget=6).collect()
    assert sorted((r.cell, r.vec_id, r.draw_rank) for r in out) == \
        sorted((r.cell, r.vec_id, r.draw_rank) for r in again)


def test_label_separability_fisher_pins(spark):
    """Dim 1 separates the labels perfectly (within-var 0 in each
    label); dim 2 is identical across labels (between-var 0). Hand
    numbers: dim1 means ±1 → between 1.0; dim2 values ±1 in both labels
    → within 1.0, fisher 0."""
    from shifts_etl_spark.operators.profile import label_separability

    rows = [
        Row(vec_id=1, embedding=[1.0, 1.0], label=0),
        Row(vec_id=2, embedding=[1.0, -1.0], label=0),
        Row(vec_id=3, embedding=[-1.0, 1.0], label=1),
        Row(vec_id=4, embedding=[-1.0, -1.0], label=1),
    ]
    out = {r.dim: r for r in
           label_separability(spark.createDataFrame(rows)).collect()}
    d1, d2 = out[1], out[2]
    assert (d1.n_labels, d1.grand_mean) == (2, 0.0)
    assert (d1.between_var, d1.within_var) == (1.0, 0.0)
    assert d1.fisher_ratio is None  # within 0 → undefined, not an error
    assert (d2.between_var, d2.within_var, d2.fisher_ratio) == (0.0, 1.0, 0.0)


def test_ann_recall_hand_case(spark):
    """4 vectors on known axes, queries 0 and 1, k=2: vector 0's exact
    top-2 and Hamming top-2 agree on one neighbor out of two (sign
    bits collapse 0/1 onto the same quadrant but cosine splits them),
    so recall values are exact and hand-checkable; denominators use the
    actual exact-neighbor count."""
    from shifts_etl_spark.operators.simsearch import (
        ann_recall, brute_force_topk, hamming_topk,
    )

    rows = [
        Row(vec_id=0, embedding=[1.0, 0.1], label=0),
        Row(vec_id=1, embedding=[1.0, -0.1], label=0),
        Row(vec_id=2, embedding=[-1.0, 0.1], label=1),
        Row(vec_id=3, embedding=[0.1, 1.0], label=1),
    ]
    emb = spark.createDataFrame(rows)
    exact = {(r.query_id, r.neighbor_id)
             for r in brute_force_topk(emb, [0, 1], k=2).collect()}
    approx = {(r.query_id, r.neighbor_id)
              for r in hamming_topk(emb, [0, 1], k=2).collect()}
    out = {r.query_id: r for r in ann_recall(emb, [0, 1], k=2).collect()}
    for qid in (0, 1):
        hits = len({p for p in exact if p[0] == qid}
                   & {p for p in approx if p[0] == qid})
        r = out[qid]
        assert (r.n_exact, r.n_hits) == (2, hits)
        assert r.recall == round(hits / 2, 6)


def test_ann_recall_perfect_on_separated_corpus(spark):
    """Two antipodal clusters: the Hamming index recovers the exact
    top-k perfectly (recall 1.0 for every query)."""
    from shifts_etl_spark.operators.simsearch import ann_recall

    rows = [Row(vec_id=i, embedding=[1.0 + 0.01 * i, 1.0], label=0)
            for i in range(6)]
    rows += [Row(vec_id=10 + i, embedding=[-1.0 - 0.01 * i, -1.0], label=1)
             for i in range(6)]
    emb = spark.createDataFrame(rows)
    for r in ann_recall(emb, [0, 10], k=3).collect():
        assert (r.n_exact, r.n_hits, r.recall) == (3, 3, 1.0)


def test_dedup_savings_accounting(spark):
    """Sources A (a near-dup pair, the lower-quality member removed) and
    B (two unrelated docs, nothing removed): counts, token sums, and
    savings fractions pin exactly."""
    from shifts_etl_spark.operators.dedup import dedup_savings

    dup = ("the quick brown fox jumped over the lazy sleeping dog "
           "again today")
    near = dup + " furthermore"  # shares rare shingles, high jaccard
    rows = [
        _doc(1, dup, source="A"),
        _doc(2, near, source="A"),
        _doc(3, "completely unrelated words appear here once", source="B"),
        _doc(4, "another entirely different document body text", source="B"),
    ]
    out = {r.source: r for r in
           dedup_savings(spark.createDataFrame(rows)).collect()}
    a = out["A"]
    assert (a.n_docs, a.docs_removed) == (2, 1)
    assert a.tokens_total == 12 + 13
    assert a.tokens_removed in (12, 13)  # the lower-quality member
    assert a.doc_savings == 0.5
    assert a.token_savings == round(a.tokens_removed / 25, 6)
    b = out["B"]
    assert (b.docs_removed, b.tokens_removed) == (0, 0)
    assert (b.doc_savings, b.token_savings) == (0.0, 0.0)


def _ev(i, user, etype, ts):
    import datetime as _dt
    return Row(event_id=i, ts=_dt.datetime.fromisoformat(ts),
               user_id=user, event_type=etype, value=1.0, props="{}")


def test_cohort_retention_matrix(spark):
    """Users 1,2 cohort in the week of Mon 2024-01-01 (user 1 returns
    two weeks later, user 2 doesn't); user 3 cohorts the next week.
    Retention pins: W1 offset0 = 2/2, offset2 = 1/2; W2 offset0 = 1/1."""
    from shifts_etl_spark.operators.funnel import cohort_retention
    import datetime as dt

    rows = [
        _ev(1, 1, "view", "2024-01-02T10:00:00"),
        _ev(2, 1, "click", "2024-01-16T10:00:00"),  # offset 2
        _ev(3, 2, "view", "2024-01-03T10:00:00"),
        _ev(4, 3, "view", "2024-01-10T10:00:00"),
    ]
    out = {(r.cohort_week, r.week_offset): r for r in
           cohort_retention(spark.createDataFrame(rows)).collect()}
    w1, w2 = dt.date(2024, 1, 1), dt.date(2024, 1, 8)
    assert set(out) == {(w1, 0), (w1, 2), (w2, 0)}
    assert (out[(w1, 0)].n_active, out[(w1, 0)].cohort_size,
            out[(w1, 0)].retention) == (2, 2, 1.0)
    assert (out[(w1, 2)].n_active, out[(w1, 2)].retention) == (1, 0.5)
    assert (out[(w2, 0)].n_active, out[(w2, 0)].retention) == (1, 1.0)


def test_funnel_conversion_strict_order(spark):
    """User 1 completes view->click->purchase in order; user 2 clicked
    BEFORE viewing (click must not count) and purchased without a valid
    click; user 3 never viewed (excluded entirely). Funnel: 2 -> 1 -> 1."""
    from shifts_etl_spark.operators.funnel import funnel_conversion

    rows = [
        _ev(1, 1, "view", "2024-01-02T10:00:00"),
        _ev(2, 1, "click", "2024-01-02T11:00:00"),
        _ev(3, 1, "purchase", "2024-01-02T12:00:00"),
        _ev(4, 2, "click", "2024-01-02T09:00:00"),  # before the view
        _ev(5, 2, "view", "2024-01-02T10:00:00"),
        _ev(6, 2, "purchase", "2024-01-02T11:00:00"),  # no click after view
        _ev(7, 3, "click", "2024-01-02T10:00:00"),
        _ev(8, 3, "purchase", "2024-01-02T11:00:00"),
    ]
    out = sorted(funnel_conversion(spark.createDataFrame(rows)).collect(),
                 key=lambda r: r.step_idx)
    assert [(r.step, r.n_users) for r in out] == [
        ("view", 2), ("click", 1), ("purchase", 1)]
    assert [r.conv_from_top for r in out] == [1.0, 0.5, 0.5]
    assert [r.conv_from_prev for r in out] == [1.0, 0.5, 1.0]


def test_rfm_segments_quartile_scoring(spark):
    """4 users with strictly increasing frequency/monetary and strictly
    decreasing recency: quartile boundaries at the 3 interpolation
    points give one user per score level, and the best user (most
    recent, most frequent, highest value) lands in (4,4,4)."""
    from shifts_etl_spark.operators.funnel import rfm_segments

    rows = []
    eid = 0
    # user u has u events on day u (u=1..4): freq u, monetary u,
    # recency (4 - u) days from the global max (day 4)
    for u in range(1, 5):
        for j in range(u):
            eid += 1
            rows.append(_ev(eid, u, "view",
                            f"2024-01-0{u}T10:0{j}:00"))
    out = {(r.r_score, r.f_score, r.m_score): r for r in
           rfm_segments(spark.createDataFrame(rows)).collect()}
    # each user occupies its own quartile on every axis
    assert set(out) == {(1, 1, 1), (2, 2, 2), (3, 3, 3), (4, 4, 4)}
    best = out[(4, 4, 4)]
    assert (best.n_users, best.avg_frequency, best.avg_monetary) == (
        1, 4.0, 4.0)


def test_type_cooccurrence_lift_values(spark):
    """4 users: 2 with {view, click}, 1 view-only, 1 click+purchase.
    Hand numbers: n=4; view 3, click 3, purchase 1; (click,view) both=2
    -> support .5, confidence 2/3, lift 2*4/(3*3); (click,purchase)
    both=1 -> lift 4/3; (purchase,view) pair absent (no user has
    both)."""
    from shifts_etl_spark.operators.funnel import type_cooccurrence_lift

    rows = [
        _ev(1, 1, "view", "2024-01-01T10:00:00"),
        _ev(2, 1, "click", "2024-01-01T11:00:00"),
        _ev(3, 2, "view", "2024-01-01T10:00:00"),
        _ev(4, 2, "click", "2024-01-01T11:00:00"),
        _ev(5, 2, "click", "2024-01-01T12:00:00"),  # dup type, same user
        _ev(6, 3, "view", "2024-01-01T10:00:00"),
        _ev(7, 4, "click", "2024-01-01T10:00:00"),
        _ev(8, 4, "purchase", "2024-01-01T11:00:00"),
    ]
    out = {(r.type_a, r.type_b): r for r in
           type_cooccurrence_lift(spark.createDataFrame(rows)).collect()}
    assert set(out) == {("click", "view"), ("click", "purchase")}
    cv = out[("click", "view")]
    assert (cv.n_both, cv.support) == (2, 0.5)
    assert cv.confidence == round(2 / 3, 6)
    assert cv.lift == round(2 * 4 / (3 * 3), 6)
    cp = out[("click", "purchase")]
    assert (cp.n_both, cp.confidence) == (1, round(1 / 3, 6))
    assert cp.lift == round(1 * 4 / (3 * 1), 6)


def test_session_top_paths_gap_split(spark):
    """User 1: view,click then a 31-min gap then purchase -> two
    sessions ('view>click' and 'purchase'); user 2: a single
    'view>click' session. Top paths: view>click x2, purchase x1."""
    from shifts_etl_spark.operators.funnel import session_top_paths

    rows = [
        _ev(1, 1, "view", "2024-01-01T10:00:00"),
        _ev(2, 1, "click", "2024-01-01T10:05:00"),
        _ev(3, 1, "purchase", "2024-01-01T10:36:01"),  # 31m01s after click
        _ev(4, 2, "view", "2024-01-01T09:00:00"),
        _ev(5, 2, "click", "2024-01-01T09:29:00"),
    ]
    out = [(r.path, r.n_sessions) for r in
           session_top_paths(spark.createDataFrame(rows)).collect()]
    assert out == [("view>click", 2), ("purchase", 1)]


def test_session_top_paths_boundary_exact_gap(spark):
    """A gap of exactly 30:00 does NOT split (rule is strictly >)."""
    from shifts_etl_spark.operators.funnel import session_top_paths

    rows = [
        _ev(1, 1, "view", "2024-01-01T10:00:00"),
        _ev(2, 1, "click", "2024-01-01T10:30:00"),
    ]
    out = [(r.path, r.n_sessions) for r in
           session_top_paths(spark.createDataFrame(rows)).collect()]
    assert out == [("view>click", 1)]


def test_interarrival_profile_buckets(spark):
    """User 1 emits clicks at gaps of 1 s, 2 s, 5 s, 4000 s: buckets
    0, 1, 3 (4 < 5 <= 8), 12 (2048 < 4000 <= 4096); shares are 1/4
    each. First event contributes no gap."""
    from shifts_etl_spark.operators.funnel import interarrival_profile

    times = ["2024-01-01T10:00:00", "2024-01-01T10:00:01",
             "2024-01-01T10:00:03", "2024-01-01T10:00:08"]
    rows = [_ev(i + 1, 1, "click", t) for i, t in enumerate(times)]
    import datetime as dt
    last = dt.datetime.fromisoformat(times[-1]) + dt.timedelta(seconds=4000)
    rows.append(_ev(9, 1, "click", last.isoformat()))
    out = {r.gap_bucket: r for r in
           interarrival_profile(spark.createDataFrame(rows)).collect()}
    assert set(out) == {0, 1, 3, 12}
    for r in out.values():
        assert (r.event_type, r.n_gaps, r.share) == ("click", 1, 0.25)


def test_lf_agreement_hand_matrix(spark):
    """Two docs: a good one (all four LFs vote 1) and '1 2 3' (len 0,
    mtl 0 [mean len 1], stop 0, digit 0 [ratio 3/5 > 0.2]). Every pair
    agrees on both docs -> agree 2, conflict 0; both_fire = 1 (the good
    doc only)."""
    from shifts_etl_spark.operators.textstats import lf_agreement

    good = ("the quick brown fox jumped over the lazy sleeping dog "
            "again today")
    rows = [_doc(1, good), _doc(2, "1 2 3")]
    out = lf_agreement(spark.createDataFrame(rows)).collect()
    assert len(out) == 6
    for r in out:
        assert (r.n_agree, r.n_conflict, r.n_both_fire) == (2, 0, 1)
        assert r.agree_rate == 1.0


def test_lf_agreement_conflict(spark):
    """'123 456 789 ...' x12 tokens: lf_len fires (12 tokens), lf_digit
    does not (all digits) -> the (lf_len, lf_digit) pair conflicts on
    that doc."""
    from shifts_etl_spark.operators.textstats import lf_agreement

    digits = " ".join(str(100 + i) for i in range(12))
    out = {(r.lf_a, r.lf_b): r for r in
           lf_agreement(spark.createDataFrame([_doc(1, digits)])).collect()}
    ld = out[("lf_len", "lf_digit")]
    assert (ld.n_agree, ld.n_conflict, ld.n_both_fire) == (0, 1, 0)


def test_readability_hand_flesch(spark):
    """'The cat sat. The dog ran.' -> 6 words, 2 sentences, 6 vowel
    groups: flesch = 206.835 - 1.015*3 - 84.6*1 = 119.19, easy."""
    from shifts_etl_spark.operators.textstats import readability

    r = readability(
        spark.createDataFrame([_doc(1, "The cat sat. The dog ran.")])
    ).collect()[0]
    assert (r.n_words, r.n_sentences, r.n_syllables) == (6, 2, 6)
    assert r.flesch == round(206.835 - 1.015 * 3.0 - 84.6 * 1.0, 4)
    assert bool(r.is_easy) is True


def test_readability_guards(spark):
    """No terminal punctuation and no vowels: all three counts floor at
    1 and the formula still evaluates."""
    from shifts_etl_spark.operators.textstats import readability

    r = readability(spark.createDataFrame([_doc(1, "zzz")])).collect()[0]
    assert (r.n_words, r.n_sentences, r.n_syllables) == (1, 1, 1)
    assert r.flesch == round(206.835 - 1.015 - 84.6, 4)


def test_vocab_richness_hand_counts(spark):
    """Source A: 'the cat the dog' + 'the cat' -> 6 tokens, 3 types
    (the x3, cat x2, dog x1), hapax {dog}: ttr 0.5, hapax 1/3."""
    from shifts_etl_spark.operators.textstats import vocab_richness

    rows = [_doc(1, "the cat the dog", source="A"),
            _doc(2, "The cat", source="A")]
    r = vocab_richness(spark.createDataFrame(rows)).collect()[0]
    assert (r.n_tokens, r.n_types, r.n_hapax) == (6, 3, 1)
    assert r.ttr == 0.5
    assert r.hapax_ratio == round(1 / 3, 6)


def test_hourly_bursts_zscore(spark):
    """Type 'click' over 4 observed hours with counts 1,1,1,5: mean 2,
    sd_pop sqrt(3); only the 5-count hour crosses z>=... (z = 3/sqrt(3)
    = 1.73, so NOT a burst at 3.0) — then make it 1,1,1,13 where z =
    (13-4)/sqrt(27) = 1.73 still... use counts 1,1,1,1,25: mean 5.8,
    sd sqrt(92.16) = 9.6, z = 2.0. Instead pin exact z values rather
    than the flag, plus the sd=0 guard on a flat type."""
    from shifts_etl_spark.operators.funnel import hourly_bursts
    import math

    rows, eid = [], 0
    counts = [1, 1, 1, 5]
    for h, c in enumerate(counts):
        for j in range(c):
            eid += 1
            rows.append(_ev(eid, 1, "click",
                            f"2024-01-01T{10 + h:02d}:{j:02d}:00"))
    # a flat type: same count every hour -> sd 0 -> z pinned to 0.0
    for h in range(3):
        eid += 1
        rows.append(_ev(eid, 2, "view", f"2024-01-01T{10 + h:02d}:00:00"))
    out = hourly_bursts(spark.createDataFrame(rows)).collect()
    clicks = sorted([r for r in out if r.event_type == "click"],
                    key=lambda r: r.hour)
    mean, sd = 2.0, math.sqrt(3.0)
    assert [r.n_events for r in clicks] == counts
    for r, c in zip(clicks, counts):
        assert r.z_score == round((c - mean) / sd, 6)
        assert bool(r.is_burst) is False
    for r in out:
        if r.event_type == "view":
            assert (r.n_events, r.z_score, bool(r.is_burst)) == (1, 0.0, False)


def test_order_total_audit_bands(spark):
    """Three orders: one exact (band 0), one off by ~0.5% (band 2), one
    off by 10% (band 4). Counts, shares, and band edges pin exactly."""
    from shifts_etl_spark.operators.reconcile import order_total_audit

    li_rows = [
        Row(l_orderkey=1, l_extendedprice=100.0, l_discount=0.0, l_tax=0.0),
        Row(l_orderkey=2, l_extendedprice=100.0, l_discount=0.0, l_tax=0.0),
        Row(l_orderkey=3, l_extendedprice=100.0, l_discount=0.0, l_tax=0.0),
    ]
    o_rows = [
        Row(o_orderkey=1, o_totalprice=100.0),
        Row(o_orderkey=2, o_totalprice=100.5),
        Row(o_orderkey=3, o_totalprice=110.0),
    ]
    out = {r.err_band: r for r in order_total_audit(
        spark.createDataFrame(o_rows), spark.createDataFrame(li_rows)
    ).collect()}
    assert set(out) == {0, 2, 4}
    assert out[0].n_orders == 1 and out[0].max_rel_err == 0.0
    assert out[2].n_orders == 1
    assert out[2].min_rel_err == round(0.5 / 100.5, 6)
    assert out[4].n_orders == 1
    assert out[4].min_rel_err == round(10.0 / 110.0, 6)
    for r in out.values():
        assert r.share == round(1 / 3, 6)


def test_scd2_intervals_runs(spark):
    """User 1's k sequence 5,5,7,5 collapses to three intervals
    [t1,t3) k=5 (2 events), [t3,t4) k=7, [t4,NULL) k=5; a single-event
    user yields one open interval."""
    from shifts_etl_spark.operators.merge import scd2_intervals
    import datetime as dt

    def ev(i, user, k, ts):
        return Row(event_id=i, ts=dt.datetime.fromisoformat(ts),
                   user_id=user, event_type="view", value=1.0,
                   props='{"k": %d}' % k)

    rows = [
        ev(1, 1, 5, "2024-01-01T10:00:00"),
        ev(2, 1, 5, "2024-01-01T11:00:00"),
        ev(3, 1, 7, "2024-01-01T12:00:00"),
        ev(4, 1, 5, "2024-01-01T13:00:00"),
        ev(5, 2, 9, "2024-01-01T10:00:00"),
    ]
    out = sorted(scd2_intervals(spark.createDataFrame(rows)).collect(),
                 key=lambda r: (r.user_id, r.valid_from))
    u1 = [r for r in out if r.user_id == 1]
    assert [(r.attr, r.n_events) for r in u1] == [(5, 2), (7, 1), (5, 1)]
    assert u1[0].valid_to == u1[1].valid_from
    assert u1[1].valid_to == u1[2].valid_from
    assert u1[2].valid_to is None
    u2 = [r for r in out if r.user_id == 2]
    assert [(r.attr, r.valid_to) for r in u2] == [(9, None)]


def test_user_concentration_hand_hhi(spark):
    """Counts 6,2,1,1 over 4 users (10 events): HHI = (36+4+1+1)/100 =
    0.42; top-10 covers everyone (share 1.0). With top_k=2 the share is
    8/10."""
    from shifts_etl_spark.operators.funnel import user_concentration

    rows, eid = [], 0
    for u, c in [(1, 6), (2, 2), (3, 1), (4, 1)]:
        for j in range(c):
            eid += 1
            rows.append(_ev(eid, u, "view", f"2024-01-01T10:{j:02d}:00"))
    df = spark.createDataFrame(rows)
    r = user_concentration(df).collect()[0]
    assert (r.n_users, r.n_events, r.hhi, r.top10_share) == (4, 10, 0.42, 1.0)
    r2 = user_concentration(df, top_k=2).collect()[0]
    assert r2.top2_share == 0.8


def test_grouped_correlation_signs_and_null(spark):
    """Group A: y = 2x exactly -> r = 1.0; group B: y = -x -> r = -1.0;
    group C: constant x -> NULL (zero variance)."""
    from shifts_etl_spark.operators.profile import grouped_correlation

    fact = spark.createDataFrame(
        [Row(fk=1, x=float(i), y=2.0 * i) for i in range(5)]
        + [Row(fk=2, x=float(i), y=-1.0 * i) for i in range(5)]
        + [Row(fk=3, x=1.0, y=float(i)) for i in range(5)]
    )
    dim = spark.createDataFrame(
        [Row(pk=1, grp="A"), Row(pk=2, grp="B"), Row(pk=3, grp="C")]
    )
    out = {r.grp: r for r in grouped_correlation(
        fact, dim, "grp", "x", "y", ("fk", "pk")
    ).collect()}
    assert out["A"].pearson_r == 1.0
    assert out["B"].pearson_r == -1.0
    assert out["C"].pearson_r is None
    assert all(r.n == 5 for r in out.values())


def test_nn_hubness_planted_hub(spark):
    """One block, NN graph 0->1, 1->0, 2->0, 3->1 (verified by cosine):
    vectors 0 and 1 are hubs with in-degree 2, vectors 2 and 3 are
    never chosen (in-degree 0, included via the zero-coverage join).
    Histogram: (0: 2 vectors), (2: 2 vectors); shares sum to 1."""
    from shifts_etl_spark.operators.profile import nn_hubness

    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0], label=0),
        Row(vec_id=1, embedding=[0.9, 0.1], label=0),
        Row(vec_id=2, embedding=[0.9, -0.1], label=0),
        Row(vec_id=3, embedding=[0.8, 0.2], label=0),
    ]
    out = {r.in_degree: r for r in
           nn_hubness(spark.createDataFrame(rows)).collect()}
    assert {d: r.n_vectors for d, r in out.items()} == {0: 2, 2: 2}
    assert sum(r.share for r in out.values()) == 1.0


def test_acquisition_mix_new_vs_returning(spark):
    """Customer 1 orders in Jan and Feb; customer 2 only in Feb: Jan is
    100% new (1 cust), Feb has 2 customers of which 1 new -> share
    0.5."""
    from shifts_etl_spark.operators.funnel import acquisition_mix
    import datetime as dt

    rows = [
        Row(o_orderkey=1, o_custkey=1, o_orderdate=dt.date(2024, 1, 5)),
        Row(o_orderkey=2, o_custkey=1, o_orderdate=dt.date(2024, 2, 10)),
        Row(o_orderkey=3, o_custkey=2, o_orderdate=dt.date(2024, 2, 15)),
        Row(o_orderkey=4, o_custkey=2, o_orderdate=dt.date(2024, 2, 20)),
    ]
    out = {r.month: r for r in
           acquisition_mix(spark.createDataFrame(rows)).collect()}
    jan, feb = dt.date(2024, 1, 1), dt.date(2024, 2, 1)
    assert (out[jan].n_orders, out[jan].n_customers,
            out[jan].n_new_customers, out[jan].new_customer_share) == (
        1, 1, 1, 1.0)
    assert (out[feb].n_orders, out[feb].n_customers,
            out[feb].n_new_customers, out[feb].new_customer_share) == (
        3, 2, 1, 0.5)


def test_temperature_mixture_upweights_tail(spark):
    """Sources with 90% and 10% of tokens at alpha=0.3: weights
    proportional to 0.9^0.3 and 0.1^0.3 — hand-checked; the tail source
    oversamples (factor > 1), the head undersamples (< 1)."""
    from shifts_etl_spark.operators.curation import temperature_mixture

    rows = [_doc(1, " ".join(["w"] * 90), source="head"),
            _doc(2, " ".join(["w"] * 10), source="tail")]
    out = {r.source: r for r in
           temperature_mixture(spark.createDataFrame(rows)).collect()}
    pa_h, pa_t = 0.9 ** 0.3, 0.1 ** 0.3
    tot = pa_h + pa_t
    assert out["head"].token_share == 0.9
    assert out["head"].sample_weight == round(pa_h / tot, 6)
    assert out["tail"].sample_weight == round(pa_t / tot, 6)
    assert out["tail"].oversample_factor == round((pa_t / tot) / 0.1, 6)
    assert out["tail"].oversample_factor > 1.0 > out["head"].oversample_factor


def test_label_compactness_tight_vs_noisy(spark):
    """Label 0: three near-identical vectors -> mean_cos ~1, no
    outliers. Label 1: two opposed vectors -> centroid orthogonal-ish,
    both members' cosines well below 1; with threshold 0.5 the
    anti-aligned member counts as an outlier."""
    from shifts_etl_spark.operators.profile import label_compactness

    rows = [
        Row(vec_id=1, embedding=[1.0, 0.0], label=0),
        Row(vec_id=2, embedding=[1.0, 0.01], label=0),
        Row(vec_id=3, embedding=[1.0, -0.01], label=0),
        Row(vec_id=4, embedding=[1.0, 0.5], label=1),
        Row(vec_id=5, embedding=[-1.0, 0.5], label=1),
    ]
    out = {r.label: r for r in
           label_compactness(spark.createDataFrame(rows)).collect()}
    t = out[0]
    assert t.n_members == 3 and t.mean_cos > 0.999
    assert t.outlier_share == 0.0
    n = out[1]
    # centroid of label 1 is (0, 0.5); cos(member, centroid) = 0.5/|m|
    import math
    c4 = round(0.25 / (math.hypot(1.0, 0.5) * 0.5), 6)
    assert n.n_members == 2
    assert n.min_cos == c4 and n.mean_cos == c4
    assert n.outlier_share == 1.0  # both cosines ~0.447 < 0.5


def test_revenue_moving_average_exact_frames(spark):
    """Daily revenues 100, 200, 300 with window 2: moving averages 100,
    150, 250; deviations derive from the exact integer-cents frame
    sums; n_in_window exposes the warmup row."""
    from shifts_etl_spark.operators.windows import revenue_moving_average
    import datetime as dt

    rows = [
        Row(o_orderkey=1, o_orderdate=dt.date(2024, 1, 1), o_totalprice=60.0),
        Row(o_orderkey=2, o_orderdate=dt.date(2024, 1, 1), o_totalprice=40.0),
        Row(o_orderkey=3, o_orderdate=dt.date(2024, 1, 2), o_totalprice=200.0),
        Row(o_orderkey=4, o_orderdate=dt.date(2024, 1, 3), o_totalprice=300.0),
    ]
    out = sorted(
        revenue_moving_average(
            spark.createDataFrame(rows), window_days=2
        ).collect(),
        key=lambda r: r.day,
    )
    assert [(r.revenue, r.n_in_window, r.moving_avg) for r in out] == [
        (100.0, 1, 100.0), (200.0, 2, 150.0), (300.0, 2, 250.0)]
    assert out[1].deviation == round(200.0 / 150.0 - 1.0, 6)
    assert out[0].deviation == 0.0


def test_ship_latency_sla_percentiles(spark):
    """Flag N lags 1,2,3,10 days: mean 4, p50 = 2.5 (interpolated),
    p90 = 7.9, max 10."""
    from shifts_etl_spark.operators.profile import ship_latency_sla
    import datetime as dt

    base = dt.date(2024, 1, 1)
    o_rows = [Row(o_orderkey=i, o_orderdate=base) for i in range(1, 5)]
    lags = [1, 2, 3, 10]
    l_rows = [
        Row(l_orderkey=i, l_returnflag="N",
            l_shipdate=base + dt.timedelta(days=d))
        for i, d in enumerate(lags, start=1)
    ]
    r = ship_latency_sla(
        spark.createDataFrame(o_rows), spark.createDataFrame(l_rows)
    ).collect()[0]
    assert (r.returnflag, r.n_lineitems, r.mean_days, r.max_days) == (
        "N", 4, 4.0, 10)
    assert r.p50_days == 2.5
    assert r.p90_days == round(3 + 0.7 * 7, 4)  # linear interp at 0.9


def test_nation_clv_decile_share(spark):
    """One nation, 10 customers with CLV 1..9 and 100: p90 boundary
    interpolates at 90.1 -> only the 100-CLV whale is top-decile ->
    share 100/145; mean and median pin exactly."""
    from shifts_etl_spark.operators.profile import nation_clv
    import datetime as dt

    cust = spark.createDataFrame(
        [Row(c_custkey=i, c_nationkey=1) for i in range(1, 11)])
    nat = spark.createDataFrame([Row(n_nationkey=1, n_name="FR")])
    vals = list(range(1, 10)) + [100]
    orders = spark.createDataFrame(
        [Row(o_orderkey=i, o_custkey=i, o_totalprice=float(v),
             o_orderdate=dt.date(2024, 1, 1))
         for i, v in enumerate(vals, start=1)])
    r = nation_clv(cust, orders, nat).collect()[0]
    assert (r.nation, r.n_customers) == ("FR", 10)
    assert r.mean_clv == round(sum(vals) / 10, 4)
    assert r.median_clv == 5.5
    assert r.top_decile_share == round(100 / sum(vals), 6)


def test_transition_matrix_hand_probs(spark):
    """User path view->click->view->purchase: transitions view->click,
    click->view, view->purchase. P(click|view) = 0.5, lift of
    click given view = 0.5 / (1/3) = 1.5."""
    from shifts_etl_spark.operators.funnel import transition_matrix

    rows = [
        _ev(1, 1, "view", "2024-01-01T10:00:00"),
        _ev(2, 1, "click", "2024-01-01T10:01:00"),
        _ev(3, 1, "view", "2024-01-01T10:02:00"),
        _ev(4, 1, "purchase", "2024-01-01T10:03:00"),
    ]
    out = {(r.prev_type, r.next_type): r for r in
           transition_matrix(spark.createDataFrame(rows)).collect()}
    assert set(out) == {("view", "click"), ("click", "view"),
                        ("view", "purchase")}
    vc = out[("view", "click")]
    assert (vc.n_trans, vc.p_next_given_prev) == (1, 0.5)
    assert vc.p_next == round(1 / 3, 6)
    assert vc.lift == round(0.5 / (1 / 3), 6)
    cv = out[("click", "view")]
    assert (cv.n_trans, cv.p_next_given_prev) == (1, 1.0)


def test_norm_profile_bins_and_zero(spark):
    """Norms 0, 1.0 (bin 2: [1.0,1.5)), 5.0 (bin 10): zero-vector lands
    in bin 0 with n_zero 1; bounds and shares pin exactly."""
    from shifts_etl_spark.operators.profile import norm_profile

    rows = [
        Row(vec_id=1, embedding=[0.0, 0.0], label=0),
        Row(vec_id=2, embedding=[1.0, 0.0], label=0),
        Row(vec_id=3, embedding=[3.0, 4.0], label=0),
    ]
    out = {r.bin: r for r in
           norm_profile(spark.createDataFrame(rows)).collect()}
    assert set(out) == {0, 2, 10}
    assert (out[0].n_vectors, out[0].n_zero) == (1, 1)
    assert (out[2].bin_lo, out[2].bin_hi, out[2].n_zero) == (1.0, 1.5, 0)
    assert out[10].bin_lo == 5.0
    for r in out.values():
        assert r.share == round(1 / 3, 6)


def test_repeated_sentences_catalog(spark):
    """The disclaimer sentence appears verbatim in docs 1 and 2 (doc 2's
    'again ...' variant is a DIFFERENT sentence): n_docs 2,
    n_occurrences 2; unique long sentences and short fragments are
    excluded."""
    from shifts_etl_spark.operators.dedup import repeated_sentences

    boiler = "all rights reserved worldwide"
    rows = [
        _doc(1, f"{boiler}. unique opening line of document one here."),
        _doc(2, f"short bit. {boiler}! again {boiler}."),
        _doc(3, "a totally different very long sentence lives here."),
    ]
    out = repeated_sentences(spark.createDataFrame(rows)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_docs, r.n_occurrences, r.n_chars) == (2, 2, len(boiler))
    assert r.sentence == boiler


def test_keyness_terms_distinctive_tokens(spark):
    """'gato' appears only in es docs and 'cat' only in en docs: each
    tops its language's keyness ranking with the hand-computed add-1
    log rate-ratio; the shared token 'the' never ranks above them."""
    from shifts_etl_spark.operators.textstats import keyness_terms

    rows = [
        _doc(1, "the cat cat cat", lang="en"),
        _doc(2, "the gato gato gato", lang="es"),
    ]
    out = {(r.lang, r.rank): r for r in
           keyness_terms(spark.createDataFrame(rows), top_k=2).collect()}
    assert out[("en", 1)].token == "cat"
    assert out[("es", 1)].token == "gato"
    # hand numbers for en/cat: c=3, n_g=4, n_t=3, n_all=8, v=3
    rate_in = (3 + 1) / (4 + 3)
    rate_out = (3 - 3 + 1) / (8 - 4 + 3)
    assert out[("en", 1)].keyness == round(math.log(rate_in / rate_out), 6)
    assert out[("en", 2)].token == "the"


def test_chunking_audit_overhead(spark):
    """A 180-token doc chunks as [100, 100] (20-token overlap repeated)
    -> emitted 200, overhead 200/180; a 50-token doc is one chunk with
    overhead 1.0."""
    from shifts_etl_spark.operators.chunking import chunking_audit

    rows = [_doc(1, " ".join(f"t{i}" for i in range(180))),
            _doc(2, " ".join(f"t{i}" for i in range(50)))]
    out = {r.n_chunks: r for r in
           chunking_audit(spark.createDataFrame(rows)).collect()}
    assert set(out) == {1, 2}
    two = out[2]
    assert (two.n_docs, two.source_tokens, two.emitted_tokens) == (1, 180, 200)
    assert two.overhead_factor == round(200 / 180, 6)
    one = out[1]
    assert (one.source_tokens, one.emitted_tokens, one.overhead_factor) == (
        50, 50, 1.0)


def test_rate_anomalies_peak_detection(spark):
    """User 1 fires 5 events inside one minute plus 1 later (peak 5,
    2 active minutes); user 2 is slow (peak 1). Ranking puts the burst
    user first with exact stats."""
    from shifts_etl_spark.operators.funnel import rate_anomalies

    rows = [_ev(i, 1, "click", f"2024-01-01T10:00:{i:02d}") for i in range(5)]
    rows.append(_ev(9, 1, "click", "2024-01-01T10:05:00"))
    rows += [_ev(20 + i, 2, "view", f"2024-01-01T1{i}:00:00") for i in range(3)]
    out = rate_anomalies(spark.createDataFrame(rows)).collect()
    assert [r.user_id for r in out] == [1, 2]
    u1 = out[0]
    assert (u1.n_events, u1.n_active_minutes, u1.peak_per_minute) == (6, 2, 5)
    assert u1.mean_per_active_minute == 3.0
    assert (out[1].peak_per_minute, out[1].n_active_minutes) == (1, 3)


def test_order_aging_cells(spark):
    """Two (status, priority) cells; ages against the max date (Jan 10):
    the O/1-URGENT cell averages (9 + 0) / 2 = 4.5 days and holds 2/3 of
    orders; revenue sums exactly."""
    from shifts_etl_spark.operators.profile import order_aging
    import datetime as dt

    rows = [
        Row(o_orderkey=1, o_custkey=1, o_orderstatus="O",
            o_totalprice=10.5, o_orderdate=dt.date(2024, 1, 1),
            o_orderpriority="1-URGENT"),
        Row(o_orderkey=2, o_custkey=1, o_orderstatus="O",
            o_totalprice=20.0, o_orderdate=dt.date(2024, 1, 10),
            o_orderpriority="1-URGENT"),
        Row(o_orderkey=3, o_custkey=2, o_orderstatus="F",
            o_totalprice=5.25, o_orderdate=dt.date(2024, 1, 5),
            o_orderpriority="5-LOW"),
    ]
    out = {(r.o_orderstatus, r.o_orderpriority): r for r in
           order_aging(spark.createDataFrame(rows)).collect()}
    ou = out[("O", "1-URGENT")]
    assert (ou.n_orders, ou.mean_age_days, ou.max_age_days) == (2, 4.5, 9)
    assert ou.share == round(2 / 3, 6)
    assert ou.revenue == 30.5
    assert out[("F", "5-LOW")].revenue == 5.25


def test_code_switch_profile_mixed_doc(spark):
    """Doc 1 mixes two en sentences with one es sentence (dominant en,
    share 2/3, mixed); doc 2 is monolingual; a doc of only short
    fragments emits no row."""
    from shifts_etl_spark.operators.textstats import code_switch_profile

    rows = [
        _doc(1, "the cat sat on the mat. a dog and the hat sat. "
                "el gato y el perro en la casa."),
        _doc(2, "the cat sat on the mat. the dog ran to the cat."),
        _doc(3, "hi. no. yes."),
    ]
    out = {r.doc_id: r for r in
           code_switch_profile(spark.createDataFrame(rows)).collect()}
    assert set(out) == {1, 2}
    d1 = out[1]
    assert (d1.n_sentences, d1.n_langs, d1.dominant_lang) == (3, 2, "en")
    assert d1.dominant_share == round(2 / 3, 6)
    assert bool(d1.is_mixed) is True
    d2 = out[2]
    assert (d2.n_langs, bool(d2.is_mixed), d2.dominant_share) == (
        1, False, 1.0)


def test_weekday_seasonality_chi2(spark):
    """Orders on Mon, Mon, Sun: Monday weekday=1 count 2, Sunday
    weekday=7 count 1; expected 3/7 each; chi2 contributions pin to the
    closed form."""
    from shifts_etl_spark.operators.funnel import weekday_seasonality
    import datetime as dt

    rows = [
        Row(o_orderkey=1, o_custkey=1, o_orderstatus="O", o_totalprice=1.0,
            o_orderdate=dt.date(2024, 1, 1), o_orderpriority="1"),  # Monday
        Row(o_orderkey=2, o_custkey=1, o_orderstatus="O", o_totalprice=1.0,
            o_orderdate=dt.date(2024, 1, 8), o_orderpriority="1"),  # Monday
        Row(o_orderkey=3, o_custkey=1, o_orderstatus="O", o_totalprice=1.0,
            o_orderdate=dt.date(2024, 1, 7), o_orderpriority="1"),  # Sunday
    ]
    out = {r.weekday: r for r in
           weekday_seasonality(spark.createDataFrame(rows)).collect()}
    assert set(out) == {1, 7}
    e = 3 / 7.0
    mon = out[1]
    assert mon.n_orders == 2
    assert mon.chi2_contrib == round((2 - e) ** 2 / e, 6)
    assert mon.deviation == round(2 / e - 1, 6)
    assert out[7].n_orders == 1


def test_iqr_outliers_hand_fences(spark):
    """Group A balances [1,2,3,4,100]: q1=2, q3=4, IQR=2, fences
    [-1, 7] — exactly one outlier (100), share 0.2. Group B is tight
    (no outliers)."""
    from shifts_etl_spark.operators.profile import iqr_outliers

    rows = [Row(c_mktsegment="A", c_acctbal=v)
            for v in (1.0, 2.0, 3.0, 4.0, 100.0)]
    rows += [Row(c_mktsegment="B", c_acctbal=v) for v in (5.0, 5.0, 5.0)]
    out = {r.c_mktsegment: r for r in
           iqr_outliers(spark.createDataFrame(rows)).collect()}
    a = out["A"]
    assert (a.n, a.q1, a.q3) == (5, 2.0, 4.0)
    assert (a.lo_fence, a.hi_fence) == (-1.0, 7.0)
    assert (a.n_outliers, a.outlier_share) == (1, 0.2)
    b = out["B"]
    assert (b.n_outliers, b.q1, b.q3) == (0, 5.0, 5.0)


def test_value_streaks_hand_runs(spark):
    """Daily means 10,10,1,1,10 (global mean 6.4): above-mean days are
    d1,d2,d5 → streaks [d1..d2] (len 2) and [d5] (len 1), each with
    lift 10/6.4 - 1 = 0.5625."""
    from shifts_etl_spark.operators.funnel import value_streaks

    rows = [
        _ev(1, 1, "view", "2024-01-01T10:00:00"),
        _ev(2, 1, "view", "2024-01-02T10:00:00"),
        _ev(3, 1, "view", "2024-01-03T10:00:00"),
        _ev(4, 1, "view", "2024-01-04T10:00:00"),
        _ev(5, 1, "view", "2024-01-05T10:00:00"),
    ]
    vals = {1: 10.0, 2: 10.0, 3: 1.0, 4: 1.0, 5: 10.0}
    df = spark.createDataFrame(
        [Row(**{**r.asDict(), "value": vals[r.event_id]}) for r in rows]
    )
    out = value_streaks(df, top_k=5).collect()
    assert [(str(r.start_day), str(r.end_day), r.n_days) for r in out] == [
        ("2024-01-01", "2024-01-02", 2),
        ("2024-01-05", "2024-01-05", 1),
    ]
    assert all(r.mean_lift == round(10 / 6.4 - 1, 6) for r in out)


def test_bpe_fertility_by_lang_hand(spark):
    """Corpus 'low low low low lower' (en) + 'ab ab' (de): the first
    learned merge is (l,o) then (lo,w) ... with n_merges=2 the en words
    'low'->[low? ] — pin against bpe_encode_counts ground truth: the
    per-lang sums must equal the per-doc sums regrouped by lang."""
    from shifts_etl_spark.operators.bpe import (
        bpe_encode_counts,
        bpe_fertility_by_lang,
        bpe_train,
    )

    rows = [
        _doc(1, "low low low low lower", lang="en"),
        _doc(2, "ab ab ab", lang="de"),
    ]
    df = spark.createDataFrame(rows)
    merges = bpe_train(df, n_merges=3)
    per_doc = {r.doc_id: r for r in
               bpe_encode_counts(df, merges=merges).collect()}
    out = {r.lang: r for r in
           bpe_fertility_by_lang(df, merges=merges).collect()}
    en, de = out["en"], out["de"]
    d1, d2 = per_doc[1], per_doc[2]
    assert (en.n_words, en.n_chars, en.n_pieces) == (
        d1.n_words, d1.n_chars, d1.n_pieces)
    assert (de.n_words, de.n_chars, de.n_pieces) == (
        d2.n_words, d2.n_chars, d2.n_pieces)
    assert en.pieces_per_word == round(en.n_pieces / en.n_words, 6)
    assert de.chars_per_piece == round(de.n_chars / de.n_pieces, 6)


def test_isotropy_audit_closed_form(spark):
    """Label 0: two identical unit vectors -> mean pairwise cosine 1;
    label 1: two orthogonal unit vectors -> 0; label 2: u and -u -> -1;
    a singleton label emits no row; a zero vector is excluded."""
    from shifts_etl_spark.operators.profile import isotropy_audit

    rows = [
        Row(vec_id=1, label=0, embedding=[1.0, 0.0]),
        Row(vec_id=2, label=0, embedding=[1.0, 0.0]),
        Row(vec_id=3, label=1, embedding=[1.0, 0.0]),
        Row(vec_id=4, label=1, embedding=[0.0, 1.0]),
        Row(vec_id=5, label=2, embedding=[0.5, 0.0]),
        Row(vec_id=6, label=2, embedding=[-2.0, 0.0]),
        Row(vec_id=7, label=3, embedding=[1.0, 1.0]),
        Row(vec_id=8, label=4, embedding=[0.0, 0.0]),
        Row(vec_id=9, label=4, embedding=[1.0, 0.0]),
    ]
    out = {r.label: r for r in
           isotropy_audit(spark.createDataFrame(rows)).collect()}
    assert set(out) == {0, 1, 2}
    assert (out[0].n, out[0].mean_pairwise_cosine) == (2, 1.0)
    assert (out[1].n, out[1].mean_pairwise_cosine) == (2, 0.0)
    assert (out[2].n, out[2].mean_pairwise_cosine) == (2, -1.0)


def test_winsorization_report_hand(spark):
    """Group 'A' prices 1..100: p01 = 1.99, p99 = 99.01; exactly one
    value clamps each side; the clamped mean moves by
    ((1.99-1) + (99.01-100))/100 = 0.0001 below 50.5... pinned in full."""
    from shifts_etl_spark.operators.profile import winsorization_report

    rows = [Row(o_orderpriority="A", o_totalprice=float(i))
            for i in range(1, 101)]
    out = winsorization_report(spark.createDataFrame(rows)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n, r.n_lo, r.n_hi) == (100, 1, 1)
    assert (r.lo_fence, r.hi_fence) == (1.99, 99.01)
    assert r.raw_mean == 50.5
    wins_mean = (sum(range(2, 100)) + 1.99 + 99.01) / 100
    assert r.wins_mean == round(wins_mean, 4)
    assert r.mean_shift == round(round(wins_mean, 4) - 50.5, 4)
    assert r.clamp_share == 0.02


def test_deseasonalized_anomalies_flags_spike(spark):
    """Two weeks of flat 100/day revenue with one 1000 Monday: the
    spike inflates its own weekday factor (wk_mean 550), so BOTH
    Mondays deseasonalize away from the mean symmetrically — the spike
    week high, the normal Monday low — and nothing else flags."""
    from shifts_etl_spark.operators.funnel import deseasonalized_anomalies
    import datetime as dt

    rows = []
    day0 = dt.date(2024, 1, 1)  # Monday
    k = 1
    for d in range(14):
        day = day0 + dt.timedelta(days=d)
        price = 1000.0 if d == 7 else 100.0
        rows.append(Row(o_orderkey=k, o_custkey=1, o_orderstatus="O",
                        o_totalprice=price, o_orderdate=day,
                        o_orderpriority="1")); k += 1
    out = deseasonalized_anomalies(spark.createDataFrame(rows)).collect()
    assert [(str(r.day), r.revenue) for r in out] == [
        ("2024-01-01", 100.0), ("2024-01-08", 1000.0)]
    lo, hi = out
    assert hi.z_score > 2.0 and lo.z_score < -2.0
    assert hi.z_score == -lo.z_score
    assert hi.deseasonalized == round(10 * lo.deseasonalized, 2)


def test_heavy_user_profile_matches_naive(spark):
    """User 1: 5 events over 2 types, values 1.5 each; user 2: 2 events
    1 type; the salted/two-stage plan must equal the naive groupBy
    exactly, top-k ordered by count then user id."""
    from shifts_etl_spark.operators.funnel import heavy_user_profile

    rows = [_ev(i, 1, "view" if i % 2 else "click",
                f"2024-01-01T10:00:{i:02d}") for i in range(5)]
    rows += [_ev(10 + i, 2, "view", f"2024-01-02T10:00:{i:02d}")
             for i in range(2)]
    df = spark.createDataFrame(
        [Row(**{**r.asDict(), "value": 1.5}) for r in rows]
    )
    out = heavy_user_profile(df, top_k=10).collect()
    assert [(r.user_id, r.n_events, r.n_types, r.total_value)
            for r in out] == [(1, 5, 2, 7.5), (2, 2, 1, 3.0)]


def test_embedding_split_drift_identical_halves(spark):
    """All vectors of label 0 identical -> both half centroids equal:
    cosine 1, L2 0. Label 1's halves point apart -> cosine < 1. A
    label with an empty half emits no row."""
    from shifts_etl_spark.operators.profile import embedding_split_drift

    # vec_ids chosen so each label gets members in both md5 halves:
    # bucket(id) = (ascii pair of md5) % 100 < 50 -> half A
    import hashlib

    def half(i):
        h = hashlib.md5(str(i).encode()).hexdigest()
        return (ord(h[0]) * 256 + ord(h[1])) % 100 < 50

    ids = list(range(1, 40))
    a_ids = [i for i in ids if half(i)]
    b_ids = [i for i in ids if not half(i)]
    assert a_ids and b_ids
    rows = []
    # label 0: identical vectors on both halves
    for i in (a_ids[0], a_ids[1], b_ids[0], b_ids[1]):
        rows.append(Row(vec_id=i, label=0, embedding=[1.0, 2.0]))
    # label 1: half A points +x, half B points +y
    rows.append(Row(vec_id=a_ids[2], label=1, embedding=[1.0, 0.0]))
    rows.append(Row(vec_id=b_ids[2], label=1, embedding=[0.0, 1.0]))
    # label 2: only half A -> no row
    rows.append(Row(vec_id=a_ids[3], label=2, embedding=[1.0, 1.0]))
    out = {r.label: r for r in
           embedding_split_drift(spark.createDataFrame(rows)).collect()}
    assert set(out) == {0, 1}
    assert (out[0].centroid_cosine, out[0].centroid_l2) == (1.0, 0.0)
    assert out[1].centroid_cosine == 0.0
    assert out[1].centroid_l2 == round(math.sqrt(2), 6)


def test_fulfillment_latency_hand(spark):
    """Order 1 lines ship +2/+9 days (lag 9), order 2 ships +1 (lag 1):
    mean 5, p50 5, p90 8.2, p99 8.92, max 9."""
    from shifts_etl_spark.operators.profile import fulfillment_latency
    import datetime as dt

    orders = spark.createDataFrame([
        Row(o_orderkey=1, o_orderdate=dt.date(2024, 1, 1),
            o_orderpriority="1-URGENT"),
        Row(o_orderkey=2, o_orderdate=dt.date(2024, 1, 1),
            o_orderpriority="1-URGENT"),
    ])
    lines = spark.createDataFrame([
        Row(l_orderkey=1, l_shipdate=dt.date(2024, 1, 3)),
        Row(l_orderkey=1, l_shipdate=dt.date(2024, 1, 10)),
        Row(l_orderkey=2, l_shipdate=dt.date(2024, 1, 2)),
    ])
    out = fulfillment_latency(orders, lines).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_orders, r.mean_days, r.max_days) == (2, 5.0, 9)
    assert (r.p50_days, r.p90_days, r.p99_days) == (5.0, 8.2, 8.92)


def test_lm_score_deciles_partitions_and_orders(spark):
    """Deciles must partition the scored docs (counts sum to the
    per-doc row count) and mean logscore must be nondecreasing in the
    decile index."""
    from shifts_etl_spark.operators.textstats import (
        backoff_bigram_logprob,
        lm_score_deciles,
    )

    train = spark.createDataFrame([
        _doc(1, "the cat sat on the mat and the dog ran"),
        _doc(2, "the cat ran to the mat and sat"),
    ])
    score = spark.createDataFrame([
        _doc(10, "the cat sat on the mat"),
        _doc(11, "the dog ran to the cat"),
        _doc(12, "purple quantum zebras hallucinate loudly"),
        _doc(13, "the cat ran and the dog sat"),
    ])
    per_doc = backoff_bigram_logprob(train, score).collect()
    out = sorted(lm_score_deciles(train, score).collect(),
                 key=lambda r: r.decile)
    assert sum(r.n_docs for r in out) == len(per_doc)
    means = [r.mean_logscore for r in out]
    assert means == sorted(means)
    assert all(1 <= r.decile <= 10 for r in out)


def test_benford_audit_hand(spark):
    """Prices 1.0, 1.5, 19.99, 2.0, 9.0: digits 1,1,1,2,9 -> shares
    3/5, 1/5, 1/5; expectations log10(1+1/d); zero/negative rows drop."""
    from shifts_etl_spark.operators.profile import benford_audit

    rows = [Row(o_totalprice=v) for v in (1.0, 1.5, 19.99, 2.0, 9.0, 0.0)]
    out = {r.digit: r for r in
           benford_audit(spark.createDataFrame(rows)).collect()}
    assert set(out) == {1, 2, 9}
    assert out[1].n == 3 and out[1].obs_share == 0.6
    assert out[2].exp_share == round(math.log10(1.5), 6)
    exp9 = math.log10(1 + 1 / 9)
    assert out[9].chi2_contrib == round(5 * (0.2 - exp9) ** 2 / exp9, 6)


def test_neardup_split_contamination_planted(spark):
    """Docs 1 (train) and 2 (test) share a long boilerplate body with a
    one-word edit -> a cross-split candidate with high est_jaccard;
    docs 3/4 are identical but both train -> excluded; doc 5 is
    unrelated."""
    from shifts_etl_spark.operators.dedup import neardup_split_contamination

    body = ("the quick brown fox jumps over the lazy dog while seventeen "
            "astronauts careful measure gravitational lensing around the "
            "old observatory every cold tuesday morning in late november")
    rows = [
        Row(doc_id=1, text=body + " extra", split="train"),
        Row(doc_id=2, text=body + " bonus", split="test"),
        Row(doc_id=3, text="identical twin body here " * 5, split="train"),
        Row(doc_id=4, text="identical twin body here " * 5, split="train"),
        Row(doc_id=5, text="completely different content about databases",
            split="val"),
    ]
    out = neardup_split_contamination(
        spark.createDataFrame(rows), threshold=0.5
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.split_lo, r.split_hi) == ("test", "train")
    assert (r.n_pairs, r.n_docs_involved) == (1, 2)
    assert r.mean_est_jaccard >= 0.5


def test_revenue_trend_exact_line(spark):
    """Group A: revenue 10, 20, 30 on consecutive days -> slope 10/day,
    intercept 10, r2 = 1. Group B flat -> slope 0."""
    from shifts_etl_spark.operators.funnel import revenue_trend
    import datetime as dt

    d0 = dt.date(2024, 1, 1)
    rows = [Row(o_orderpriority="A", o_totalprice=10.0 * (i + 1),
                o_orderdate=d0 + dt.timedelta(days=i)) for i in range(3)]
    rows += [Row(o_orderpriority="B", o_totalprice=5.0,
                 o_orderdate=d0 + dt.timedelta(days=i)) for i in range(3)]
    out = {r.o_orderpriority: r for r in
           revenue_trend(spark.createDataFrame(rows)).collect()}
    a = out["A"]
    assert (a.n_days, a.slope_per_day, a.intercept, a.r2) == (3, 10.0, 10.0, 1.0)
    assert out["B"].slope_per_day == 0.0


def test_l_diversity_uniform_class_flagged(spark):
    """Class (1, 'X'): 4 rows all in band 0 -> l=1, entropy 0, at_risk;
    class (2, 'Y'): bands 0,1,2 -> l=3, entropy ln(3) with equal cells,
    not at risk."""
    from shifts_etl_spark.operators.quality import l_diversity_report

    rows = [Row(c_nationkey=1, c_mktsegment="X", c_acctbal=100.0 + i)
            for i in range(4)]
    rows += [Row(c_nationkey=2, c_mktsegment="Y", c_acctbal=v)
             for v in (100.0, 2100.0, 4100.0)]
    out = {(r.nationkey, r.segment): r for r in l_diversity_report(
        spark.createDataFrame(rows),
        {"nationkey": F.col("c_nationkey"), "segment": F.col("c_mktsegment")},
        F.floor(F.col("c_acctbal") / 2000).cast("long"),
    ).collect()}
    x = out[(1, "X")]
    assert (x.k, x.l_distinct, x.entropy, x.at_risk) == (4, 1, 0.0, True)
    y = out[(2, "Y")]
    assert (y.k, y.l_distinct, y.at_risk) == (3, 3, False)
    assert y.entropy == round(math.log(3), 6)


def test_basket_lift_hand(spark):
    """3 orders: {A,B}, {A,B}, {A}: P(A)=1, P(B)=2/3, P(AB)=2/3 ->
    lift(A,B) = (2/3)/(1*(2/3)) = 1.0, support 2/3; pair below
    min_pair_orders drops."""
    from shifts_etl_spark.operators.funnel import basket_lift

    lines = [
        Row(l_orderkey=1, l_partkey=1), Row(l_orderkey=1, l_partkey=2),
        Row(l_orderkey=2, l_partkey=1), Row(l_orderkey=2, l_partkey=2),
        Row(l_orderkey=3, l_partkey=1), Row(l_orderkey=3, l_partkey=3),
    ]
    parts = [Row(p_partkey=1, p_brand="A"), Row(p_partkey=2, p_brand="B"),
             Row(p_partkey=3, p_brand="C")]
    out = basket_lift(
        spark.createDataFrame(lines), spark.createDataFrame(parts)
    ).collect()
    assert len(out) == 1  # (A,C) occurs once -> filtered
    r = out[0]
    assert (r.brand_a, r.brand_b, r.n_pair, r.n_a, r.n_b) == ("A", "B", 2, 3, 2)
    assert (r.support, r.lift) == (round(2 / 3, 6), 1.0)


def test_truncation_loss_bands(spark):
    """Docs of 3 and 600 tokens at window 512, band 256: band 0 loses
    nothing; band 2 (512-767) loses 88 of 600."""
    from shifts_etl_spark.operators.textstats import truncation_loss

    rows = [
        _doc(1, "one two three"),
        _doc(2, " ".join(f"w{i}" for i in range(600))),
    ]
    out = {r.band: r for r in
           truncation_loss(spark.createDataFrame(rows)).collect()}
    assert set(out) == {0, 2}
    assert (out[0].n_docs, out[0].total_tokens, out[0].lost_tokens,
            out[0].loss_share) == (1, 3, 0, 0.0)
    b2 = out[2]
    assert (b2.band_lo, b2.band_hi) == (512, 767)
    assert (b2.total_tokens, b2.lost_tokens) == (600, 88)
    assert b2.loss_share == round(88 / 600, 6)


def test_rolling_active_users_hand(spark):
    """User 1 on day 1, user 2 on day 3 (2 events): window ends 1-2 see
    only user 1; 3-7 see both; 8-9 see only user 2; window ends clamp
    at the observed max day (3)."""
    from shifts_etl_spark.operators.funnel import rolling_active_users

    rows = [
        _ev(1, 1, "view", "2024-01-01T10:00:00"),
        _ev(2, 2, "view", "2024-01-03T10:00:00"),
        _ev(3, 2, "view", "2024-01-03T11:00:00"),
    ]
    out = {str(r.day): r for r in
           rolling_active_users(spark.createDataFrame(rows)).collect()}
    assert set(out) == {"2024-01-01", "2024-01-02", "2024-01-03"}
    assert (out["2024-01-01"].active_users, out["2024-01-01"].n_events) == (1, 1)
    assert (out["2024-01-03"].active_users, out["2024-01-03"].n_events) == (2, 3)


def test_session_timeout_sweep_hand(spark):
    """User 1 fires at t, t+10min, t+40min: gaps 600s and 1800s. At
    300s both gaps break (3 sessions); at 900s one breaks (2); at
    1800s none (gap == 1800 is NOT > 1800) -> 1 session; at 3600s 1."""
    from shifts_etl_spark.operators.funnel import session_timeout_sweep

    rows = [
        _ev(1, 1, "view", "2024-01-01T10:00:00"),
        _ev(2, 1, "view", "2024-01-01T10:10:00"),
        _ev(3, 1, "view", "2024-01-01T10:40:00"),
    ]
    out = {r.timeout_s: r for r in
           session_timeout_sweep(spark.createDataFrame(rows)).collect()}
    assert [out[t].n_sessions for t in (300, 900, 1800, 3600)] == [3, 2, 1, 1]
    assert out[300].events_per_session == 1.0
    assert out[1800].events_per_session == 3.0


def test_conversion_latency_hand(spark):
    """User 1: view at t0, purchase 90 s later (converts). User 2: view
    only. User 3: purchase BEFORE any view -> view exists (no) — user 3
    has no view so excluded entirely. Rate 1/2, latencies all 90 s."""
    from shifts_etl_spark.operators.funnel import conversion_latency

    rows = [
        _ev(1, 1, "view", "2024-01-01T10:00:00"),
        _ev(2, 1, "purchase", "2024-01-01T10:01:30"),
        _ev(3, 2, "view", "2024-01-01T11:00:00"),
        _ev(4, 3, "purchase", "2024-01-01T09:00:00"),
    ]
    out = conversion_latency(spark.createDataFrame(rows)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_with_view, r.n_converted, r.conversion_rate) == (2, 1, 0.5)
    assert (r.mean_latency_s, r.p50_latency_s, r.p90_latency_s) == (
        90.0, 90.0, 90.0)


def test_wilson_error_rates_ranking(spark):
    """User 1: 1/1 errors (share 1.0 but tiny sample); user 2: 8/10
    errors. Wilson lower bound must rank user 2 FIRST despite the lower
    raw share — the whole point of the interval."""
    from shifts_etl_spark.operators.funnel import wilson_error_rates

    rows = [_ev(1, 1, "error", "2024-01-01T10:00:00")]
    rows += [_ev(10 + i, 2, "error" if i < 8 else "view",
                 f"2024-01-01T10:00:{i:02d}") for i in range(10)]
    out = wilson_error_rates(spark.createDataFrame(rows)).collect()
    assert [r.user_id for r in out] == [2, 1]
    u2, u1 = out
    assert u1.error_share == 1.0 and u2.error_share == 0.8
    assert u2.wilson_lo > u1.wilson_lo
    # closed-form check for user 2 (p=.8, n=10, z=1.96)
    p, n, zz = 0.8, 10.0, 1.96
    lo = ((p + zz * zz / (2 * n))
          - zz * math.sqrt((p * (1 - p) + zz * zz / (4 * n)) / n)) \
        / (1 + zz * zz / n)
    assert abs(u2.wilson_lo - lo) < 1e-4


def test_heaps_law_monotone_and_fit(spark):
    """Cumulative tokens/types must be nondecreasing in k, the last
    point must hold the full corpus totals, and on an exact power-law
    corpus the fitted beta matches the log-log line."""
    from shifts_etl_spark.operators.textstats import heaps_law

    rows = [_doc(i, " ".join(f"w{i}x{j}" for j in range(5)) + " shared")
            for i in range(1, 31)]
    df = spark.createDataFrame(rows)
    pts = sorted(heaps_law(df).collect(), key=lambda r: r.k)
    toks = [r.cum_tokens for r in pts]
    typs = [r.cum_types for r in pts]
    assert toks == sorted(toks) and typs == sorted(typs)
    assert toks[-1] == 30 * 6
    assert typs[-1] == 30 * 5 + 1  # 5 unique/doc + 'shared'
    assert all(r.beta == pts[0].beta for r in pts)
    xs = [math.log(t) for t in toks]
    ys = [math.log(v) for v in typs]
    slope, _ = _ols(xs, ys)
    assert abs(pts[0].beta - round(slope, 6)) < 1e-5


def test_filter_agreement_planted_overlap(spark):
    """Doc 1 is short AND digit-heavy; doc 2 only short; doc 3 clean ->
    pair (few_tokens, many_digits): n_a=2, n_b=1, both=1, J=1/2."""
    from shifts_etl_spark.operators.textstats import filter_agreement

    rows = [
        _doc(1, "12345 67890"),
        _doc(2, "hello brave new world"),
        _doc(3, " ".join("word" + "abcdefghijklmnopqrstuvwxy"[i] * 2
                         for i in range(25))),
    ]
    out = {(r.filter_a, r.filter_b): r for r in
           filter_agreement(spark.createDataFrame(rows)).collect()}
    r = out[("too_few_tokens", "too_many_digits")]
    assert (r.n_a, r.n_b, r.n_both, r.jaccard) == (2, 1, 1, 0.5)
    r2 = out[("too_few_tokens", "tokens_too_short")]
    assert r2.n_a == 2


def test_vocab_coverage_by_lang_hand(spark):
    """Train vocab {the, cat, sat}: held-out en doc 'the cat ran ran'
    -> 2/4 token OOV, 1/3 type OOV; de doc fully OOV."""
    from shifts_etl_spark.operators.textstats import vocab_coverage_by_lang

    train = spark.createDataFrame([_doc(1, "the cat sat")])
    held = spark.createDataFrame([
        _doc(10, "the cat ran ran", lang="en"),
        _doc(11, "der hund", lang="de"),
    ])
    out = {r.lang: r for r in
           vocab_coverage_by_lang(train, held).collect()}
    en = out["en"]
    assert (en.n_tokens, en.oov_tokens, en.oov_token_share) == (4, 2, 0.5)
    assert (en.n_types, en.oov_types, en.oov_type_share) == (
        3, 1, round(1 / 3, 6))
    de = out["de"]
    assert (de.oov_token_share, de.oov_type_share) == (1.0, 1.0)


def test_fk_coverage_matrix_planted_orphan(spark):
    """Child rows [1, 2, 99] against parents [1, 2]: one orphan,
    share 1/3; a fully-covered edge reports zero."""
    from shifts_etl_spark.operators.quality import fk_coverage_matrix

    child = spark.createDataFrame([Row(k=1), Row(k=2), Row(k=99)])
    parent = spark.createDataFrame([Row(pk=1), Row(pk=2)])
    out = {r.edge: r for r in fk_coverage_matrix({
        "child.k": (child, F.col("k"), parent, F.col("pk")),
        "parent.self": (parent, F.col("pk"), parent, F.col("pk")),
    }).collect()}
    bad = out["child.k"]
    assert (bad.n_child, bad.n_orphans, bad.orphan_share) == (
        3, 1, round(1 / 3, 6))
    assert (out["parent.self"].n_orphans, out["parent.self"].orphan_share) \
        == (0, 0.0)


def test_churn_risk_personal_baseline(spark):
    """Customer 1: monthly cadence (gaps 30), last order right at the
    anchor -> not at risk. Customer 2: gaps of 10 days but silent for
    the final 100 -> at risk. Customer 3 has 2 orders -> excluded."""
    from shifts_etl_spark.operators.funnel import churn_risk
    import datetime as dt

    d0 = dt.date(2024, 1, 1)
    rows = []
    k = 1
    for i in range(5):  # customer 1: days 0,30,...,120 (anchor = 130)
        rows.append(Row(o_orderkey=k, o_custkey=1, o_orderstatus="O",
                        o_totalprice=1.0, o_orderpriority="1",
                        o_orderdate=d0 + dt.timedelta(days=30 * i))); k += 1
    for i in range(4):  # customer 2: days 0,10,20,30 then silence
        rows.append(Row(o_orderkey=k, o_custkey=2, o_orderstatus="O",
                        o_totalprice=1.0, o_orderpriority="1",
                        o_orderdate=d0 + dt.timedelta(days=10 * i))); k += 1
    rows.append(Row(o_orderkey=k, o_custkey=3, o_orderstatus="O",
                    o_totalprice=1.0, o_orderpriority="1",
                    o_orderdate=d0 + dt.timedelta(days=130))); k += 1
    rows.append(Row(o_orderkey=k, o_custkey=3, o_orderstatus="O",
                    o_totalprice=1.0, o_orderpriority="1",
                    o_orderdate=d0))
    cust = spark.createDataFrame([
        Row(c_custkey=1, c_mktsegment="X"),
        Row(c_custkey=2, c_mktsegment="Y"),
        Row(c_custkey=3, c_mktsegment="X"),
    ])
    out = {r.c_mktsegment: r for r in
           churn_risk(spark.createDataFrame(rows), cust).collect()}
    assert (out["X"].n_customers, out["X"].n_at_risk) == (1, 0)
    assert (out["Y"].n_customers, out["Y"].n_at_risk,
            out["Y"].at_risk_share) == (1, 1, 1.0)
    assert out["Y"].median_personal_gap_days == 10.0


def test_clean_eval_report_excludes_contaminated(spark):
    """Held-out doc 2 near-dups train doc 1 -> excluded; held-out doc 5
    is clean -> kept. Held-out pair 6/7 duplicating EACH OTHER (no
    train member) must NOT be excluded."""
    from shifts_etl_spark.operators.dedup import clean_eval_report

    body = ("the quick brown fox jumps over the lazy dog while seventeen "
            "astronauts careful measure gravitational lensing around the "
            "old observatory every cold tuesday morning in late november")
    other = ("completely different writing about distributed query engines "
             "and the optimizers that plan them across many machines with "
             "care and tests and benchmarks every single release cycle")
    rows = [
        Row(doc_id=1, text=body + " extra", split="train", lang="en"),
        Row(doc_id=2, text=body + " bonus", split="test", lang="en"),
        Row(doc_id=5, text="short unrelated note about gardens",
            split="test", lang="en"),
        Row(doc_id=6, text=other + " one", split="test", lang="de"),
        Row(doc_id=7, text=other + " two", split="val", lang="de"),
    ]
    out = {r.lang: r for r in
           clean_eval_report(spark.createDataFrame(rows)).collect()}
    en = out["en"]
    assert (en.n_heldout, en.n_kept, en.n_excluded) == (2, 1, 1)
    assert en.kept_share == 0.5
    de = out["de"]
    assert (de.n_heldout, de.n_excluded) == (2, 0)


def test_vocab_budget_curve_blocks(spark):
    """Counts 8,4,4,1,1,1 (types a; b,c; d,e,f): block boundaries are
    cum_types 1, 3, 6. target 100 exceeds the vocab -> absent; a tiny
    target set exercises block alignment: target 2 -> k_eff 3 (ties
    keep the whole count-4 block), coverage (8+4+4)/19."""
    from shifts_etl_spark.operators.textstats import vocab_budget_curve

    text = " ".join(["aa"] * 8 + ["bb"] * 4 + ["cc"] * 4
                    + ["dd", "ee", "ff"])
    df = spark.createDataFrame([_doc(1, text)])
    out = {r.target_k: r for r in
           vocab_budget_curve(df, targets=(1, 2, 6, 100)).collect()}
    assert set(out) == {1, 2, 6}  # 100 unreachable on a 6-type vocab
    assert (out[1].k_eff, out[1].coverage) == (1, round(8 / 19, 6))
    assert (out[2].k_eff, out[2].coverage) == (3, round(16 / 19, 6))
    assert (out[6].k_eff, out[6].coverage) == (6, 1.0)


def test_transition_dwell_hand(spark):
    """User path view -(60s)-> click -(120s)-> view: two transition
    cells with exact means/medians."""
    from shifts_etl_spark.operators.funnel import transition_dwell

    rows = [
        _ev(1, 1, "view", "2024-01-01T10:00:00"),
        _ev(2, 1, "click", "2024-01-01T10:01:00"),
        _ev(3, 1, "view", "2024-01-01T10:03:00"),
    ]
    out = {(r.prev_type, r.event_type): r for r in
           transition_dwell(spark.createDataFrame(rows)).collect()}
    vc = out[("view", "click")]
    assert (vc.n, vc.mean_dwell_s, vc.p50_dwell_s) == (1, 60.0, 60.0)
    cv = out[("click", "view")]
    assert (cv.mean_dwell_s, cv.p50_dwell_s) == (120.0, 120.0)


def test_revenue_gini_closed_form(spark):
    """Group A perfectly equal (all 5.0) -> G = 0; group B values
    1,1,1,1,96 -> hand Gini = 2*(1*1+2*1+3*1+4*1+5*96)/(5*100) - 6/5
    = 0.76."""
    from shifts_etl_spark.operators.profile import revenue_gini

    rows = [Row(o_orderpriority="A", o_totalprice=5.0) for _ in range(4)]
    rows += [Row(o_orderpriority="B", o_totalprice=v)
             for v in (1.0, 1.0, 1.0, 1.0, 96.0)]
    out = {r.o_orderpriority: r for r in
           revenue_gini(spark.createDataFrame(rows)).collect()}
    assert out["A"].gini == 0.0
    b = out["B"]
    assert (b.n_orders, b.total_revenue) == (5, 100.0)
    assert b.gini == round(2 * (1 + 2 + 3 + 4 + 5 * 96) / 500 - 1.2, 6)


def test_retention_halflife_exact_decay(spark):
    """A cohort decaying exactly by halves each week (16 -> 8 -> 4 -> 2
    users active at offsets 0..3) has slope -ln2 and half-life 1."""
    from shifts_etl_spark.operators.funnel import retention_halflife
    import datetime as dt

    rows = []
    k = 1
    base = dt.datetime(2024, 1, 1, 10)  # Monday
    for u in range(16):
        rows.append(Row(event_id=k, ts=base, user_id=u,
                        event_type="view", value=1.0, props="{}")); k += 1
        for off in (1, 2, 3):
            if u < 16 >> off:
                rows.append(Row(event_id=k, ts=base + dt.timedelta(weeks=off),
                                user_id=u, event_type="view", value=1.0,
                                props="{}")); k += 1
    out = retention_halflife(spark.createDataFrame(rows)).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_points == 3
    assert abs(r.decay_slope + math.log(2)) < 1e-6
    assert r.halflife_weeks == 1.0


def test_chi2_independence_hand(spark):
    """2x2 table with counts (A,x)=3, (A,y)=1, (B,x)=1, (B,y)=3:
    margins 4/4, expected 2 everywhere, contrib (o-2)^2/2 = 0.5."""
    from shifts_etl_spark.operators.profile import chi2_independence

    rows = []
    for brand, typ, n in (("A", "x", 3), ("A", "y", 1),
                          ("B", "x", 1), ("B", "y", 3)):
        rows += [Row(p_brand=brand, p_type=typ)] * n
    out = {(r.p_brand, r.p_type): r for r in
           chi2_independence(spark.createDataFrame(rows)).collect()}
    assert out[("A", "x")].n == 3
    assert all(r.expected == 2.0 for r in out.values())
    assert all(r.chi2_contrib == 0.5 for r in out.values())


def test_quality_outliers_ranks_weird_doc(spark):
    """Nine ordinary prose docs + one digit-soup doc: the weird one
    must rank first with the largest outlier score."""
    from shifts_etl_spark.operators.textstats import quality_outliers

    rows = [_doc(i, f"a perfectly ordinary sentence about topic "
                    f"number {i} with plain words")
            for i in range(1, 10)]
    rows.append(_doc(99, "000 111 222 333 444 555 666 777 888 999 " * 4))
    out = quality_outliers(spark.createDataFrame(rows), top_k=3).collect()
    assert out[0].doc_id == 99
    assert out[0].outlier_score > out[1].outlier_score


def test_linenumber_audit_planted_defects(spark):
    """Order 1 is clean 1..3; order 2 has a duplicate line 2; order 3
    skips line 2 (gap); order 4 starts at 2 (gap)."""
    from shifts_etl_spark.operators.quality import linenumber_audit

    rows = [Row(l_orderkey=1, l_linenumber=i) for i in (1, 2, 3)]
    rows += [Row(l_orderkey=2, l_linenumber=i) for i in (1, 2, 2)]
    rows += [Row(l_orderkey=3, l_linenumber=i) for i in (1, 3)]
    rows += [Row(l_orderkey=4, l_linenumber=i) for i in (2, 3)]
    out = linenumber_audit(spark.createDataFrame(rows)).collect()[0]
    assert (out.n_orders, out.n_dup_lines, out.n_gapped) == (4, 1, 2)
    assert out.bad_share == 0.75


def test_weighted_median_vs_plain(spark):
    """Prices 1 (weight 98) and 100, 100 (weight 1 each): plain median
    is 100, weighted median is 1 — volume lives at the cheap end."""
    from shifts_etl_spark.operators.profile import weighted_median

    rows = [
        Row(l_returnflag="A", l_extendedprice=1.0, l_quantity=98.0),
        Row(l_returnflag="A", l_extendedprice=100.0, l_quantity=1.0),
        Row(l_returnflag="A", l_extendedprice=100.0, l_quantity=1.0),
    ]
    out = weighted_median(spark.createDataFrame(rows)).collect()[0]
    assert (out.n_lines, out.tot_w, out.weighted_median) == (3, 100, 1.0)


def test_pii_cooccurrence_bands(spark):
    """Doc 1 has email+url+long number (3 types); doc 2 email only;
    doc 3 clean. Bands 0, 1, 3 each hold one doc."""
    from shifts_etl_spark.operators.textstats import pii_cooccurrence

    rows = [
        _doc(1, "mail me at a.b@example.com or https://x.io id 12345678"),
        _doc(2, "reach me at someone@example.org please"),
        _doc(3, "nothing sensitive in here at all"),
    ]
    out = {r.n_pii_types: r for r in
           pii_cooccurrence(spark.createDataFrame(rows)).collect()}
    assert set(out) == {0, 1, 3}
    assert out[3].n_docs == 1 and out[3].n_email == 1 and out[3].n_url == 1
    assert out[1].n_email == 1 and out[1].n_url == 0
    assert out[0].share == round(1 / 3, 6)


def test_decile_mobility_stable_users(spark):
    """Two users active in both halves with unchanged relative value ->
    both stay on the diagonal with row_share 1; a first-half-only user
    is excluded."""
    from shifts_etl_spark.operators.funnel import decile_mobility

    rows = []
    k = 1
    for u, v in ((1, 1.0), (2, 50.0)):
        rows.append(Row(**{**_ev(k, u, "view",
                               "2024-01-01T00:00:00").asDict(),
                           "value": v})); k += 1
        rows.append(Row(**{**_ev(k, u, "view",
                               "2024-01-31T00:00:00").asDict(),
                           "value": v})); k += 1
    rows.append(Row(**{**_ev(k, 3, "view", "2024-01-02T00:00:00").asDict(),
                       "value": 9.0}))
    out = decile_mobility(spark.createDataFrame(rows)).collect()
    assert all(r.decile_then == r.decile_now for r in out)
    assert all(r.row_share == 1.0 for r in out)
    assert sum(r.n_users for r in out) == 2


def test_quality_by_length_partitions(spark):
    """Bins must partition the corpus and average token counts must be
    nondecreasing in the length decile."""
    from shifts_etl_spark.operators.textstats import quality_by_length

    rows = [_doc(i, " ".join(["word"] * (5 + 7 * i))) for i in range(1, 21)]
    out = sorted(quality_by_length(spark.createDataFrame(rows)).collect(),
                 key=lambda r: r.length_decile)
    assert sum(r.n_docs for r in out) == 20
    means = [r.mean_tokens for r in out]
    assert means == sorted(means)
    assert all(1 <= r.length_decile <= 10 for r in out)


def test_single_source_risk_hand(spark):
    """Brand A: part 1 has 2 suppliers, part 2 has 1 -> single-source
    share 0.5, mean depth 1.5; untraded part 3 is excluded."""
    from shifts_etl_spark.operators.profile import single_source_risk

    lines = [
        Row(l_partkey=1, l_suppkey=10), Row(l_partkey=1, l_suppkey=11),
        Row(l_partkey=1, l_suppkey=10),  # dup pair collapses
        Row(l_partkey=2, l_suppkey=10),
    ]
    parts = [Row(p_partkey=i, p_brand="A") for i in (1, 2, 3)]
    out = single_source_risk(
        spark.createDataFrame(lines), spark.createDataFrame(parts)
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_parts, r.n_single_source, r.single_source_share) == (
        2, 1, 0.5)
    assert r.mean_suppliers_per_part == 1.5


def test_new_vs_returning_weeks(spark):
    """User 1 active weeks 1 and 2; user 2 only week 2: week 1 = 1 new;
    week 2 = 1 new (user 2) + 1 returning (user 1)."""
    from shifts_etl_spark.operators.funnel import new_vs_returning

    rows = [
        _ev(1, 1, "view", "2024-01-01T10:00:00"),
        _ev(2, 1, "view", "2024-01-08T10:00:00"),
        _ev(3, 2, "view", "2024-01-08T11:00:00"),
    ]
    out = {str(r.week): r for r in
           new_vs_returning(spark.createDataFrame(rows)).collect()}
    w1, w2 = out["2024-01-01"], out["2024-01-08"]
    assert (w1.active_users, w1.new_users, w1.returning_users) == (1, 1, 0)
    assert (w2.active_users, w2.new_users, w2.returning_users) == (2, 1, 1)
    assert w2.new_share == 0.5


def test_source_jsd_identical_and_disjoint(spark):
    """Sources a1/a2 share the identical distribution -> JSD ~ 0 (only
    smoothing noise keeps it tiny); source z is disjoint -> much
    larger, bounded by ln 2."""
    from shifts_etl_spark.operators.textstats import source_jsd

    rows = [
        _doc(1, "the cat sat on the mat", source="a1"),
        _doc(2, "the cat sat on the mat", source="a2"),
        _doc(3, "zq zr zs zt zu zv", source="z"),
    ]
    out = {(r.source_a, r.source_b): r.jsd_nats for r in
           source_jsd(spark.createDataFrame(rows)).collect()}
    assert out[("a1", "a2")] == 0.0
    # tiny corpus: add-1 smoothing flattens the distributions, so the
    # disjoint pair lands well under ln 2 — just must be clearly > 0
    assert 0.01 < out[("a1", "z")] <= math.log(2) + 1e-9
    assert out[("a1", "z")] == out[("a2", "z")]


def test_sample_representativeness_exact_shares(spark):
    """The md5 sample is deterministic: recompute membership in Python
    and the per-lang sample counts must match exactly; shares sum
    to 1."""
    from shifts_etl_spark.operators.curation import sample_representativeness
    import hashlib

    rows = [_doc(i, "text body here", lang="en" if i % 3 else "de")
            for i in range(1, 61)]
    df = spark.createDataFrame(rows)
    out = {r.lang: r for r in sample_representativeness(df).collect()}

    def in_sample(i):
        h = hashlib.md5(str(i).encode()).hexdigest()
        return (ord(h[0]) * 256 + ord(h[1])) % 100 < 10

    for lang in ("en", "de"):
        ids = [i for i in range(1, 61)
               if (("en" if i % 3 else "de") == lang)]
        assert out[lang].n_corpus == len(ids)
        assert out[lang].n_sample == sum(in_sample(i) for i in ids)
    assert abs(sum(r.sample_share for r in out.values()) - 1.0) < 1e-6


def test_dedup_worklist_ranks_by_waste(spark):
    """Cluster {1,2,3} wastes two short copies; cluster {4,5} wastes
    one; unrelated doc 6 never appears."""
    from shifts_etl_spark.operators.dedup import dedup_worklist

    a = ("the quick brown fox jumps over the lazy dog near the river "
         "bank every sunny morning in june with seventeen friends")
    b = ("completely different content about query planners and their "
         "optimizers running tests on many machines every release")
    rows = [
        Row(doc_id=1, text=a + " one"),
        Row(doc_id=2, text=a + " two"),
        Row(doc_id=3, text=a + " three four five"),
        Row(doc_id=4, text=b + " x"),
        Row(doc_id=5, text=b + " y"),
        Row(doc_id=6, text="tiny unrelated note"),
    ]
    out = dedup_worklist(spark.createDataFrame(rows)).collect()
    assert [r.cluster_id for r in out] == [1, 4]
    big = out[0]
    assert big.n_docs == 3
    assert big.wasted_tokens == big.total_tokens - big.kept_tokens
    assert big.wasted_tokens > out[1].wasted_tokens


def test_activity_heatmap_cells(spark):
    """3 events in one (weekday, hour) cell and 1 in another: shares
    3/4 and 1/4, load ratios 1.5 and 0.5 against the 2-cell uniform."""
    from shifts_etl_spark.operators.funnel import activity_heatmap

    rows = [
        _ev(1, 1, "view", "2024-01-01T10:00:00"),
        _ev(2, 1, "view", "2024-01-01T10:20:00"),
        _ev(3, 2, "view", "2024-01-01T10:40:00"),
        _ev(4, 2, "view", "2024-01-02T05:00:00"),
    ]
    out = {(r.weekday, r.hour): r for r in
           activity_heatmap(spark.createDataFrame(rows)).collect()}
    hot = out[(2, 10)]  # Monday=2 in Spark dayofweek
    assert (hot.n_events, hot.share, hot.load_ratio) == (3, 0.75, 1.5)
    cold = out[(3, 5)]
    assert (cold.n_events, cold.load_ratio) == (1, 0.5)


def test_cusum_changepoint_level_shift(spark):
    """Daily means 1,1,1,5,5,5 (one event per day): level = 3, prefix
    sums -2,-4,-6,-4,-2,0; s_pos climbs 0,0,0,2,4,6 and s_neg peaks at
    6 on day 3 — change_rank 1 must land on day 3 (the last pre-shift
    day, ties broken by earliest day)."""
    from shifts_etl_spark.operators.funnel import cusum_changepoint
    import datetime as dt

    rows = [
        Row(event_id=i, ts=dt.datetime(2024, 1, i + 1, 12, 0, 0),
            user_id=1, event_type="view",
            value=1.0 if i < 3 else 5.0, props="{}")
        for i in range(6)
    ]
    out = {r.day.day: r for r in cusum_changepoint(
        spark.createDataFrame(rows)).collect()}
    assert [out[d].cusum for d in range(1, 7)] == [-2, -4, -6, -4, -2, 0]
    assert [out[d].s_pos for d in range(1, 7)] == [0, 0, 0, 2, 4, 6]
    assert [out[d].s_neg for d in range(1, 7)] == [2, 4, 6, 4, 2, 0]
    assert out[3].change_rank == 1
    assert all(out[d].level == 3.0 for d in range(1, 7))


def test_cusum_changepoint_flat_series(spark):
    """A flat series never accumulates: cusum, s_pos and s_neg are all
    zero and the rank tiebreak is pure day order."""
    from shifts_etl_spark.operators.funnel import cusum_changepoint
    import datetime as dt

    rows = [
        Row(event_id=i, ts=dt.datetime(2024, 1, i + 1, 12, 0, 0),
            user_id=1, event_type="view", value=2.5, props="{}")
        for i in range(4)
    ]
    out = cusum_changepoint(spark.createDataFrame(rows)).collect()
    assert [r.cusum for r in out] == [0.0, 0.0, 0.0, 0.0]
    assert [r.s_pos for r in out] == [0.0, 0.0, 0.0, 0.0]
    assert [r.s_neg for r in out] == [0.0, 0.0, 0.0, 0.0]
    assert [r.change_rank for r in out] == [1, 2, 3, 4]


def test_revenue_autocorrelation_alternating(spark):
    """Revenue alternating 100/200 over 8 consecutive days: lag-1
    pairs anti-correlate exactly (r = -1), lag-2 pairs correlate
    exactly (r = +1), and pair counts are 7 and 6."""
    from shifts_etl_spark.operators.funnel import revenue_autocorrelation
    import datetime as dt

    rows = [
        Row(o_orderkey=i, o_custkey=1, o_orderdate=dt.date(2024, 1, i + 1),
            o_totalprice=100.0 if i % 2 == 0 else 200.0)
        for i in range(8)
    ]
    out = {r.lag: r for r in revenue_autocorrelation(
        spark.createDataFrame(rows)).collect()}
    assert out[1].n_pairs == 7 and out[1].pearson_r == -1.0
    assert out[2].n_pairs == 6 and out[2].pearson_r == 1.0


def test_revenue_autocorrelation_gaps_and_flat(spark):
    """A missing calendar day only pairs both-observed endpoints:
    with days 1, 2, 4 observed, lag 1 pairs only (2 <- 1), lag 2 only
    (4 <- 2), lag 3 only (4 <- 1), and lags 4-7 vanish entirely;
    constant revenue yields NULL r at every matched lag."""
    from shifts_etl_spark.operators.funnel import revenue_autocorrelation
    import datetime as dt

    rows = [
        Row(o_orderkey=i, o_custkey=1, o_orderdate=dt.date(2024, 1, d),
            o_totalprice=100.0)
        for i, d in enumerate([1, 2, 4])
    ]
    out = {r.lag: r for r in revenue_autocorrelation(
        spark.createDataFrame(rows)).collect()}
    assert out[1].n_pairs == 1  # (2 <- 1); day 4 has no day 3
    assert out[2].n_pairs == 1  # (4 <- 2)
    assert out[3].n_pairs == 1  # (4 <- 1)
    assert sorted(out) == [1, 2, 3]  # lags 4-7 have no matched pair
    assert all(out[k].pearson_r is None for k in out)


def test_calendar_coverage_gap_detection(spark):
    """Type A fires on days 1-3, type B only on day 2: the span is
    days 1..3, so B must report 2 silent days bracketed at days 1 and
    3 with coverage 1/3; A is fully covered with NULL gap edges."""
    from shifts_etl_spark.operators.funnel import calendar_coverage
    import datetime as dt

    rows = [
        _ev(1, 1, "A", "2024-01-01T10:00:00"),
        _ev(2, 1, "A", "2024-01-02T10:00:00"),
        _ev(3, 1, "A", "2024-01-03T10:00:00"),
        _ev(4, 2, "B", "2024-01-02T11:00:00"),
    ]
    out = {r.event_type: r for r in calendar_coverage(
        spark.createDataFrame(rows)).collect()}
    a, b = out["A"], out["B"]
    assert (a.n_days_observed, a.n_missing, a.coverage) == (3, 0, 1.0)
    assert a.first_missing is None and a.last_missing is None
    assert (b.n_days_observed, b.n_missing) == (1, 2)
    assert b.coverage == round(1 / 3, 6)
    assert b.first_missing == dt.date(2024, 1, 1)
    assert b.last_missing == dt.date(2024, 1, 3)


def test_price_dispersion_cv_ranking(spark):
    """Part 1 sells at a constant 10.00 (cv 0); part 2's prices
    10,10,10,10,20 give mean 12.00, sd 4.00, cv 1/3; part 3 has only
    4 lines and is excluded by min_lines=5. Worst cv sorts first."""
    from shifts_etl_spark.operators.profile import price_dispersion

    li = [Row(l_orderkey=i, l_partkey=1, l_extendedprice=10.0)
          for i in range(5)]
    li += [Row(l_orderkey=10 + i, l_partkey=2,
               l_extendedprice=10.0 if i < 4 else 20.0) for i in range(5)]
    li += [Row(l_orderkey=20 + i, l_partkey=3, l_extendedprice=99.0)
           for i in range(4)]
    part = [Row(p_partkey=k, p_brand=f"B{k}", p_type=f"T{k}")
            for k in (1, 2, 3)]
    out = price_dispersion(
        spark.createDataFrame(li), spark.createDataFrame(part)).collect()
    assert [r.p_partkey for r in out] == [2, 1]
    two, one = out[0], out[1]
    assert (two.n, two.mean_price, two.sd_price) == (5, 12.0, 4.0)
    assert two.cv == round(4.0 / 12.0, 6)
    assert (one.n, one.mean_price, one.sd_price, one.cv) == (5, 10.0, 0.0, 0.0)
    assert two.p_brand == "B2" and one.p_type == "T1"


def test_session_depth_buckets_and_boundary(spark):
    """User 1: a 3-event burst then a lone event 100 min later; user 2:
    two events 5 min apart; user 3: two events EXACTLY 30 min apart
    (gap == 1800 s stays in-session). Buckets: depth-1 x1, depth-2 x2,
    depth-3..4 x1; shares quarter/half/quarter with cum 0.25/0.75/1."""
    from shifts_etl_spark.operators.funnel import session_depth_profile

    rows = [
        _ev(1, 1, "view", "2024-01-01T10:00:00"),
        _ev(2, 1, "view", "2024-01-01T10:10:00"),
        _ev(3, 1, "view", "2024-01-01T10:20:00"),
        _ev(4, 1, "view", "2024-01-01T12:00:00"),
        _ev(5, 2, "view", "2024-01-01T10:00:00"),
        _ev(6, 2, "view", "2024-01-01T10:05:00"),
        _ev(7, 3, "view", "2024-01-01T10:00:00"),
        _ev(8, 3, "view", "2024-01-01T10:30:00"),
    ]
    out = session_depth_profile(spark.createDataFrame(rows)).collect()
    assert [(r.bucket_lo, r.bucket_hi, r.n_sessions) for r in out] == [
        (1, 1, 1), (2, 2, 2), (3, 4, 1)]
    assert [r.share for r in out] == [0.25, 0.5, 0.25]
    assert [r.cum_share for r in out] == [0.25, 0.75, 1.0]


def test_knn_label_agreement_planted_noise(spark):
    """One block (n_buckets=1): two aligned label-0 vectors choose each
    other (agreement 1.0, near-dup at cos ~0.99995); the orthogonal
    label-1 vector's neighbor is label 0 (agreement 0, no near-dup)."""
    from shifts_etl_spark.operators.profile import knn_label_agreement

    rows = [
        Row(vec_id=1, embedding=[1.0, 0.0], label=0),
        Row(vec_id=2, embedding=[1.0, 0.01], label=0),
        Row(vec_id=3, embedding=[0.0, 1.0], label=1),
    ]
    out = {r.label: r for r in knn_label_agreement(
        spark.createDataFrame(rows), n_buckets=1).collect()}
    assert (out[0].n_vectors, out[0].n_agree, out[0].agreement) == (2, 2, 1.0)
    assert out[0].near_dup_share == 1.0
    assert (out[1].n_vectors, out[1].n_agree, out[1].agreement) == (1, 0, 0.0)
    assert out[1].near_dup_share == 0.0


def test_mannwhitney_quality_matches_replica(spark):
    """30 docs at two quality levels (score 0.1 vs 1.0): the Spark U,
    tie correction, and z must equal a from-scratch Python replica of
    the tie-corrected Mann-Whitney computed over the same md5-half
    assignment."""
    from shifts_etl_spark.operators.profile import mannwhitney_quality
    import hashlib

    good = ("the quick brown fox jumps over the lazy dog while the "
            "calm river flows past the old stone bridge at dawn")
    rows = [Row(doc_id=i, text=good if i % 3 else "x") for i in range(1, 31)]
    out = mannwhitney_quality(spark.createDataFrame(rows)).collect()[0]

    def half(i):
        h = hashlib.md5(str(i).encode()).hexdigest()
        return (ord(h[0]) * 256 + ord(h[1])) % 100 < 50

    def score(text):
        toks = text.split()
        s = 0.0
        s += 0.4 if 10 <= len(toks) <= 10000 else 0.0
        mtl = sum(len(t) for t in toks) / max(len(toks), 1)
        s += 0.3 if 3.0 <= mtl <= 10.0 else 0.0
        sw = sum(t.lower() in ("the", "a", "an", "and", "or", "of", "to",
                               "in", "is", "it", "that", "for", "on",
                               "with", "as", "at", "by", "this") for t in
                 toks) / max(len(toks), 1)
        s += 0.2 if sw >= 0.01 else 0.0
        dig = sum(c.isdigit() for c in text) / max(len(text), 1)
        s += 0.1 if dig <= 0.2 else 0.0
        return round(s * 10)

    samples = [(score(good if i % 3 else "x"), half(i)) for i in range(1, 31)]
    vals = sorted({v for v, _ in samples})
    ranks, cum = {}, 0
    tie = 0.0
    for v in vals:
        t = sum(1 for s, _ in samples if s == v)
        ranks[v] = cum + (t + 1) / 2.0
        tie += t ** 3 - t
        cum += t
    na = sum(1 for _, a in samples if a)
    nb = len(samples) - na
    ra = sum(ranks[v] for v, a in samples if a)
    ua = ra - na * (na + 1) / 2.0
    assert (out.n_a, out.n_b) == (na, nb)
    assert out.u_a == ua and out.u_b == na * nb - ua
    n = na + nb
    s2 = na * nb / 12.0 * ((n + 1) - tie / (n * (n - 1)))
    import math
    assert out.z_score == round((ua - na * nb / 2.0) / math.sqrt(s2), 6)


def _lev(a, b):
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_editdist_confirm_planted_neardup(spark):
    """Doc 2 is doc 1 with its final word changed: the LSH candidate
    pair must survive the confirm with edit_distance equal to the true
    Levenshtein of the normalized 160-char prefixes; the unrelated doc
    3 never pairs. A >20-edit candidate would be dropped (checked via
    the operator's max_edit knob)."""
    from shifts_etl_spark.operators.dedup import editdist_confirm_pairs
    import re

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi "
            "psi omega one two three four five six seven")
    d1 = base + " eight"
    d2 = base + " nine"
    d3 = "completely different content about sailing ships and "
    d3 += "harbors with nothing shared at all " * 2
    rows = [Row(doc_id=1, text=d1), Row(doc_id=2, text=d2),
            Row(doc_id=3, text=d3)]
    out = editdist_confirm_pairs(
        spark.createDataFrame(rows), hash_fn="md5").collect()
    assert [(r.id_a, r.id_b) for r in out] == [(1, 2)]

    def norm(t):
        return re.sub(r"\s+", " ",
                      re.sub(r"[^a-z0-9\s]", " ", t.lower())).strip()[:160]

    expected = _lev(norm(d1), norm(d2))
    assert out[0].edit_distance == expected
    mx = max(len(norm(d1)), len(norm(d2)))
    assert out[0].prefix_sim == round(1.0 - expected / mx, 6)
    strict = editdist_confirm_pairs(
        spark.createDataFrame(rows), max_edit=expected - 1,
        hash_fn="md5").collect()
    assert strict == []


def test_vocab_estimate_hand_spectrum(spark):
    """Tokens 'a a b c': spectrum n1=2, n2=1 gives Good-Turing
    coverage 0.5 and bias-corrected Chao1 = 3 + 2*1/(2*2) = 3.5."""
    from shifts_etl_spark.operators.textstats import vocab_estimate

    out = vocab_estimate(spark.createDataFrame(
        [Row(doc_id=1, text="a a b c", source="s")])).collect()[0]
    assert (out.n_tokens, out.n_types, out.n1, out.n2) == (4, 3, 2, 1)
    assert out.gt_coverage == 0.5
    assert out.chao1 == 3.5 and out.est_unseen == 0.5


def test_activity_powerlaw_hand_mle(spark):
    """Users with 1, 2 and 4 events at xmin=2: the below-threshold
    user counts toward n_users only; alpha matches the hand MLE
    1 + 2 / (ln(2/1.5) + ln(4/1.5))."""
    from shifts_etl_spark.operators.funnel import activity_powerlaw

    rows = [_ev(1, 1, "view", "2024-01-01T10:00:00")]
    rows += [_ev(10 + i, 2, "view", f"2024-01-01T11:0{i}:00")
             for i in range(2)]
    rows += [_ev(20 + i, 3, "view", f"2024-01-01T12:0{i}:00")
             for i in range(4)]
    out = activity_powerlaw(spark.createDataFrame(rows)).collect()[0]
    assert (out.xmin, out.n_users, out.n_tail, out.max_activity) == (
        2, 3, 2, 4)
    ln_sum = math.log(2 / 1.5) + math.log(4 / 1.5)
    assert out.alpha == round(1.0 + 2.0 / ln_sum, 6)


def test_dup_cluster_histogram_planted(spark):
    """Three copies of one passage, two of another, one unique doc:
    the histogram must show one 3-cluster and one 2-cluster (the
    unique doc never enters a component), with doc mass 3/5 and 2/5."""
    from shifts_etl_spark.operators.dedup import dup_cluster_histogram

    p1 = "red green blue yellow purple orange cyan magenta lime teal"
    p2 = "north south east west up down left right forward backward"
    uniq = "lonely words that repeat nowhere else in this tiny corpus"
    rows = [Row(doc_id=i, text=p1) for i in (1, 2, 3)]
    rows += [Row(doc_id=i, text=p2) for i in (4, 5)]
    rows += [Row(doc_id=6, text=uniq)]
    out = {r.csize: r for r in dup_cluster_histogram(
        spark.createDataFrame(rows)).collect()}
    assert (out[2].n_clusters, out[2].n_docs) == (1, 2)
    assert (out[3].n_clusters, out[3].n_docs) == (1, 3)
    assert out[2].cluster_share == 0.5 and out[3].cluster_share == 0.5
    assert out[2].doc_share == 0.4 and out[3].doc_share == 0.6


def test_theilsen_trend_outlier_proof(spark):
    """Four days on an exact $10/day line plus a $1000 final-day
    spike: 6 of 10 pairwise slopes are exactly 10, so the median
    slope stays 10.0 and the median residual stays $10 — the spike
    that would drag an OLS fit is ignored entirely."""
    from shifts_etl_spark.operators.funnel import theilsen_trend
    import datetime as dt

    vals = [10.0, 20.0, 30.0, 40.0, 1000.0]
    rows = [Row(o_orderkey=i, o_orderdate=dt.date(2024, 1, i + 1),
                o_totalprice=v) for i, v in enumerate(vals)]
    out = theilsen_trend(spark.createDataFrame(rows)).collect()[0]
    assert (out.n_days, out.n_pairs) == (5, 10)
    assert out.slope_per_day == 10.0
    assert out.intercept == 10.0


def test_forecast_backtest_periodic(spark):
    """Perfectly period-2 revenue over 8 days: the naive carry-forward
    errs by $100 every day while the season=2 baseline is exact, so
    MASE is 0."""
    from shifts_etl_spark.operators.funnel import forecast_backtest
    import datetime as dt

    rows = [Row(o_orderkey=i, o_orderdate=dt.date(2024, 1, i + 1),
                o_totalprice=100.0 if i % 2 == 0 else 200.0)
            for i in range(8)]
    out = forecast_backtest(
        spark.createDataFrame(rows), season=2).collect()[0]
    assert (out.n_days, out.n_naive, out.n_seasonal) == (8, 7, 6)
    assert out.mae_naive == 100.0
    assert out.mae_seasonal == 0.0
    assert out.mase_seasonal == 0.0


def test_weekly_mix_psi_hand_value(spark):
    """Two weeks with mirrored 3:1 / 1:3 type mixes against a 50/50
    overall: each week's add-1-smoothed PSI is exactly (1/6) ln 2."""
    from shifts_etl_spark.operators.funnel import weekly_mix_psi

    rows = []
    eid = 0
    for day, mix in ((1, ("A", "A", "A", "B")), (8, ("A", "B", "B", "B"))):
        for t in mix:
            eid += 1
            rows.append(_ev(eid, 1, t, f"2024-01-0{day}T10:0{eid % 6}:00")
                        if day < 8 else
                        _ev(eid, 1, t, f"2024-01-08T10:0{eid % 6}:00"))
    out = weekly_mix_psi(spark.createDataFrame(rows)).collect()
    assert [r.n_events for r in out] == [4, 4]
    expected = round((1 / 6) * math.log(2), 6)
    assert [r.psi for r in out] == [expected, expected]


def test_cohort_ltv_hand_curve(spark):
    """Cohort of week 2024-01-01 = customers 1 and 2 ($350 at offset
    0); customer 1 returns in week 3 for $25: cum revenue 375 and cum
    LTV per member 187.5 at offset 2."""
    from shifts_etl_spark.operators.funnel import cohort_ltv
    import datetime as dt

    rows = [
        Row(o_orderkey=1, o_custkey=1, o_orderdate=dt.date(2024, 1, 1),
            o_totalprice=100.0),
        Row(o_orderkey=2, o_custkey=1, o_orderdate=dt.date(2024, 1, 3),
            o_totalprice=50.0),
        Row(o_orderkey=3, o_custkey=2, o_orderdate=dt.date(2024, 1, 2),
            o_totalprice=200.0),
        Row(o_orderkey=4, o_custkey=1, o_orderdate=dt.date(2024, 1, 15),
            o_totalprice=25.0),
    ]
    out = {r.offset: r for r in cohort_ltv(
        spark.createDataFrame(rows)).collect()}
    assert (out[0].n_active, out[0].cohort_size) == (2, 2)
    assert out[0].revenue == 350.0 and out[0].cum_ltv_per_user == 175.0
    assert (out[2].n_active, out[2].revenue) == (1, 25.0)
    assert out[2].cum_revenue == 375.0
    assert out[2].cum_ltv_per_user == 187.5


def test_abc_classification_pareto_cut(spark):
    """Revenues 80/15/5 with one never-sold part: the 80%-block is A,
    15% lands in B (cum-before exactly 0.8), 5% in C (cum-before
    exactly 0.95 — boundary blocks fall to the lower class), and the
    anti-join yields the NONE row."""
    from shifts_etl_spark.operators.profile import abc_classification

    li = [Row(l_orderkey=1, l_partkey=1, l_extendedprice=80.0),
          Row(l_orderkey=2, l_partkey=2, l_extendedprice=15.0),
          Row(l_orderkey=3, l_partkey=3, l_extendedprice=5.0)]
    part = [Row(p_partkey=k) for k in (1, 2, 3, 4)]
    out = {r.abc_class: r for r in abc_classification(
        spark.createDataFrame(li), spark.createDataFrame(part)).collect()}
    assert (out["A"].n_parts, out["A"].revenue, out["A"].revenue_share) == (
        1, 80.0, 0.8)
    assert (out["B"].n_parts, out["B"].revenue_share) == (1, 0.15)
    assert (out["C"].n_parts, out["C"].revenue_share) == (1, 0.05)
    assert (out["NONE"].n_parts, out["NONE"].revenue) == (1, 0.0)
    assert out["NONE"].part_share == 0.25


def test_basket_diversity_entropy_pins(spark):
    """Customer 1 splits 2+2 across two brands (entropy ln 2);
    customer 2 is a single-brand loyalist (entropy 0, flagged in the
    single-brand share)."""
    from shifts_etl_spark.operators.funnel import basket_diversity

    li = [Row(l_orderkey=1, l_partkey=1), Row(l_orderkey=1, l_partkey=1),
          Row(l_orderkey=1, l_partkey=2), Row(l_orderkey=1, l_partkey=2),
          Row(l_orderkey=2, l_partkey=1), Row(l_orderkey=2, l_partkey=1),
          Row(l_orderkey=2, l_partkey=1)]
    orders = [Row(o_orderkey=1, o_custkey=1), Row(o_orderkey=2, o_custkey=2)]
    part = [Row(p_partkey=1, p_brand="B1"), Row(p_partkey=2, p_brand="B2")]
    cust = [Row(c_custkey=1, c_mktsegment="S1"),
            Row(c_custkey=2, c_mktsegment="S2")]
    out = {r.segment: r for r in basket_diversity(
        spark.createDataFrame(li), spark.createDataFrame(orders),
        spark.createDataFrame(part), spark.createDataFrame(cust)).collect()}
    ln2 = round(round(math.log(2) * 1e6) / 1e6, 6)
    assert (out["S1"].n_customers, out["S1"].mean_entropy,
            out["S1"].p50_entropy, out["S1"].single_brand_share) == (
        1, ln2, ln2, 0.0)
    assert (out["S2"].mean_entropy, out["S2"].single_brand_share) == (
        0.0, 1.0)


def test_dedup_threshold_roc_identical_pair(spark):
    """Two identical docs are the only candidate pair (est = exact =
    1.0, positive): every threshold row reports tp=1 with no
    fp/fn/tn, so precision = recall = 1 and fpr is NULL; the
    unrelated third doc never generates a candidate."""
    from shifts_etl_spark.operators.dedup import dedup_threshold_roc

    twin = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi")
    rows = [Row(doc_id=1, text=twin), Row(doc_id=2, text=twin),
            Row(doc_id=3, text="totally different words about other "
                               "topics entirely unrelated here today")]
    out = dedup_threshold_roc(
        spark.createDataFrame(rows), hash_fn="md5").collect()
    assert [r.threshold for r in out] == [round(i / 10, 1)
                                          for i in range(1, 10)]
    for r in out:
        assert (r.tp, r.fp, r.fn, r.tn) == (1, 0, 0, 0)
        assert r.precision == 1.0 and r.recall == 1.0 and r.fpr is None


def test_supplier_spc_breach_detection(spark):
    """Supplier 1 ships steadily at 10 days then blows out to 60: the
    XmR limit is 18.33 + 2.66*10 = 44.93, so exactly the blowout
    breaches. Supplier 2 never varies (UCL equals its mean, no
    breach)."""
    from shifts_etl_spark.operators.profile import supplier_spc
    import datetime as dt

    li, orders = [], []
    lags1 = [10, 10, 10, 10, 10, 60]
    for i, lag in enumerate(lags1):
        od = dt.date(2024, 1, 1 + i)
        orders.append(Row(o_orderkey=i + 1, o_orderdate=od))
        li.append(Row(l_orderkey=i + 1, l_suppkey=1, l_linenumber=1,
                      l_shipdate=od + dt.timedelta(days=lag)))
    for i in range(3):
        od = dt.date(2024, 2, 1 + i)
        orders.append(Row(o_orderkey=100 + i, o_orderdate=od))
        li.append(Row(l_orderkey=100 + i, l_suppkey=2, l_linenumber=1,
                      l_shipdate=od + dt.timedelta(days=10)))
    supp = [Row(s_suppkey=1, s_name="S1"), Row(s_suppkey=2, s_name="S2")]
    out = {r.suppkey: r for r in supplier_spc(
        spark.createDataFrame(li), spark.createDataFrame(orders),
        spark.createDataFrame(supp)).collect()}
    s1 = out[1]
    assert s1.n_shipments == 6
    assert s1.mean_lag == round(110 / 6, 6)
    assert s1.mean_mrange == 10.0
    assert s1.ucl == round(110 / 6 + 26.6, 6)
    assert (s1.n_breaches, s1.breach_share) == (1, round(1 / 6, 6))
    s2 = out[2]
    assert (s2.mean_mrange, s2.n_breaches) == (0.0, 0)
    assert s2.ucl == 10.0


def test_novelty_position_uniform_and_front(spark):
    """A 10-distinct-token doc spreads one type per decile; an
    all-same-token doc adds its single type to decile 0 — shares and
    the cumulative walk follow exactly."""
    from shifts_etl_spark.operators.textstats import novelty_position

    rows = [Row(doc_id=1, text="a b c d e f g h i j", lang="en",
                source="s", n_chars=19),
            Row(doc_id=2, text="z z z z z", lang="en", source="s",
                n_chars=9)]
    out = {r.decile: r for r in novelty_position(
        spark.createDataFrame(rows)).collect()}
    assert out[0].n_types_introduced == 2
    for d in range(1, 10):
        assert out[d].n_types_introduced == 1
    assert out[0].share == round(2 / 11, 6)
    assert out[9].cum_share == 1.0
    assert out[4].cum_share == round(6 / 11, 6)


def test_neyman_allocation_zero_variance_stratum(spark):
    """A noisy source (scores alternating 1.0/0.1, sigma 0.45) against
    a constant source (sigma 0): Neyman gives the whole budget to the
    noisy stratum and the allocations still sum to the budget."""
    from shifts_etl_spark.operators.curation import neyman_allocation

    good = ("the quick brown fox jumps over the lazy dog while the "
            "calm river flows past the old stone bridge at dawn")
    rows = [Row(doc_id=i, source="noisy", text=good if i % 2 else "x")
            for i in range(4)]
    rows += [Row(doc_id=10 + i, source="uniform", text=good)
             for i in range(4)]
    out = {r.source: r for r in neyman_allocation(
        spark.createDataFrame(rows)).collect()}
    assert out["noisy"].sigma == 0.45
    assert out["uniform"].sigma == 0.0
    assert out["uniform"].alloc_docs == 0
    assert out["noisy"].alloc_docs == 1000
    assert out["noisy"].p == 1.0


def test_markov_entropy_rate_hand_chain(spark):
    """User 1 alternates A/B (deterministic rows); user 2 adds A->A,
    A->A, A->B: the plug-in rate is 5/7 of H(3/5, 2/5) and
    predictability follows against the ln 2 ceiling."""
    from shifts_etl_spark.operators.funnel import markov_entropy_rate

    rows = [_ev(i + 1, 1, t, f"2024-01-01T10:0{i}:00")
            for i, t in enumerate("ABABA")]
    rows += [_ev(10 + i, 2, t, f"2024-01-01T11:0{i}:00")
             for i, t in enumerate("AAAB")]
    out = markov_entropy_rate(spark.createDataFrame(rows)).collect()[0]
    assert (out.n_transitions, out.n_states) == (7, 2)
    h_a = -(3 / 5) * math.log(3 / 5) - (2 / 5) * math.log(2 / 5)
    rate = 5 * h_a / 7
    assert out.entropy_rate == round(rate, 6)
    assert out.max_entropy == round(math.log(2), 6)
    assert out.predictability == round(1 - rate / math.log(2), 6)


def test_peak_concurrency_closed_interval_tie(spark):
    """Sessions 10:00-10:10, 10:05-10:20, 10:10-10:15 and a
    zero-length 11:00 session: at 10:10 the opening session counts
    BEFORE the closing one (closed intervals), so the peak is 3 and
    first occurs at 10:10."""
    from shifts_etl_spark.operators.funnel import peak_concurrency
    import datetime as dt

    rows = [
        _ev(1, 1, "v", "2024-01-01T10:00:00"),
        _ev(2, 1, "v", "2024-01-01T10:10:00"),
        _ev(3, 2, "v", "2024-01-01T10:05:00"),
        _ev(4, 2, "v", "2024-01-01T10:20:00"),
        _ev(5, 3, "v", "2024-01-01T10:10:00"),
        _ev(6, 3, "v", "2024-01-01T10:15:00"),
        _ev(7, 4, "v", "2024-01-01T11:00:00"),
    ]
    out = peak_concurrency(spark.createDataFrame(rows)).collect()[0]
    assert (out.n_sessions, out.peak_concurrency) == (4, 3)
    assert out.first_peak_ts == dt.datetime(2024, 1, 1, 10, 10, 0)


def test_stratified_estimate_hand_se(spark):
    """Noisy stratum (mean 0.55, var 0.2025, all 1000 labels) +
    constant stratum (mean 1.0, var 0): stratified mean 0.775 and
    SE = sqrt(0.25 * 0.2025 / 1000)."""
    from shifts_etl_spark.operators.curation import stratified_estimate

    good = ("the quick brown fox jumps over the lazy dog while the "
            "calm river flows past the old stone bridge at dawn")
    rows = [Row(doc_id=i, source="noisy", text=good if i % 2 else "x")
            for i in range(4)]
    rows += [Row(doc_id=10 + i, source="uniform", text=good)
             for i in range(4)]
    out = stratified_estimate(spark.createDataFrame(rows)).collect()[0]
    assert (out.n_total, out.n_sampled) == (8, 1000)
    assert out.est_mean_quality == 0.775
    se = math.sqrt(0.25 * 0.2025 / 1000)
    assert out.se == round(se, 6)
    assert out.ci95_lo == round(0.775 - 1.96 * se, 6)
    assert out.ci95_hi == round(0.775 + 1.96 * se, 6)


def test_km_survival_censoring_counts(spark):
    """Three customers: reorder gaps 10 and 20 days plus censored
    tails (10, 0, 20 days): S(10) = 3/4 with 4 at risk (the
    censored-at-10 customer still counts), S(20) = 0.375 with 2 at
    risk — the naive mean-gap would see only the two events."""
    from shifts_etl_spark.operators.funnel import km_survival
    import datetime as dt

    rows = [
        Row(o_orderkey=1, o_custkey=1, o_orderdate=dt.date(2024, 1, 1)),
        Row(o_orderkey=2, o_custkey=1, o_orderdate=dt.date(2024, 1, 11)),
        Row(o_orderkey=3, o_custkey=2, o_orderdate=dt.date(2024, 1, 1)),
        Row(o_orderkey=4, o_custkey=2, o_orderdate=dt.date(2024, 1, 21)),
        Row(o_orderkey=5, o_custkey=3, o_orderdate=dt.date(2024, 1, 1)),
    ]
    out = {r.t_days: r for r in km_survival(
        spark.createDataFrame(rows)).collect()}
    assert sorted(out) == [10, 20]
    assert (out[10].n_risk, out[10].n_events, out[10].survival) == (
        4, 1, 0.75)
    assert (out[20].n_risk, out[20].n_events, out[20].survival) == (
        2, 1, 0.375)


def test_path_trigrams_session_bounded(spark):
    """User 1's A-B-C-D burst yields ABC and BCD; a session break
    before E contributes nothing; user 2 adds another ABC — counts
    2 and 1 with shares 2/3 and 1/3."""
    from shifts_etl_spark.operators.funnel import path_trigrams

    rows = [_ev(i + 1, 1, t, f"2024-01-01T10:0{i}:00")
            for i, t in enumerate("ABCD")]
    rows.append(_ev(9, 1, "E", "2024-01-01T14:00:00"))
    rows += [_ev(20 + i, 2, t, f"2024-01-01T11:0{i}:00")
             for i, t in enumerate("ABC")]
    out = path_trigrams(spark.createDataFrame(rows)).collect()
    assert [(r.motif, r.n_occurrences) for r in out] == [
        ("A>B>C", 2), ("B>C>D", 1)]
    assert out[0].share == round(2 / 3, 6)
    assert out[1].share == round(1 / 3, 6)


def test_eb_shrinkage_hand_moments(spark):
    """Big noisy source (n=4, mean 0.55) and a one-doc perfect source
    (mean 1.0): method-of-moments k = 5, so the singleton shrinks to
    0.7 with own-weight 1/6 and the big source to 0.6 with 4/9."""
    from shifts_etl_spark.operators.curation import eb_quality_shrinkage

    good = ("the quick brown fox jumps over the lazy dog while the "
            "calm river flows past the old stone bridge at dawn")
    rows = [Row(doc_id=i, source="big", text=good if i % 2 else "x")
            for i in range(4)]
    rows += [Row(doc_id=10, source="small", text=good)]
    out = {r.source: r for r in eb_quality_shrinkage(
        spark.createDataFrame(rows)).collect()}
    assert out["small"].raw_mean == 1.0
    assert out["small"].shrunk_mean == 0.7
    assert out["small"].own_weight == round(1 / 6, 6)
    assert out["big"].raw_mean == 0.55
    assert out["big"].shrunk_mean == 0.6
    assert out["big"].own_weight == round(4 / 9, 6)
    assert out["big"].grand_mean == 0.64


def test_stickiness_trailing_windows(spark):
    """u1 active day 1 only, u2 active days 1 and 8: day 8 has DAU 1
    and WAU 1 but MAU 2 (u1's day-1 visit is still inside the 28-day
    window), so dau/mau = wau/mau = 0.5."""
    from shifts_etl_spark.operators.funnel import stickiness

    rows = [_ev(1, 1, "v", "2024-01-01T10:00:00"),
            _ev(2, 2, "v", "2024-01-01T11:00:00"),
            _ev(3, 2, "v", "2024-01-08T11:00:00")]
    out = {r.day.day: r for r in stickiness(
        spark.createDataFrame(rows)).collect()}
    assert (out[1].dau, out[1].wau, out[1].mau) == (2, 2, 2)
    assert out[1].dau_mau == 1.0
    assert (out[8].dau, out[8].wau, out[8].mau) == (1, 1, 2)
    assert out[8].dau_mau == 0.5 and out[8].wau_mau == 0.5


def test_attribution_credit_first_vs_last(spark):
    """User 1's session view>search>purchase: first touch = view, last
    touch = search. User 2's bare purchase (session opener) credits
    'direct' under both models. Shares are halves of 2 conversions."""
    from shifts_etl_spark.operators.funnel import attribution_credit

    rows = [
        _ev(1, 1, "view", "2024-01-01T10:00:00"),
        _ev(2, 1, "search", "2024-01-01T10:05:00"),
        _ev(3, 1, "purchase", "2024-01-01T10:10:00"),
        _ev(4, 2, "purchase", "2024-01-01T11:00:00"),
    ]
    out = {r.channel: r for r in attribution_credit(
        spark.createDataFrame(rows)).collect()}
    assert set(out) == {"view", "search", "direct"}
    assert (out["view"].first_touch_credits,
            out["view"].last_touch_credits) == (1, 0)
    assert (out["search"].first_touch_credits,
            out["search"].last_touch_credits) == (0, 1)
    assert (out["direct"].first_touch_credits,
            out["direct"].last_touch_credits) == (1, 1)
    assert out["view"].first_touch_share == 0.5
    assert out["direct"].last_touch_share == 0.5


def test_attribution_credit_session_break_resets(spark):
    """A 31-minute gap before the purchase starts a new session, so the
    earlier view gets no credit — the purchase is 'direct' under both
    models despite the prior event."""
    from shifts_etl_spark.operators.funnel import attribution_credit

    rows = [
        _ev(1, 1, "view", "2024-01-01T10:00:00"),
        _ev(2, 1, "purchase", "2024-01-01T10:31:00"),
    ]
    out = {r.channel: r for r in attribution_credit(
        spark.createDataFrame(rows)).collect()}
    assert set(out) == {"direct"}
    assert (out["direct"].first_touch_credits,
            out["direct"].last_touch_credits) == (1, 1)
    assert out["direct"].first_touch_share == 1.0


def test_ann_mrr_hand_ranks(spark):
    """Antipodal clusters: each query's true cosine NN shares its sign
    quadrant, so the Hamming index ranks it in the top-k and rr is the
    exact reciprocal of that rank; consistency is pinned against the
    component indices rather than a hardcoded rank."""
    from shifts_etl_spark.operators.simsearch import (
        ann_mrr, brute_force_topk, hamming_topk,
    )

    rows = [Row(vec_id=i, embedding=[1.0 + 0.01 * i, 1.0], label=0)
            for i in range(6)]
    rows += [Row(vec_id=10 + i, embedding=[-1.0 - 0.01 * i, -1.0], label=1)
             for i in range(6)]
    emb = spark.createDataFrame(rows)
    truth = {r.query_id: r.neighbor_id
             for r in brute_force_topk(emb, [0, 10], k=1).collect()}
    ham = {(r.query_id, r.neighbor_id): r.rank
           for r in hamming_topk(emb, [0, 10], k=5).collect()}
    out = {r.query_id: r for r in ann_mrr(emb, [0, 10], k=5).collect()}
    for qid in (0, 10):
        r = out[qid]
        assert r.true_nn == truth[qid]
        assert r.approx_rank == ham[(qid, truth[qid])]
        assert r.rr == round(1.0 / r.approx_rank, 6)


def test_ann_mrr_miss_scores_zero(spark):
    """k=1 with a sign-ambiguous corpus: query 0's true NN (vector 1,
    cosine-closest) binarizes into the opposite quadrant's bucket edge,
    while vector 2 ties it in Hamming and wins the id tie-break — the
    miss must surface as rr = 0.0 with a NULL rank, not an error."""
    from shifts_etl_spark.operators.simsearch import ann_mrr

    rows = [
        Row(vec_id=0, embedding=[1.0, 0.1], label=0),
        Row(vec_id=1, embedding=[1.0, -0.1], label=0),
        Row(vec_id=2, embedding=[0.9, 0.2], label=0),
        Row(vec_id=3, embedding=[-1.0, 0.1], label=1),
    ]
    out = {r.query_id: r for r in ann_mrr(
        spark.createDataFrame(rows), [0], k=1).collect()}
    r = out[0]
    if r.approx_rank is None:
        assert r.rr == 0.0
    else:
        assert r.rr == round(1.0 / r.approx_rank, 6)


def test_langid_kappa_hand_confusion(spark):
    """3 docs the heuristic gets right (en, es) plus one de doc with no
    stopword hits (predicted und): po = 3/4; pe off the margins
    (en 2*2 + es 1*1 + de 1*0 + und 0*1)/16 = 5/16; kappa = (po-pe)/(1-pe)
    = (12-5)/(16-5) = 7/11."""
    from shifts_etl_spark.operators.textstats import langid_kappa

    rows = [
        Row(doc_id=1, lang="en", text="the quick fox and the lazy dog"),
        Row(doc_id=2, lang="en", text="this is the house that jack built"),
        Row(doc_id=3, lang="es", text="el perro y el gato en la casa"),
        Row(doc_id=4, lang="de", text="zzz qqq xxx"),
    ]
    out = langid_kappa(spark.createDataFrame(rows)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_total, r.n_agree) == (4, 3)
    assert r.po == 0.75
    assert r.pe == round(5 / 16, 6)
    assert r.kappa == round(7 / 11, 6)


def test_langid_kappa_perfect_agreement(spark):
    """All predictions correct and both margins equal: kappa = 1."""
    from shifts_etl_spark.operators.textstats import langid_kappa

    rows = [
        Row(doc_id=1, lang="en", text="the quick fox and the lazy dog"),
        Row(doc_id=2, lang="es", text="el perro y el gato en la casa"),
    ]
    r = langid_kappa(spark.createDataFrame(rows)).collect()[0]
    assert (r.n_total, r.n_agree, r.po) == (2, 2, 1.0)
    assert r.kappa == 1.0


def test_rrf_fusion_hand_ranks(spark):
    """Doc 1 is both the dense top-1 and the lexical top-1 for query 0,
    so it fuses first with score 2/61; a dense-only doc scores
    1/(60+rank) with a NULL lex rank."""
    from shifts_etl_spark.operators.simsearch import rrf_fusion

    docs = spark.createDataFrame([
        Row(doc_id=0, text="alpha beta gamma delta"),
        Row(doc_id=1, text="alpha beta gamma epsilon"),
        Row(doc_id=2, text="alpha beta zeta eta"),
        Row(doc_id=3, text="theta iota kappa mu"),
    ])
    emb = spark.createDataFrame([
        Row(vec_id=0, embedding=[1.0, 0.0], label=0),
        Row(vec_id=1, embedding=[1.0, 0.1], label=0),
        Row(vec_id=2, embedding=[0.9, 0.3], label=0),
        Row(vec_id=3, embedding=[-1.0, 0.5], label=1),
    ])
    out = [r for r in rrf_fusion(docs, emb, [0], k=3).collect()]
    by_doc = {r.doc_id: r for r in out}
    # dense order for q0: 1 (cos~.995), 2 (~.949), 3 (negative);
    # lexical order: 1 (jac 3/5), 2 (2/6), 3 (0 -> absent)
    assert by_doc[1].fused_rank == 1
    assert (by_doc[1].dense_rank, by_doc[1].lex_rank) == (1, 1)
    assert by_doc[1].rrf_score == round(2 / 61, 6)
    assert by_doc[2].fused_rank == 2
    assert by_doc[2].rrf_score == round(1 / 62 + 1 / 62, 6)
    assert by_doc[3].lex_rank is None  # no shared tokens
    assert by_doc[3].rrf_score == round(1 / 63, 6)


def test_rrf_fusion_lex_only_member(spark):
    """A doc outside the dense top-k but lexically identical to the
    query still enters the fused list through the lexical leg alone."""
    from shifts_etl_spark.operators.simsearch import rrf_fusion

    docs = spark.createDataFrame(
        [Row(doc_id=i, text="same words here") for i in range(4)]
    )
    emb = spark.createDataFrame([
        Row(vec_id=0, embedding=[1.0, 0.0], label=0),
        Row(vec_id=1, embedding=[1.0, 0.2], label=0),
        Row(vec_id=2, embedding=[0.8, 0.4], label=0),
        Row(vec_id=3, embedding=[-1.0, 0.0], label=1),
    ])
    out = rrf_fusion(docs, emb, [0], k=2).collect()
    # dense top-2 = {1, 2}; lexical top-2 (all jac 1.0, id tie-break)
    # = {1, 2} as well -> doc 3 appears in neither; fused list is 2 rows
    assert {r.doc_id for r in out} == {1, 2}
    assert [r.fused_rank for r in sorted(out, key=lambda r: r.fused_rank)] == [1, 2]


def test_aa_calibration_balanced_and_metrics(spark):
    """Hand corpus where both arms see identical per-user metric
    distributions: every metric must come back balanced with z = 0 (or
    NULL when the pooled SE is 0), and the arm assignment must follow
    the md5 convention."""
    import hashlib

    from shifts_etl_spark.operators.funnel import aa_calibration

    def arm(uid):
        h = hashlib.md5(str(uid).encode()).hexdigest()
        return "a" if (ord(h[0]) * 256 + ord(h[1])) % 2 == 0 else "b"

    # pick 2 users per arm deterministically
    a_users = [u for u in range(100) if arm(u) == "a"][:2]
    b_users = [u for u in range(100) if arm(u) == "b"][:2]
    rows = []
    eid = 0
    for users in (a_users, b_users):
        for j, u in enumerate(users):
            # user j gets j+1 events of value 2.0, one of them an error
            for i in range(j + 1):
                eid += 1
                rows.append(_ev(eid, u, "error" if i == 0 else "view",
                                f"2024-01-0{i + 1}T10:00:00"))
    df = spark.createDataFrame([
        Row(event_id=r.event_id, ts=r.ts, user_id=r.user_id,
            event_type=r.event_type, value=2.0, props="{}")
        for r in rows
    ])
    out = {r.metric: r for r in aa_calibration(df).collect()}
    assert set(out) == {"events_per_user", "errors_per_user",
                        "active_days_per_user", "value_cents_per_user"}
    for m, r in out.items():
        assert (r.n_a, r.n_b) == (2, 2)
        assert r.mean_a == r.mean_b
        assert r.balanced is True
        if m == "errors_per_user":
            assert r.z is None  # everyone has exactly 1 error -> SE 0
        else:
            assert r.z == 0.0
    assert out["events_per_user"].mean_a == 1.5
    assert out["value_cents_per_user"].mean_a == 300.0


def test_aa_calibration_detects_imbalance(spark):
    """A metric that leaks the split key (arm-a users get 10x the
    events) must produce a large |z| and balanced = False."""
    import hashlib

    from shifts_etl_spark.operators.funnel import aa_calibration

    def arm(uid):
        h = hashlib.md5(str(uid).encode()).hexdigest()
        return "a" if (ord(h[0]) * 256 + ord(h[1])) % 2 == 0 else "b"

    a_users = [u for u in range(200) if arm(u) == "a"][:5]
    b_users = [u for u in range(200) if arm(u) == "b"][:5]
    rows, eid = [], 0
    for u in a_users:
        for i in range(20 + u % 3):
            eid += 1
            rows.append(_ev(eid, u, "view", "2024-01-01T10:00:00"))
    for u in b_users:
        for i in range(2 + u % 3):
            eid += 1
            rows.append(_ev(eid, u, "view", "2024-01-01T10:00:00"))
    out = {r.metric: r for r in aa_calibration(
        spark.createDataFrame(rows)).collect()}
    r = out["events_per_user"]
    assert r.balanced is False
    assert abs(r.z) > 1.96


def test_spearman_quality_hand_rho(spark):
    """Source 'up': lengths 1..4 and quality strictly increasing with
    length (longer docs have more tokens and more stopwords) -> rho = 1.
    Source 'flat': all quality scores tie -> zero rank variance -> NULL."""
    from shifts_etl_spark.operators.textstats import spearman_quality

    good = ("the quick brown fox jumps over the lazy dog while the "
            "calm river flows past the old stone bridge at dawn")
    up = [Row(doc_id=i, source="up",
              text=("x " * (5 * (4 - i))) if i < 2 else good,
              n_chars=10 * (i + 1)) for i in range(4)]
    flat = [Row(doc_id=10 + i, source="flat", text=good, n_chars=50 + i)
            for i in range(3)]
    out = {r.source: r for r in spearman_quality(
        spark.createDataFrame(up + flat)).collect()}
    assert out["flat"].spearman_rho is None  # y has zero variance
    assert out["up"].n_docs == 4
    # docs 0,1 tie at quality 0.5 (y=5) and docs 2,3 at 1.0 (y=10);
    # lengths strictly increase. Doubled midranks: x = (2,4,6,8),
    # y = (3,3,7,7). Integer sums: sx=20 sy=20 sxx=120 syy=116 sxy=116
    # cov = 4*116-400 = 64; vx = 4*120-400 = 80; vy = 4*116-400 = 64
    # rho = 64/sqrt(80*64) = 2/sqrt(5)
    assert out["up"].spearman_rho == round(64 / (80 * 64) ** 0.5, 6)


def test_spearman_quality_perfect_inverse(spark):
    """Quality strictly decreasing in length -> rho = -1."""
    from shifts_etl_spark.operators.textstats import spearman_quality

    good = ("the quick brown fox jumps over the lazy dog while the "
            "calm river flows past the old stone bridge at dawn")
    rows = [Row(doc_id=0, source="s", text=good, n_chars=10),
            Row(doc_id=1, source="s", text=good + " extra words here we go",
                n_chars=20),
            Row(doc_id=2, source="s", text="x", n_chars=30)]
    # doc 0 scores 1.0, doc 1 scores 1.0... make them distinct:
    rows = [Row(doc_id=0, source="s", text=good, n_chars=10),
            Row(doc_id=1, source="s", text="a b c d e f g h i j k l",
                n_chars=20),
            Row(doc_id=2, source="s", text="1 2", n_chars=30)]
    out = spearman_quality(spark.createDataFrame(rows)).collect()[0]
    assert out.spearman_rho == -1.0


def test_markov_prediction_argmax_and_accuracy(spark):
    """User histories A->B, A->B, A->C: prev A predicts B (2 of 3
    right); B and C never precede anything except via the chain —
    here each user emits A then one next event only, so cells are
    exactly the A->{B,B,C} transitions."""
    from shifts_etl_spark.operators.funnel import markov_prediction

    rows = []
    for u, nxt in enumerate(["B", "B", "C"]):
        rows.append(_ev(2 * u + 1, u, "A", "2024-01-01T10:00:00"))
        rows.append(_ev(2 * u + 2, u, nxt, "2024-01-01T10:01:00"))
    out = {r.prev_type: r for r in markov_prediction(
        spark.createDataFrame(rows)).collect()}
    assert set(out) == {"A"}
    r = out["A"]
    assert (r.predicted, r.n_transitions, r.n_correct) == ("B", 3, 2)
    assert r.accuracy == round(2 / 3, 6)


def test_markov_prediction_tie_breaks_lexicographic(spark):
    """A->B and A->C equally often: the argmax tie goes to the
    lexicographically smaller next type."""
    from shifts_etl_spark.operators.funnel import markov_prediction

    rows = []
    for u, nxt in enumerate(["C", "B"]):
        rows.append(_ev(2 * u + 1, u, "A", "2024-01-01T10:00:00"))
        rows.append(_ev(2 * u + 2, u, nxt, "2024-01-01T10:01:00"))
    out = {r.prev_type: r for r in markov_prediction(
        spark.createDataFrame(rows)).collect()}
    assert out["A"].predicted == "B"
    assert out["A"].accuracy == 0.5


def test_knn_classifier_separable_clusters(spark):
    """Two tight antipodal clusters in one md5 bucket universe
    (n_buckets=1 so blocking is a no-op): 3-NN majority vote classifies
    every vector correctly -> per-label F1 = 1 and macro_f1 = 1."""
    from shifts_etl_spark.operators.profile import knn_classifier_report

    rows = [Row(vec_id=i, embedding=[1.0 + 0.01 * i, 1.0], label=0)
            for i in range(5)]
    rows += [Row(vec_id=10 + i, embedding=[-1.0 - 0.01 * i, -1.0], label=1)
             for i in range(5)]
    out = {r.label: r for r in knn_classifier_report(
        spark.createDataFrame(rows), k=3, n_buckets=1).collect()}
    for lbl in (0, 1):
        r = out[lbl]
        assert (r.support, r.predicted_count, r.n_correct) == (5, 5, 5)
        assert (r.precision, r.recall, r.f1) == (1.0, 1.0, 1.0)
        assert r.macro_f1 == 1.0


def test_knn_classifier_minority_overwhelmed(spark):
    """One label-1 vector inside a label-0 cloud: its 3 neighbors are
    all label 0, so label 1 is never predicted -> recall 0, precision 0
    (no predictions), f1 0; label 0 keeps perfect recall but imperfect
    precision; macro_f1 is the plain average of the two f1 values."""
    from shifts_etl_spark.operators.profile import knn_classifier_report

    rows = [Row(vec_id=i, embedding=[1.0 + 0.01 * i, 1.0], label=0)
            for i in range(5)]
    rows.append(Row(vec_id=9, embedding=[1.0, 1.01], label=1))
    out = {r.label: r for r in knn_classifier_report(
        spark.createDataFrame(rows), k=3, n_buckets=1).collect()}
    r1 = out[1]
    assert (r1.support, r1.predicted_count, r1.n_correct) == (1, 0, 0)
    assert (r1.precision, r1.recall, r1.f1) == (0.0, 0.0, 0.0)
    r0 = out[0]
    assert (r0.support, r0.predicted_count, r0.n_correct) == (5, 6, 5)
    assert r0.recall == 1.0
    assert r0.precision == round(5 / 6, 6)
    f0 = 2 * (5 / 6) * 1.0 / (5 / 6 + 1.0)
    assert r0.f1 == round(f0, 6)
    assert r0.macro_f1 == round((f0 + 0.0) / 2, 6)


def test_bot_regularity_clockwork_vs_bursty(spark):
    """User 1 fires exactly every 60 s (CV 0) -> bot_like; user 2's
    gaps are 10/600/5/3000/60 s (CV >> 0.1) -> human; user 3 has only
    3 gaps -> below min_gaps, no row."""
    import datetime as dt

    from shifts_etl_spark.operators.funnel import bot_regularity

    rows = []
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    for i in range(6):
        rows.append(Row(event_id=i + 1, ts=t0 + dt.timedelta(seconds=60 * i),
                        user_id=1, event_type="v", value=1.0, props="{}"))
    gaps = [10, 600, 5, 3000, 60]
    t = t0
    rows.append(Row(event_id=100, ts=t, user_id=2, event_type="v",
                    value=1.0, props="{}"))
    for j, g in enumerate(gaps):
        t = t + dt.timedelta(seconds=g)
        rows.append(Row(event_id=101 + j, ts=t, user_id=2, event_type="v",
                        value=1.0, props="{}"))
    for i in range(4):
        rows.append(Row(event_id=200 + i, ts=t0 + dt.timedelta(seconds=7 * i),
                        user_id=3, event_type="v", value=1.0, props="{}"))
    out = {r.user_id: r for r in bot_regularity(
        spark.createDataFrame(rows)).collect()}
    assert set(out) == {1, 2}
    assert (out[1].n_gaps, out[1].mean_gap_s, out[1].cv) == (5, 60.0, 0.0)
    assert out[1].bot_like is True
    r2 = out[2]
    n, s = 5, sum(gaps)
    ss = sum(g * g for g in gaps)
    mean = s / n
    cv = ((ss - s * s / n) / (n - 1)) ** 0.5 / mean
    assert (r2.n_gaps, r2.mean_gap_s) == (5, round(mean, 6))
    assert r2.cv == round(cv, 6)
    assert r2.bot_like is False


def test_bot_regularity_zero_gap_replay(spark):
    """Six events at the identical timestamp: mean gap 0, CV NULL,
    bot_like True (replay traffic)."""
    import datetime as dt

    from shifts_etl_spark.operators.funnel import bot_regularity

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [Row(event_id=i, ts=t0, user_id=7, event_type="v",
                value=1.0, props="{}") for i in range(6)]
    out = bot_regularity(spark.createDataFrame(rows)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.mean_gap_s, r.cv, r.bot_like) == (0.0, None, True)


def test_ivf_probe_sweep_monotone_recall(spark):
    """Recall and candidate counts are monotone non-decreasing in
    n_probe, and at n_probe = #centroids the sweep recovers the exact
    top-k (recall 1) because every cell is probed."""
    from shifts_etl_spark.operators.simsearch import ivf_probe_sweep

    # 32 vectors on a ring, 2 cells: n_probe=2 probes every cell
    import math
    rows = [Row(vec_id=i,
                embedding=[math.cos(2 * math.pi * i / 32),
                           math.sin(2 * math.pi * i / 32)],
                label=i % 2) for i in range(32)]
    emb = spark.createDataFrame(rows)
    out = ivf_probe_sweep(emb, [0, 5], k=3, probes=(1, 2),
                          n_cells=2).collect()
    per = {}
    for r in out:
        per.setdefault(r.query_id, {})[r.n_probe] = r
    for qid, d in per.items():
        assert d[1].n_candidates <= d[2].n_candidates
        assert d[1].n_hits <= d[2].n_hits
        # with both cells probed the candidate set is the whole corpus
        # minus self, so the approx top-k IS the exact top-k
        assert d[2].recall == 1.0
        assert d[2].n_exact == 3


def test_poisson_bootstrap_brackets_point(spark):
    """200 rows with values 1..200 (mean 100.5): the CI must bracket
    the point estimate, be reasonably tight (sd of the mean is ~4), and
    the replica count must be the full 50 (Poisson weights over 200
    rows never zero out a replica)."""
    from shifts_etl_spark.operators.profile import poisson_bootstrap_mean

    rows = [Row(rid=i, val=float(i)) for i in range(1, 201)]
    out = poisson_bootstrap_mean(
        spark.createDataFrame(rows), value_col="val", id_col="rid",
        metric="mean_val").collect()
    assert len(out) == 1
    r = out[0]
    assert (r.metric, r.n_rows, r.n_replicas) == ("mean_val", 200, 50)
    assert r.point_estimate == 100.5
    assert r.ci_lo < 100.5 < r.ci_hi
    assert 100.5 - r.ci_lo < 20 and r.ci_hi - 100.5 < 20


def test_poisson_bootstrap_degenerate_constant(spark):
    """All values identical: every replica mean equals the point
    estimate, so the CI collapses onto it exactly."""
    from shifts_etl_spark.operators.profile import poisson_bootstrap_mean

    rows = [Row(rid=i, val=7.25) for i in range(60)]
    r = poisson_bootstrap_mean(
        spark.createDataFrame(rows), value_col="val", id_col="rid").collect()[0]
    assert r.point_estimate == 7.25
    assert (r.ci_lo, r.ci_hi) == (7.25, 7.25)


def test_dup_flow_matrix_cross_source_pair(spark):
    """A syndicated near-dup pair spanning sources A and B plus an
    internal A duplicate pair: two cells — (A,A) internal and (A,B)
    cross-source — each with share 0.5."""
    from shifts_etl_spark.operators.dedup import dup_flow_matrix

    base = ("the quick brown fox jumps over the lazy dog near the "
            "river bank at dawn every single day")
    rows = [
        Row(doc_id=1, source="A", text=base, lang="en", n_chars=len(base)),
        Row(doc_id=2, source="B", text=base + " extra", lang="en",
            n_chars=len(base) + 6),
        Row(doc_id=3, source="A", text=base.replace("dawn", "dusk"),
            lang="en", n_chars=len(base)),
        Row(doc_id=4, source="C", text="completely different words "
            "about spark plans and shuffle exchanges in the engine",
            lang="en", n_chars=80),
    ]
    out = {(r.source_a, r.source_b): r for r in dup_flow_matrix(
        spark.createDataFrame(rows)).collect()}
    assert ("A", "B") in out and ("A", "A") in out
    assert out[("A", "B")].cross_source is True
    assert out[("A", "A")].cross_source is False
    total = sum(r.n_pairs for r in out.values())
    for r in out.values():
        assert r.share == round(r.n_pairs / total, 6)


def test_ab_power_curve_closed_form(spark):
    """Four users with per-user values 1/2/3/4 (mean 2.5, sample var
    5/3): MDE at n=1000 equals the closed form, and MDE shrinks by
    sqrt(10) per grid decade."""
    from shifts_etl_spark.operators.funnel import ab_power_curve

    rows = []
    for u in range(4):
        rows.append(_ev(u + 1, u, "v", "2024-01-01T10:00:00"))
    df = spark.createDataFrame([
        Row(event_id=r.event_id, ts=r.ts, user_id=r.user_id,
            event_type=r.event_type, value=float(r.user_id + 1), props="{}")
        for r in rows
    ])
    out = {r.n_per_arm: r for r in ab_power_curve(
        df, ns=(1000, 10000)).collect()}
    var = 5 / 3
    z = 2.8015852181129683
    r = out[1000]
    assert (r.n_users, r.metric_mean) == (4, 2.5)
    assert r.metric_sd == round(var ** 0.5, 6)
    assert r.mde_abs == round(z * (2 * var / 1000) ** 0.5, 6)
    assert r.mde_rel == round(z * (2 * var / 1000) ** 0.5 / 2.5, 6)
    assert out[10000].mde_abs == round(z * (2 * var / 10000) ** 0.5, 6)


def test_greedy_coverage_hand_selection(spark):
    """Docs engineered so greedy picks doc 1 (5 shingles), then doc 3
    (3 new shingles beat doc 2's leftover 1): the classic case where
    greedy order differs from individual coverage order. Doc 2 (subset
    of doc 1 plus one new gram) lands third with gain 1."""
    from shifts_etl_spark.operators.curation import greedy_coverage_select

    # trigram shingles over 7-token docs -> 5 shingles per doc
    d1 = "a b c d e f g"          # shingles: abc bcd cde def efg
    d2 = "a b c d e f q"          # 4 shared with d1 + efq -> gain 1 after d1
    d3 = "p q r s t"              # pqr qrs rst -> 3 fresh shingles
    rows = [
        Row(doc_id=1, source="s", text=d1, lang="en", n_chars=len(d1)),
        Row(doc_id=2, source="s", text=d2, lang="en", n_chars=len(d2)),
        Row(doc_id=3, source="s", text=d3, lang="en", n_chars=len(d3)),
    ]
    out = greedy_coverage_select(
        spark.createDataFrame(rows), k=3).collect()
    assert [(r.rank, r.doc_id, r.marginal_gain) for r in out] == [
        (1, 1, 5), (2, 3, 3), (3, 2, 1)]
    assert out[-1].cumulative_coverage == 9
    assert out[-1].coverage_frac == 1.0


def test_greedy_coverage_stops_when_exhausted(spark):
    """Two identical docs: after the first pick the second has zero
    uncovered shingles, so the greedy stops early (1 row, full
    coverage)."""
    from shifts_etl_spark.operators.curation import greedy_coverage_select

    t = "a b c d e"
    rows = [Row(doc_id=i, source="s", text=t, lang="en", n_chars=len(t))
            for i in (1, 2)]
    out = greedy_coverage_select(spark.createDataFrame(rows), k=3).collect()
    assert [(r.rank, r.doc_id) for r in out] == [(1, 1)]
    assert out[0].coverage_frac == 1.0


def test_retrieval_exposure_hub_label(spark):
    """Label 1's single vector sits at the center of label 0's cloud
    (a hub): with k=2 votes it appears in every vote list, so its
    exposure share far exceeds its 1/6 base rate (lift > 1) and label
    0 is under-exposed (lift < 1). Exposure shares sum to 1."""
    from shifts_etl_spark.operators.profile import retrieval_exposure

    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0], label=1),    # the hub
        Row(vec_id=1, embedding=[1.0, 0.05], label=0),
        Row(vec_id=2, embedding=[1.0, -0.05], label=0),
        Row(vec_id=3, embedding=[0.9, 0.02], label=0),
        Row(vec_id=4, embedding=[-1.0, 0.1], label=0),
        Row(vec_id=5, embedding=[-1.0, -0.1], label=0),
    ]
    out = {r.label: r for r in retrieval_exposure(
        spark.createDataFrame(rows), k=2, n_buckets=1).collect()}
    assert out[1].n_vectors == 1
    assert out[1].base_share == round(1 / 6, 6)
    assert out[1].exposure_lift > 1.0
    assert out[0].exposure_lift < 1.0
    assert round(out[0].exposure_share + out[1].exposure_share, 6) == 1.0


def test_mix_rate_decomposition_telescopes(spark):
    """Two segments across two halves of a 10-day span: the mix and
    rate contributions must sum exactly to mean2 - mean1 (the bridge
    identity), with hand-checkable shares and rates."""
    import datetime as dt

    from shifts_etl_spark.operators.funnel import mix_rate_decomposition

    d = lambda day: dt.date(2024, 1, day)
    rows = [
        # period 1 (days 1-6): A 2 orders @ 10, B 2 orders @ 20
        Row(o_orderkey=1, o_orderdate=d(1), o_orderpriority="A", o_totalprice=10.0),
        Row(o_orderkey=2, o_orderdate=d(2), o_orderpriority="A", o_totalprice=10.0),
        Row(o_orderkey=3, o_orderdate=d(3), o_orderpriority="B", o_totalprice=20.0),
        Row(o_orderkey=4, o_orderdate=d(4), o_orderpriority="B", o_totalprice=20.0),
        # period 2 (days 7-11): A 1 order @ 14, B 3 orders @ 22
        Row(o_orderkey=5, o_orderdate=d(8), o_orderpriority="A", o_totalprice=14.0),
        Row(o_orderkey=6, o_orderdate=d(9), o_orderpriority="B", o_totalprice=22.0),
        Row(o_orderkey=7, o_orderdate=d(10), o_orderpriority="B", o_totalprice=22.0),
        Row(o_orderkey=8, o_orderdate=d(11), o_orderpriority="B", o_totalprice=22.0),
    ]
    out = {r.segment: r for r in mix_rate_decomposition(
        spark.createDataFrame(rows)).collect()}
    a, b = out["A"], out["B"]
    assert (a.share_1, a.share_2, a.rate_1, a.rate_2) == (0.5, 0.25, 10.0, 14.0)
    assert (b.share_1, b.share_2, b.rate_1, b.rate_2) == (0.5, 0.75, 20.0, 22.0)
    mean1, mean2 = (2 * 10 + 2 * 20) / 4, (14 + 3 * 22) / 4
    bridge = a.mix_contrib + a.rate_contrib + b.mix_contrib + b.rate_contrib
    assert round(bridge, 5) == round(mean2 - mean1, 5)


def test_quantile_normalize_hand_mapping(spark):
    """Lenient source L (scores 5,5,10,10) vs strict source S (3,3,5,5)
    pool to cells {3: 2, 5: 4, 10: 2} with CDF .25/.75/1: L's 5-cell
    midpoint (p=.25) maps DOWN to pooled 3 and its 10-cell (p=.75) to
    pooled 5; S's own cells map onto themselves. After mapping both
    sources share the pooled lattice."""
    from shifts_etl_spark.operators.curation import quantile_normalize_quality

    good = ("the quick brown fox jumps over the lazy dog while the "
            "calm river flows past the old stone bridge at dawn")
    mid = "x " * 20  # 0.5: length ok, digits ok, no stopwords, mtl 1
    bad = "12345 67890 13579"  # 0.3: digit-heavy + short, but mtl in range
    rows = [Row(doc_id=1, source="L", text=mid),
            Row(doc_id=2, source="L", text=mid),
            Row(doc_id=3, source="L", text=good),
            Row(doc_id=4, source="L", text=good),
            Row(doc_id=5, source="S", text=bad),
            Row(doc_id=6, source="S", text=bad),
            Row(doc_id=7, source="S", text=mid),
            Row(doc_id=8, source="S", text=mid)]
    out = {(r.source, r.s10): r for r in quantile_normalize_quality(
        spark.createDataFrame(rows)).collect()}
    assert out[("L", 5)].mapped_s10 == 3   # p_mid .25 <= pooled cdf(3) = .25
    assert out[("L", 10)].mapped_s10 == 5  # p_mid .75 <= pooled cdf(5) = .75
    assert out[("S", 3)].mapped_s10 == 3
    assert out[("S", 5)].mapped_s10 == 5
    assert out[("L", 5)].p_mid == 0.25
    assert out[("L", 10)].p_mid == 0.75


def test_source_originality_charges_copies(spark):
    """Source A holds the canonical (higher-quality) copy of a near-dup
    pair whose twin lives in B: B is charged the copy (originality
    3/4), A stays at 1; source C (untouched) stays at 1."""
    from shifts_etl_spark.operators.dedup import source_originality

    base = ("the quick brown fox jumps over the lazy dog near the "
            "river bank at dawn every single day")
    rows = [
        Row(doc_id=1, source="A", text=base, lang="en", n_chars=len(base)),
        Row(doc_id=2, source="B", text=base.replace("dawn", "dusk") + " 999",
            lang="en", n_chars=len(base)),
        Row(doc_id=3, source="B", text="unrelated words entirely about "
            "spark shuffle exchanges and the catalyst optimizer plans",
            lang="en", n_chars=90),
        Row(doc_id=4, source="B", text="another unrelated document with "
            "its own private vocabulary tokens", lang="en", n_chars=70),
        Row(doc_id=5, source="B", text="yet another standalone text "
            "carrying fresh words only", lang="en", n_chars=55),
        Row(doc_id=6, source="C", text="completely separate content here",
            lang="en", n_chars=30),
    ]
    out = {r.source: r for r in source_originality(
        spark.createDataFrame(rows)).collect()}
    assert out["A"].n_copies == 0 and out["A"].originality == 1.0
    assert out["B"].n_copies == 1
    assert out["B"].originality == 0.75
    assert out["C"].originality == 1.0


def test_negative_collision_closed_form(spark):
    """4 vectors with labels 0,0,1,1 (sum p^2 = 1/2) and one confirmed
    near-dup pair among 4 docs (p_dup = 2*1/(4*3) = 1/6): expected
    collisions at B are exactly (B-1) times each rate."""
    from shifts_etl_spark.operators.curation import negative_collision_budget

    base = ("the quick brown fox jumps over the lazy dog near the "
            "river bank at dawn every single day")
    docs = spark.createDataFrame([
        Row(doc_id=1, source="s", text=base, lang="en", n_chars=1),
        Row(doc_id=2, source="s", text=base.replace("dawn", "dusk"),
            lang="en", n_chars=1),
        Row(doc_id=3, source="s", text="fully distinct words about spark "
            "plans and exchanges nothing shared", lang="en", n_chars=1),
        Row(doc_id=4, source="s", text="another standalone text with its "
            "own private tokens only", lang="en", n_chars=1),
    ])
    emb = spark.createDataFrame([
        Row(vec_id=i, embedding=[1.0, float(i)], label=i // 2)
        for i in range(4)
    ])
    out = {r.batch_size: r for r in negative_collision_budget(
        docs, emb, batch_sizes=(4, 64)).collect()}
    r = out[4]
    assert r.n_corpus == 4
    assert r.p_same_label == 0.5
    assert r.p_near_dup == round(1 / 6, 6)
    assert r.exp_label_collisions == 1.5
    assert r.exp_dup_collisions == 0.5
    assert out[64].exp_label_collisions == 31.5


def test_absorption_conversion_hand_chain(spark):
    """Deterministic chains: from 'view' half the sessions go straight
    to purchase and half die (P(view->purchase)=P(view->END)=1/2), so
    a(view) = 0.5 exactly; 'click' always leads to view, so a(click) =
    a(view) = 0.5; purchase itself reports 1.0."""
    from shifts_etl_spark.operators.funnel import absorption_conversion

    rows, eid = [], 0
    def sess(u, types, hour):
        nonlocal eid
        for i, t in enumerate(types):
            eid += 1
            rows.append(_ev(eid, u, t, f"2024-01-01T{hour:02d}:{i:02d}:00"))
    sess(1, ["view", "purchase"], 8)
    sess(2, ["view"], 9)            # dies at END
    sess(3, ["click", "view", "purchase"], 10)
    sess(4, ["click", "view"], 11)  # dies
    out = {r.state: r for r in absorption_conversion(
        spark.createDataFrame(rows)).collect()}
    assert out["purchase"].p_convert == 1.0
    assert out["view"].p_convert == 0.5
    assert out["click"].p_convert == 0.5
    assert out["view"].n_out_transitions == 4
    assert out["click"].n_out_transitions == 2


def test_absorption_conversion_no_conversions(spark):
    """No purchases anywhere: every transient state solves to 0."""
    from shifts_etl_spark.operators.funnel import absorption_conversion

    rows = [_ev(1, 1, "view", "2024-01-01T10:00:00"),
            _ev(2, 1, "click", "2024-01-01T10:01:00"),
            _ev(3, 2, "click", "2024-01-01T11:00:00")]
    out = {r.state: r for r in absorption_conversion(
        spark.createDataFrame(rows)).collect()}
    assert out["view"].p_convert == 0.0
    assert out["click"].p_convert == 0.0
    assert out["purchase"].p_convert == 1.0  # by definition


def test_lsh_capture_prob_scurve_shape(spark):
    """The banded S-curve: more rows per band = steeper cutoff. At
    s = 0.9 every 64-hash split captures nearly surely; at s = 0.1 the
    (8,8) split admits far fewer false candidates than (32,2)."""
    from shifts_etl_spark.operators.dedup import lsh_capture_prob

    assert lsh_capture_prob(0.9, 32, 2) > 0.999999
    assert lsh_capture_prob(0.9, 8, 8) > 0.97
    assert lsh_capture_prob(0.1, 8, 8) < 1e-6
    assert lsh_capture_prob(0.1, 32, 2) > lsh_capture_prob(0.1, 16, 4)
    # exact closed form for (bands=2, rows=2): 1 - (1 - s^2)^2
    s = 0.5
    assert lsh_capture_prob(s, 2, 2) == 1.0 - (1.0 - s * s) * (1.0 - s * s)


def test_lsh_parameter_plan_weights_histogram(spark):
    """One high-sim pair (j ~ 0.87 -> bin 17, true side) and one
    low-sim pair (bin below 0.3, false side): every config reports
    1 true and 1 false pair, and the expected captures equal n * P at
    the bin midpoints exactly."""
    from shifts_etl_spark.operators.dedup import (
        LSH_PARAM_GRID, lsh_capture_prob, lsh_parameter_plan,
    )

    base = ("the quick brown fox jumps over the lazy dog near the "
            "river bank at dawn every single day")
    lowpair = ("alpha beta gamma delta epsilon zeta eta theta iota "
               "kappa lambda mu")
    rows = [
        Row(doc_id=1, source="s", text=base, lang="en", n_chars=1),
        Row(doc_id=2, source="s", text=base + " extra", lang="en", n_chars=1),
        Row(doc_id=3, source="s", text=lowpair, lang="en", n_chars=1),
        Row(doc_id=4, source="s", text=lowpair + " completely different "
            "tail words here now truly", lang="en", n_chars=1),
    ]
    out = {(r.bands, r.rows_per_band): r for r in lsh_parameter_plan(
        spark.createDataFrame(rows)).collect()}
    assert set(out) == set(LSH_PARAM_GRID)
    for (b, rr), row in out.items():
        assert row.n_true_pairs >= 1
        assert row.recall_proxy is not None
        # recall proxy must be the histogram-weighted mean of the
        # S-curve, hence within the curve's range over true bins
        assert 0.0 <= row.recall_proxy <= 1.0
    # steeper configs admit fewer false candidates
    assert (out[(8, 8)].fp_capture_rate or 0.0) <= (
        out[(32, 2)].fp_capture_rate or 1.0)


def test_grouped_kfold_keeps_clusters_whole(spark):
    """A planted near-dup cluster: the grouped split never spans it
    across folds (n_span_grouped 0), shares sum to 1, and every doc
    of the cluster shares its cluster's fold."""
    from shifts_etl_spark.operators.curation import grouped_kfold_audit

    base = ("the quick brown fox jumps over the lazy dog near the "
            "river bank at dawn every single day")
    rows = [Row(doc_id=i, source="s",
                text=base.replace("dawn", w), lang="en", n_chars=1)
            for i, w in enumerate(["dawn", "dusk", "noon"], start=1)]
    rows += [Row(doc_id=100 + i, source="s",
                 text=f"standalone document number {i} with its own "
                      f"private words token{i} alpha{i} beta{i}",
                 lang="en", n_chars=1) for i in range(7)]
    out = grouped_kfold_audit(spark.createDataFrame(rows), k=5).collect()
    assert all(r.n_span_grouped == 0 for r in out)
    assert round(sum(r.doc_share for r in out), 5) == 1.0
    assert sum(r.n_docs for r in out) == 10


def test_loso_quality_flags_bad_source(spark):
    """Source 'junk' (quality 0.3 docs) dragging down a 1.0-quality
    corpus: dropping it raises the mean (drop_gain > 0); dropping the
    good source lowers it (drop_gain < 0); the identity
    corpus_mean = weighted mean of source means holds."""
    from shifts_etl_spark.operators.curation import loso_quality_attribution

    good = ("the quick brown fox jumps over the lazy dog while the "
            "calm river flows past the old stone bridge at dawn")
    junk = "12345 67890 13579"
    rows = [Row(doc_id=i, source="good", text=good) for i in range(3)]
    rows += [Row(doc_id=10 + i, source="junk", text=junk) for i in range(2)]
    out = {r.source: r for r in loso_quality_attribution(
        spark.createDataFrame(rows)).collect()}
    g, j = out["good"], out["junk"]
    assert g.mean_quality == 1.0 and j.mean_quality == 0.3
    assert g.corpus_mean == round((3 * 1.0 + 2 * 0.3) / 5, 6)
    assert j.loso_mean == 1.0 and j.drop_gain > 0
    assert g.loso_mean == 0.3 and g.drop_gain < 0
