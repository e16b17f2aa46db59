"""Seeded randomized equivalence: batch-compare Spark operators against
pure-Python references over randomly generated corpora (one Spark job
per property — the randomized-coverage complement to the hand-planted
semantics tests)."""

import random

from pyspark.sql import Row, functions as F

from shifts_etl_spark.operators.bpe import END, _apply_merge, _initial_symbols
from shifts_etl_spark.operators.dedup import duplicate_ngram_coverage


def _py_greedy_merge(symbols, a, b):
    out, prev = [], None
    for x in symbols:
        if prev is not None and prev == a and x == b:
            out.append(a + b)
            prev = None
        else:
            if prev is not None:
                out.append(prev)
            prev = x
    if prev is not None:
        out.append(prev)
    return out


def test_apply_merge_matches_python_reference(spark):
    rng = random.Random(1234)
    alpha = "abc"  # tiny alphabet -> many adjacent repeats
    words = [
        "".join(rng.choice(alpha) for _ in range(rng.randint(1, 12)))
        for _ in range(300)
    ]
    a, b = rng.choice(alpha), rng.choice(alpha)
    df = spark.createDataFrame([Row(i=i, word=w) for i, w in enumerate(words)])
    got = {
        r["i"]: r["m"]
        for r in df.select(
            "i", _apply_merge(_initial_symbols(F.col("word")), a, b).alias("m")
        ).collect()
    }
    for i, w in enumerate(words):
        assert got[i] == _py_greedy_merge(list(w) + [END], a, b), (w, a, b)


def _py_dup_coverage(texts, n=5, min_df=2):
    toks = [t.split() for t in texts]
    doc_shingles = []
    for tk in toks:
        doc_shingles.append(
            [(i, " ".join(tk[i : i + n])) for i in range(len(tk) - n + 1)]
        )
    df = {}
    for sh in doc_shingles:
        for s in {s for _, s in sh}:
            df[s] = df.get(s, 0) + 1
    out = []
    for tk, sh in zip(toks, doc_shingles):
        covered = set()
        for i, s in sh:
            if df[s] >= min_df:
                covered.update(range(i, i + n))
        out.append((len(tk), len(covered)))
    return out


def test_dup_ngram_coverage_matches_python_reference(spark):
    rng = random.Random(99)
    vocab = [f"w{i}" for i in range(12)]  # small vocab -> real collisions
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 30)))
        for _ in range(120)
    ]
    ref = _py_dup_coverage(texts)
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["dup_tokens"])
        for r in duplicate_ngram_coverage(df).collect()
    }
    for i, (n_tok, cov) in enumerate(ref):
        assert got[i] == (n_tok, cov), (i, texts[i], got[i], (n_tok, cov))


def _py_span_intervals(texts, span_len=40, min_docs=2):
    """Pure-Python reference for duplicate_span_intervals."""
    grams = {}  # gram -> set(doc)
    for d, t in texts.items():
        for p in range(len(t) - span_len + 1):
            grams.setdefault(t[p : p + span_len], set()).add(d)
    dup = {g for g, docs in grams.items() if len(docs) >= min_docs}
    out = []
    for d, t in texts.items():
        pos = [
            p + 1
            for p in range(len(t) - span_len + 1)
            if t[p : p + span_len] in dup
        ]
        island = []
        for p in pos:
            if island and p <= island[-1] + span_len:
                island.append(p)
            else:
                if island:
                    out.append((d, island))
                island = [p]
        if island:
            out.append((d, island))
    return sorted(
        (
            d,
            isl[0],
            isl[-1] + span_len - 1,
            isl[-1] + span_len - isl[0],
            len(isl),
        )
        for d, isl in out
    )


def test_duplicate_span_intervals_matches_python_reference(spark):
    """Random corpora with planted shared substrings of random lengths
    and offsets: operator output must equal the brute-force reference
    exactly (starts, ends, window counts)."""
    from shifts_etl_spark.operators.dedup import duplicate_span_intervals

    rng = random.Random(99)
    alpha = "abcdefgh "
    blocks = [
        "".join(rng.choice(alpha) for _ in range(rng.randint(40, 120)))
        for _ in range(6)
    ]
    texts = {}
    for d in range(40):
        parts = []
        for _ in range(rng.randint(1, 4)):
            # unique filler (doc-stamped so it never matches cross-doc)
            parts.append(
                f"<{d}>" * rng.randint(5, 20)
            )
            if rng.random() < 0.7:
                parts.append(rng.choice(blocks))
        texts[d] = "".join(parts)
    df = spark.createDataFrame(
        [
            Row(doc_id=d, text=t, lang="en", source="s", n_chars=len(t))
            for d, t in texts.items()
        ]
    )
    got = sorted(
        (r.doc, r.span_start, r.span_end, r.span_chars, r.n_windows)
        for r in duplicate_span_intervals(df).collect()
    )
    assert got == _py_span_intervals(texts)
