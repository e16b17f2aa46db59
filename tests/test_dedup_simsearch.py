"""Semantics tests for the non-SQL-oracle ops: MinHash-LSH and SimHash must
find planted near-duplicates (and not everything else); LSH ANN must reach
reasonable recall vs brute force."""

import re

import pytest
from pyspark.sql import Row, functions as F

from shifts_etl_spark.operators import dedup, simsearch

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def planted(spark):
    """20 real docs + 3 planted near-dup pairs (small token edits)."""
    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .limit(20)
        .select("doc_id", "text")
        .collect()
    )
    rows = [Row(doc_id=r.doc_id, text=r.text) for r in docs]
    for i, r in enumerate(docs[:3]):
        words = r.text.split()
        words[len(words) // 2] = "PLANTEDWORD"
        rows.append(Row(doc_id=1000 + i, text=" ".join(words)))
    return spark.createDataFrame(rows)


def test_minhash_finds_planted_dups(spark, planted):
    pairs = dedup.minhash_lsh_pairs(planted).collect()
    found = {(p.id_a, p.id_b) for p in pairs if p.est_jaccard >= 0.5}
    for i in range(3):
        orig = planted.where(F.col("doc_id") == 1000 + i).first()
        assert any(1000 + i in pr for pr in found), f"planted pair {i} missed: {orig}"


def test_minhash_est_jaccard_high_for_dups(spark, planted):
    pairs = {
        (p.id_a, p.id_b): p.est_jaccard
        for p in dedup.minhash_lsh_pairs(planted).collect()
    }
    planted_pairs = [p for p in pairs if p[1] >= 1000]
    assert planted_pairs, "no planted pair retrieved at all"
    assert max(pairs[p] for p in planted_pairs) >= 0.7


def test_lsh_hot_bucket_cap_bounds_pairs(spark, planted):
    """A degenerate bucket (400 identical boilerplate docs → same signature
    → same bucket in every band) must not re-create the all-pairs blowup:
    with the cap the bucket is dropped before the self-join, while recall
    on normal planted near-dups is unchanged."""
    boiler = spark.range(2000, 2400).select(
        F.col("id").alias("doc_id"),
        F.lit("terms of service boilerplate header repeated on every page").alias(
            "text"
        ),
    )
    corpus = planted.unionByName(boiler)

    capped = dedup.minhash_lsh_pairs(corpus, max_bucket_size=50).collect()
    ids = {p.id_a for p in capped} | {p.id_b for p in capped}
    assert not any(i >= 2000 for i in ids), "hot-bucket pairs leaked through cap"
    found = {(p.id_a, p.id_b) for p in capped if p.est_jaccard >= 0.5}
    for i in range(3):
        assert any(1000 + i in pr for pr in found), f"cap lost planted pair {i}"

    # uncapped control: the same corpus explodes to >= C(400,2) pair rows
    uncapped_n = dedup.minhash_lsh_pairs(corpus, max_bucket_size=None).count()
    assert uncapped_n >= 400 * 399 // 2


def test_simhash_finds_planted_dups(spark, planted):
    pairs = dedup.simhash_pairs(planted, max_hamming=10).collect()
    hits = {p.id_b for p in pairs} | {p.id_a for p in pairs}
    assert {1000, 1001, 1002} & hits, "simhash missed all planted dups"


def test_exact_dedup_counts(spark, planted):
    # identical copy → n_copies 2 for that hash
    doubled = planted.union(planted.where(F.col("doc_id") == planted.first().doc_id))
    out = dedup.exact_dedup(doubled)
    assert out.where(F.col("n_copies") == 2).count() == 1


def test_lsh_recall_vs_bruteforce(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qids = [0, 1, 2, 3, 4]
    exact = {
        (r.query_id, r.neighbor_id)
        for r in simsearch.brute_force_topk(emb, qids, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in simsearch.lsh_topk(emb, qids, dim=64, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    # 16 hyperplanes / 4 bands on random-ish 64-d data: modest but real recall
    assert recall >= 0.2, f"LSH recall collapsed: {recall}"


def test_embedding_nn_symmetric_sanity(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    nn = dedup.embedding_nn_pairs(emb)
    assert nn.count() == emb.count()  # one NN row per vector
    assert nn.where(F.col("cosine") > 1.0001).count() == 0


def test_dedup_clusters_transitive(spark):
    """Chain a-b, b-c, plus isolated pair x-y → components {a,b,c}, {x,y}."""
    from pyspark.sql import Row

    pairs = spark.createDataFrame(
        [Row(id_a=1, id_b=2), Row(id_a=2, id_b=3), Row(id_a=10, id_b=11),
         Row(id_a=5, id_b=4)]  # reversed order pair
    )
    got = {r.doc: r.cluster_id for r in dedup.dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 4: 4, 5: 4}


def test_dedup_clusters_long_chain(spark):
    """A 12-node path needs multiple propagation rounds — exercises the
    fixpoint loop, not just one hop."""
    from pyspark.sql import Row

    pairs = spark.createDataFrame([Row(id_a=i, id_b=i + 1) for i in range(12)])
    got = {r.doc: r.cluster_id for r in dedup.dedup_clusters(pairs).collect()}
    assert set(got.values()) == {0}
    assert len(got) == 13


def test_minhash_md5_family_finds_planted_dups(spark, planted):
    """The oracle-checkable md5-48 hash family (x3 catalog config) must
    retrieve the same planted near-dups as the xxhash64 default."""
    pairs = dedup.minhash_lsh_pairs(planted, hash_fn="md5").collect()
    found = {(p.id_a, p.id_b) for p in pairs if p.est_jaccard >= 0.5}
    for i in range(3):
        assert any(1000 + i in pr for pr in found), f"planted pair {i} missed"


def test_simhash_md5_family_finds_planted_dups(spark, planted):
    pairs = dedup.simhash_pairs(
        planted, max_hamming=10, n_bits=48, hash_fn="md5"
    ).collect()
    hits = {p.id_a for p in pairs} | {p.id_b for p in pairs}
    assert {1000, 1001, 1002} & hits, "md5-48 simhash missed all planted dups"


def test_md5_hash48_range_and_determinism(spark):
    """48-bit family: values in [0, 2^48) and stable across evaluations."""
    df = spark.createDataFrame([("abc",), ("def",), ("",)], "s string")
    vals = df.select(
        dedup._md5_hash48(F.col("s"), 7).alias("h")
    ).collect()
    again = df.select(
        dedup._md5_hash48(F.col("s"), 7).alias("h")
    ).collect()
    assert [r.h for r in vals] == [r.h for r in again]
    assert all(0 <= r.h < (1 << 48) for r in vals)


def test_det_lsh_recall_vs_bruteforce(spark):
    """The oracle-checkable md5 sparse-±1 plane family (x8 catalog config)
    must keep real recall against the exact baseline, like the Gaussian
    default."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qids = [0, 1, 2, 3, 4]
    exact = {
        (r.query_id, r.neighbor_id)
        for r in simsearch.brute_force_topk(emb, qids, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in simsearch.lsh_topk(emb, qids, dim=64, k=5, plane_fn="md5").collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.2, f"det-LSH recall collapsed: {recall}"


def test_det_lsh_signature_matches_python_reference(spark):
    """Band keys from the JVM expression pipeline equal a plain
    Python/numpy re-derivation of the same md5 plane family — guards the
    quantization (floor, not round) and MSB-first packing contracts that
    X8_SQL mirrors."""
    import hashlib
    import math

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(20)
    rows = emb.select("vec_id", "embedding").collect()
    got = {
        r.vec_id: list(r.buckets)
        for r in simsearch.add_det_lsh_signature(emb, dim=64).select(
            "vec_id", "buckets"
        ).collect()
    }
    W = simsearch._md5_plane_weights(16, 64)
    for r in rows:
        q = [math.floor(float(x) * 1_000_000.0) for x in r.embedding]
        bits = [
            1 if sum(qi * wi for qi, wi in zip(q, W[p])) >= 0 else 0
            for p in range(16)
        ]
        keys = []
        for b in range(4):
            key = 0
            for bit in bits[b * 4 : (b + 1) * 4]:
                key = key * 2 + bit
            keys.append(b * 2**32 + key)
        assert got[r.vec_id] == keys


def _shingle_rows_py(rows, n: int) -> list[tuple[int, str]]:
    """Reference shingling in plain Python: normalize (lowercase, every
    non-[a-z0-9] non-space char to a space), split, then every n-token
    window; a doc with 1..n-1 tokens emits its full token string."""
    out = []
    for doc, text in rows:
        toks = re.sub(r"[^a-z0-9\s]", " ", text.lower(), flags=re.ASCII).split()
        if 0 < len(toks) < n:
            out.append((doc, " ".join(toks)))
        out += [(doc, " ".join(toks[i : i + n])) for i in range(len(toks) - n + 1)]
    return out


def test_shingle_explode_matches_reference_multiset(spark):
    """``shingle_explode`` emits the reference (doc, s) MULTISET —
    duplicates kept, short docs emit their full token string once,
    zero-token docs emit nothing."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    edge = spark.createDataFrame(
        [
            (9001, ""),                      # zero tokens → no rows
            (9002, "   !!!   "),             # normalizes to zero tokens
            (9003, "one"),                   # 1 token < n → full string
            (9004, "one two"),               # 2 tokens < n → full string
            (9005, "a b c"),                 # exactly n tokens → 1 shingle
            (9006, "a b c a b c a b c a"),   # duplicate shingles kept
        ],
        schema="doc_id long, text string",
    )
    corpus = docs.unionByName(edge)
    a = sorted(_shingle_rows_py(corpus.collect(), 3))
    b = sorted(
        (r.doc, r.s)
        for r in dedup.shingle_explode(corpus, "text", "doc_id", 3).collect()
    )
    assert a == b
