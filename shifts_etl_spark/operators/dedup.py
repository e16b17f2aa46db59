"""Deduplication operators for training-data pipelines over ``documents``
(north-star extension ops, BASELINE.json): exact, MinHash+LSH, SimHash,
n-gram Jaccard, and embedding-cosine near-dup.

Scale design (100 TB):
  - Exact dedup is one hash-aggregate on the content hash — the canonical
    map-side-combinable shuffle; never dropDuplicates on the raw text column
    (shuffling full documents) when a 128-bit hash key suffices.
  - MinHash/LSH: signatures are computed scan-side with built-in expression
    trees (xxhash64 over shingles — no Python in the loop). Candidate
    generation shuffles only (band_id, band_hash, doc_id) triples; documents
    never move. Bucket-join fan-out is bounded by banding parameters.
  - SimHash: 64-bit signature folded JVM-side; near-dup candidates via the
    pigeonhole principle (split signature into b chunks → hamming ≤ b-1
    pairs share ≥1 chunk) then exact hamming filter with bit_count(xor).
  - Embedding near-dup: blocked brute force (block = label / LSH bucket) so
    the cross product never materializes globally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

from .. import caching
# perfbench drains the ambient cache owner through this name
from ..caching import release_orphaned_caches  # noqa: F401
from .textstats import normalize_text, tokens


def _cooled_band_buckets(
    base: DataFrame,
    keep: list[str],
    block_keys: list[str],
    vec_col: str,
    dim: int,
    n_planes: int = 32,
    bands: int = 4,
    hot_bucket_cap: int = 64,
) -> tuple[DataFrame, list[str]]:
    """Shared banded-candidate machinery (one implementation for
    embedding_nn_pairs_lsh, semantic_dedup, hard_negative_topk, and the
    x76 entry): append the x8 md5 sign-LSH band buckets to ``base``,
    explode to one (``keep``…, bucket) row per band, drop (``block_keys``
    ∧ bucket) groups hotter than ``hot_bucket_cap`` via a broadcast
    anti-join, and return the persisted cool frame plus the full
    candidate-join key list (block_keys + ["bucket"]). Callers self-join
    the cool frame on those keys with their own pair predicate; vectors
    re-attach BY ID afterwards, so nothing here ever shuffles an
    embedding. The cool frame's parent is persisted through
    :mod:`caching`, so the caller's scope owns it."""
    from .simsearch import add_det_lsh_signature

    sig = add_det_lsh_signature(base, dim, n_planes, bands, vec_col)
    bucketed = caching.persist(
        sig.select(*keep, F.explode("buckets").alias("bucket"))
    )
    keys = [*block_keys, "bucket"]
    hot = (
        bucketed.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > hot_bucket_cap)
        .select(*keys)
    )
    # the hot set is bounded by |blocks| * bands * 2^(n_planes/bands)
    # rows — broadcast the anti-join so cooling never shuffles members
    return bucketed.join(F.broadcast(hot), keys, "left_anti"), keys


def _fan_out(df: DataFrame) -> DataFrame:
    """Spread a small-file scan across all cores before CPU-heavy per-row
    work (shingling, bit votes). A compact parquet file arrives as ONE
    input split, which would serialize the expensive projection; one cheap
    round-robin shuffle of the raw rows buys full parallelism. No-op cost
    at scale (big inputs already have many splits, and the shuffle is
    bounded by the input size)."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    return df.repartition(target) if df.rdd.getNumPartitions() < target else df


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------

def exact_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One representative (min id) per distinct text + its multiplicity.
    GroupBy on md5(text) — map-side partial agg, tiny shuffle rows."""
    h = F.md5(F.col(text_col))
    return (
        docs.groupBy(h.alias("content_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def exact_dedup_normalized(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup after normalization (lower/strip punct/collapse ws)."""
    h = F.md5(normalize_text(F.col(text_col)))
    return (
        docs.groupBy(h.alias("content_hash"))
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# --------------------------------------------------------------------------
# shingles + MinHash + LSH
# --------------------------------------------------------------------------

def word_shingles(c, n: int = 3):
    """n-token shingles of the normalized text, distinct, JVM-side:
    transform over token positions → concat_ws of the n-token slice.

    PERF: pass a MATERIALIZED tokens column (see ``shingle_sets``), not
    the raw text column. Subexpression elimination does not reach inside
    higher-order-function lambdas, so handing this the tokenize pipeline
    directly re-runs normalize+split+filter PER SHINGLE POSITION —
    measured 12 s vs 0.7 s over sf0.1 documents. A two-projection select
    is safe because CollapseProject declines to inline a non-cheap alias
    referenced more than once."""
    t = c
    k = F.size(t) - (n - 1)
    return F.array_distinct(
        F.when(
            k > 0,
            F.transform(
                F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
                lambda i: F.concat_ws(" ", F.slice(t, i, n)),
            ),
        ).otherwise(F.array(F.concat_ws(" ", t)))
    )


def shingle_sets(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """(doc, sh) distinct-shingle arrays via the two-projection shape:
    tokens materialized first, shingles assembled from the attribute —
    the 17× fix for the lambda-CSE blindspot (see word_shingles)."""
    return docs.select(
        F.col(id_col).alias("doc"),
        tokens(normalize_text(F.col(text_col))).alias("_toks"),
    ).select("doc", word_shingles(F.col("_toks"), shingle_n).alias("sh"))


def shingle_explode(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    unique: bool = False,
) -> DataFrame:
    """(doc, s) shingle rows via explode of the per-doc shingle ARRAY —
    zero exchanges (r10). The window-LEAD shape it replaced shuffled
    and sorted EVERY token row by (doc, pos) just to assemble adjacent
    tokens; here the tokens array is materialized once per doc (the
    two-projection shape — lambda-CSE blindspot, see word_shingles) and
    shingles are sliced from it row-locally, so the first exchange a
    consumer pays is its own aggregate's. Emits every n-token window as
    one row: per-position duplicates kept (no array_distinct —
    MIN/vote/count consumers each decide), docs shorter than
    ``shingle_n`` tokens emit their full token string once, zero-token
    docs emit no row (explode of the NULL array).

    Per-row memory holds one doc's shingle array (~shingle_n × the
    token array already materialized) — bounded by doc length, the same
    envelope as the text column itself, so this is not the scale hazard
    the window shape was built to dodge; the token-row shuffle it
    removes IS corpus-sized.

    r11: the input rides through ``_fan_out`` (ADVICE r10) — a compact
    single-split parquet scan would otherwise serialize the tokenize +
    shingle + consumers' map-side partial aggregation into ONE task;
    ``_fan_out`` is a no-op when the scan already has enough splits, so
    the at-scale shape stays "no exchange beyond the consumer's own
    aggregate".

    ``unique=True`` applies a ROW-LOCAL ``array_distinct`` before the
    explode (per-doc distinct shingles, document order of first
    occurrence). For per-doc-set-insensitive consumers (MinHash's MIN
    fold) the result is identical while every repeated shingle skips
    its 64 hash evaluations; consumers whose math needs the multiset
    (duplicate-count signals) must keep the default."""
    t = F.col("_toks")
    k = F.size(t) - (shingle_n - 1)
    arr = F.when(
        k > 0,
        F.transform(
            # k >= 1 is guaranteed on this branch (under F.when(k > 0))
            F.sequence(F.lit(1), k),
            lambda i: F.concat_ws(" ", F.slice(t, i, shingle_n)),
        ),
    ).otherwise(
        F.when(F.size(t) > 0, F.array(F.concat_ws(" ", t)))
    )
    if unique:
        arr = F.array_distinct(arr)
    return (
        _fan_out(docs).select(
            F.col(id_col).alias("doc"),
            tokens(normalize_text(F.col(text_col))).alias("_toks"),
        )
        .select("doc", F.explode(arr).alias("s"))
    )


def _md5_hash48(col, salt) -> "F.Column":
    """48-bit integer hash from the first 12 hex chars of
    md5(col || '#' || salt) — the cross-engine-mirrorable hash family
    (DuckDB derives the identical value from the same hex string via a
    positional base-16 fold; see X3_SQL/X4_SQL). ~2× slower than
    xxhash64 JVM-side, which is why xxhash64 stays the library default
    and this family backs the oracle-checked catalog entries."""
    return F.conv(
        F.substring(F.md5(F.concat_ws("#", col, F.lit(str(salt)))), 1, 12),
        16,
        10,
    ).cast("long")


def _hash_family(hash_fn: str):
    if hash_fn == "xxhash64":
        return lambda col, salt: F.xxhash64(col, F.lit(salt))
    if hash_fn == "md5":
        return _md5_hash48
    raise ValueError(f"unknown hash_fn: {hash_fn}")


# r11 note — deferred-conv variant tried and REJECTED: MIN over the
# fixed-length 12-hex md5 substring (lexicographic == numeric) with the
# base-16 conv run once per (doc, slot) AFTER the aggregate is
# value-identical and saves ~17M conv+cast evaluations at sf0.1, BUT a
# string agg buffer demotes the signature aggregate from HashAggregate
# to SortAggregate (Spark only hash-aggregates fixed-size mutable
# buffers), inserting a per-partition sort of every shingle row and
# shuffling hex strings (1.75x the partial-agg bytes of longs).
# Fresh-process A/B at sf0.1: 2.16s (hash agg, conv per shingle) vs
# 2.12s (sort agg, deferred conv) — a wash locally, and the hash-agg
# shape is the scale-safe one on both counts, so it stays.


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_n: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """MinHash signatures, computed columnar: shingle rows →
    ``num_hashes`` map-side-combinable MIN aggregates (hash family =
    hash(shingle, j); xxhash64 by default, md5-derived 48-bit when the
    result must mirror into DuckDB). The shuffle carries (doc, 64
    longs) — documents never move. r10: shingles come from the
    zero-exchange array shape (``shingle_explode``) — the prior
    window-LEAD shape shuffled+sorted every token
    row by (doc, pos) before the MIN aggregates ever ran, a full
    corpus-sized exchange the signature math never needed (MIN is
    position- and duplicate-insensitive, and ``shingle_explode`` emits
    the identical shingle multiset).

    r11 compute cut (same signatures bit-for-bit): per-doc
    ``array_distinct`` before the explode (MIN ignores repeats — each
    repeated shingle was paying ``num_hashes`` hash evaluations for
    nothing). The aggregate stays on LONG buffers so it plans as
    HashAggregate — see the deferred-conv note after ``_hash_family``
    for the rejected string-buffer variant."""
    hf = _hash_family(hash_fn)
    sh = shingle_explode(docs, text_col, id_col, shingle_n, unique=True)
    aggs = [
        F.min(hf(F.col("s"), j)).alias(f"h{j}") for j in range(num_hashes)
    ]
    return (
        sh.groupBy("doc")
        .agg(*aggs)
        .select("doc", F.array(*[f"h{j}" for j in range(num_hashes)]).alias("sig"))
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket_size: int | None = 500,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash-LSH.

    rows_per_band = num_hashes / bands; two docs collide if any band of
    their signatures matches exactly. Returns distinct (id_a < id_b) pairs
    with the estimated Jaccard (fraction of matching signature slots).
    Only (band, band_hash, doc) triples shuffle for the bucket join —
    signatures are re-attached per side, documents never move.

    ``max_bucket_size`` caps degenerate buckets: a corpus-scale hot bucket
    (empty docs, boilerplate headers) would otherwise re-create the
    all-pairs blowup inside the self-join (k docs in one bucket → k² pair
    rows). Buckets above the cap are dropped BEFORE the join, bounding the
    per-bucket fan-out at max_bucket_size². Recall is unaffected for
    genuine near-dup pairs (they collide in many independent bands, and a
    bucket that large is near-identical boilerplate — exact/normalized
    dedup, which has no quadratic step, is the right tool for those).
    ``None`` disables the cap.

    The signature frame persists internally (every downstream subtree —
    hot-bucket count, both self-join sides, both est re-attach sides —
    reads it) through :mod:`caching`: a caller that materializes the
    pairs inside a ``caching.scope()`` releases it on exit, as
    ``minhash_dedup_components`` does for the composed chain.

    r11 SINGLE-cache shape: ``with_sig`` is the only persisted frame.
    Round 10 additionally cached the post-anti banded frame, but a
    second persist on a frame DERIVED from a cached frame captures its
    own copy of the whole upstream plan: materializing it re-ran the
    signature aggregate instead of reading the signature cache
    (verified in plans/r11/x3_dedup_minhash_lsh_after.txt — the banded
    InMemoryRelation embedded Scan→Exchange→HashAggregate, not an
    InMemoryTableScan). Every consumer now substitutes the SAME
    InMemoryRelation, so concurrent broadcast builds share stages
    instead of duplicating the signature compute; the band-hash
    projection + broadcast anti-join they each redo is ~``bands``
    hashes/doc — noise next to the ``num_hashes``/shingle signature
    fold.
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands
    hf = _hash_family(hash_fn)
    # persist: the self-join would otherwise recompute the whole shingle +
    # signature pipeline for both sides (Spark's exchange reuse does not
    # fire across the join aliases here — verified in the physical plan).
    # The cached footprint is (doc_id, 64 longs) ≈ 0.5 KB/doc.
    with_sig = caching.persist(
        minhash_signatures(
            docs, text_col, id_col, num_hashes, shingle_n, hash_fn
        )
    )

    # band key = hash of the comma-joined slot values, salted per band.
    # Literal per-band expressions (not a lambda over sequence()) so the
    # md5 family's distinct string salts stay plan-time constants.
    band_hashes = F.array(
        *[
            hf(F.concat_ws(",", F.slice("sig", b * r + 1, r)), b)
            for b in range(bands)
        ]
    )
    banded = with_sig.select(
        "doc",
        F.posexplode(band_hashes).alias("band", "band_hash"),
    )
    if max_bucket_size is not None:
        # Hot buckets are RARE by construction (a bucket over the cap is
        # degenerate boilerplate), so find their keys with a map-side-
        # combinable count (shuffle = (band, hash, partial_count) only)
        # and drop members via a broadcast ANTI join — no sort, no extra
        # exchange of `banded`. Measured 1.7× faster end-to-end than the
        # window-count form at sf0.01/sf0.1. Worst-case hot-key count is
        # bounded by n_rows / max_bucket_size; if an adversarial corpus
        # ever made that too big to broadcast, a count window over the
        # join key is the drop-in fallback.
        hot = (
            banded.groupBy("band", "band_hash")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") > max_bucket_size)
            .select("band", "band_hash")
        )
        # NOT cached (r11): both self-join sides re-derive this from the
        # with_sig cache — band hashes + a broadcast anti-join per side,
        # cheap — instead of materializing a second cache whose captured
        # plan re-ran the signature aggregate (see docstring).
        banded = banded.join(
            F.broadcast(hot), ["band", "band_hash"], "left_anti"
        )
    # candidate ids first, signatures re-attached BY ID after the
    # distinct (the x242/embedding_nn_pairs_lsh contract): the banded
    # self-join and the pair dedup shuffle (band, hash, doc) longs only —
    # carrying the 64-long sig through both join sides cost ~0.5 KB ×
    # bands per doc of shuffle for nothing, since est_jaccard only needs
    # one sig lookup per side per DISTINCT pair.
    cand = (
        banded.alias("l")
        .join(banded.alias("r"), ["band", "band_hash"])
        .where(F.col("l.doc") < F.col("r.doc"))
        .select(
            F.col("l.doc").alias("id_a"),
            F.col("r.doc").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = with_sig.select(F.col("doc").alias("id_a"), F.col("sig").alias("_sa"))
    sb = with_sig.select(F.col("doc").alias("id_b"), F.col("sig").alias("_sb"))
    est = (
        F.size(
            F.filter(
                F.zip_with("_sa", "_sb", lambda x, y: (x == y).cast("int")),
                lambda v: v == 1,
            )
        )
        / F.lit(float(num_hashes))
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", est.alias("est_jaccard"))
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def simhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """``n_bits``-bit SimHash per doc, computed columnar: explode tokens →
    n_bits map-side-combinable SUM(+1/-1) bit votes → fold sign bits into
    one long. (With 64 bits, bit 63 uses shiftleft overflow-wrap to land
    on the sign bit.) The md5 hash family carries 48 usable bits, so
    callers pass n_bits=48 with it (the oracle-checkable configuration —
    X4_SQL folds the identical value)."""
    tok = _fan_out(docs).select(
        F.col(id_col).alias("doc"), F.explode(tokens(normalize_text(F.col(text_col)))).alias("t")
    )
    h = (
        F.xxhash64("t")
        if hash_fn == "xxhash64"
        else _md5_hash48(F.col("t"), "s")
    )
    votes = [
        F.sum(
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(n_bits)
    ]
    voted = tok.groupBy("doc").agg(*votes)
    bits = [
        F.when(
            F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
        for i in range(n_bits)
    ]
    sh = bits[0]
    for b in bits[1:]:
        sh = sh.bitwiseOR(b)
    return voted.select("doc", sh.alias("sh"))


def simhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    chunks: int = 4,
    n_bits: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming, found by chunk
    banding (pigeonhole: ≤3 differing bits over 4 16-bit chunks ⇒ some chunk
    identical) then exact bit_count(xor) filter."""
    assert n_bits % chunks == 0
    width = n_bits // chunks
    # persist for the same self-join-recompute reason as minhash_lsh_pairs
    sh = caching.persist(
        simhash_signatures(docs, text_col, id_col, n_bits, hash_fn)
    )
    chunk_arr = F.array(
        *[
            F.shiftrightunsigned("sh", i * width).bitwiseAND(
                F.lit((1 << width) - 1)
            )
            for i in range(chunks)
        ]
    )
    chunked = sh.select(
        "doc", "sh", F.posexplode(chunk_arr).alias("chunk", "chunk_val")
    )
    l, r = chunked.alias("l"), chunked.alias("r")
    ham = F.bit_count(F.col("l.sh").bitwiseXOR(F.col("r.sh")))
    return (
        l.join(r, ["chunk", "chunk_val"])
        .where(F.col("l.doc") < F.col("r.doc"))
        .where(ham <= max_hamming)
        .select(
            F.col("l.doc").alias("id_a"),
            F.col("r.doc").alias("id_b"),
            ham.alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


# --------------------------------------------------------------------------
# n-gram Jaccard (exact, for candidate verification or blocked comparison)
# --------------------------------------------------------------------------

def jaccard(a, b):
    """Exact Jaccard over two (distinct-element) arrays."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def ngram_jaccard_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Exact shingle-Jaccard for given (id_a, id_b) candidate pairs —
    the verification stage after LSH candidate generation."""
    sh = shingle_sets(docs, text_col, id_col, shingle_n)
    return (
        pairs.join(sh.withColumnsRenamed({"doc": "id_a", "sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({"doc": "id_b", "sh": "sh_b"}), "id_b")
        .select(
            "id_a", "id_b", F.round(jaccard("sh_a", "sh_b"), 6).alias("jaccard")
        )
    )


# --------------------------------------------------------------------------
# duplicate-cluster resolution (connected components over candidate pairs)
# --------------------------------------------------------------------------

def dedup_clusters(pairs: DataFrame, max_iterations: int = 20) -> DataFrame:
    """Transitive closure of near-dup pairs → (doc, cluster_id) with
    cluster_id = min doc id in the component; the step that turns pairwise
    candidates into keep/drop decisions (keep doc == cluster_id).

    Distributed label propagation (the Spark union-find): every node starts
    as its own label; each round every node adopts the min label in its
    neighborhood; converged when no label changes. Rounds needed =
    O(component diameter) — near-dup clusters are shallow (stars/cliques),
    so 2-3 rounds typical; each round is one join + one groupBy-min on
    (node, label) pairs only. localCheckpoint per round truncates the
    lineage so plans don't grow exponentially.
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        updated = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
                # a label can only move DOWN, and only when a strictly
                # smaller neighbor label exists — carrying the flag
                # through the checkpoint makes the convergence test a
                # filter over the already-materialized frame instead of
                # a second join-shaped job per round (r10: the old
                # updated⋈labels check doubled each round's job count
                # and was ~half of the loop's wall-clock at sweep scale)
                (
                    F.coalesce(F.col("nbr_label"), F.col("label"))
                    < F.col("label")
                ).alias("_moved"),
            )
        )
        updated = updated.localCheckpoint(eager=True)
        converged = updated.where(F.col("_moved")).isEmpty()
        labels = updated.drop("_moved")
        if converged:
            break
    edges.unpersist()
    return labels.select(F.col("node").alias("doc"), F.col("label").alias("cluster_id"))


# --------------------------------------------------------------------------
# embedding-cosine near-dup
# --------------------------------------------------------------------------

def embedding_nn_pairs(
    emb: DataFrame,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """Per-vector nearest neighbor within its block (blocked brute force) +
    near-dup flag at ``threshold``. Blocking bounds the pair count: the
    cross product is per-block, never global — correct ONLY when block
    occupancy is corpus-decoupled (an auto-sized hash bucket column, the
    knn_label_agreement shape). A FIXED-cardinality block column (label)
    makes block size ∝ N and the scan quadratic — the r8 judge measured
    11.9×/9.8× on the 10× smoke — so the x6/x121 entries run
    :func:`embedding_nn_pairs_lsh` with ``block_col`` instead (same
    within-block semantics, sign-LSH band buckets + hot cap bound the
    pair work by bucket geometry); at 100 TB always prefer that mode."""
    from pyspark.sql import Window
    from ..functions.vectors import cosine_from_norms, l2_norm

    e = emb.select(
        F.col(id_col).alias("vid"), F.col(block_col).alias("blk"), F.col(vec_col).alias("v")
    ).withColumn("nrm", l2_norm(F.col("v")))
    l, r = e.alias("l"), e.alias("r")
    sim = cosine_from_norms(
        F.col("l.v"), F.col("r.v"), F.col("l.nrm"), F.col("r.nrm")
    )
    pairs = l.join(
        r, (F.col("l.blk") == F.col("r.blk")) & (F.col("l.vid") != F.col("r.vid"))
    ).select(
        F.col("l.vid").alias("vec_id"),
        F.col("r.vid").alias("neighbor_id"),
        F.round(sim, 6).alias("cosine"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "vec_id",
            "neighbor_id",
            "cosine",
            (F.col("cosine") >= threshold).alias("is_near_dup"),
        )
    )


def auto_band_bits(
    n: int, n_planes: int = 32, occupancy_target: int = 64
) -> int:
    """Bits per LSH band sized from the corpus: the smallest band width
    (a divisor of ``n_planes``, >= 4 so a band still discriminates)
    whose EXPECTED bucket occupancy n / 2^bits stays at or below
    ``occupancy_target``. Wider bands as the corpus grows keep bucket
    population constant by geometry instead of leaning on the hot cap
    to truncate (VERDICT r9 #4 — the _AUTOBKT ceil(N/256) recipe
    applied to band width): 4 bits to 1 024 docs, 8 to 16 384, 16 to
    4.19 M, then the full 32-bit band to ~2.7e11 (64 * 2^32); past that
    raise n_planes. Fewer, wider bands trade candidate recall at a
    fixed threshold — the SCALE.md recall-vs-occupancy lever, now
    turned automatically."""
    valid = [b for b in (4, 8, 16, 32) if b <= n_planes and n_planes % b == 0]
    if not valid:
        raise ValueError(f"no valid band width for n_planes={n_planes}")
    for bits in valid:
        if n <= occupancy_target * (1 << bits):
            return bits
    return valid[-1]


def embedding_nn_pairs_lsh(
    emb: DataFrame,
    dim: int | None = None,
    n_planes: int = 32,
    bands: int | str = 4,
    hot_bucket_cap: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    block_col: str | None = None,
) -> DataFrame:
    """:func:`embedding_nn_pairs` in its documented 100 TB mode: the
    per-label blocks are replaced by sign-LSH band buckets (the x8
    md5-derived deterministic plane family,
    simsearch.add_det_lsh_signature), so the candidate pair set is
    bounded by bucket geometry instead of label cardinality. Buckets
    hotter than ``hot_bucket_cap`` are dropped from candidate
    generation (the x3 MinHash-LSH convention — an over-full sign
    bucket is non-discriminative), which caps TOTAL pair scoring at
    bands * 2^(n_planes/bands) * cap² cosines regardless of corpus
    size; everything else (signatures, the bucket join shuffling only
    (id, bucket) longs, the per-vector top-1 window over bounded
    candidate lists) is linear in N. Output schema matches
    embedding_nn_pairs — (vec_id, neighbor_id, cosine, is_near_dup at
    ``threshold``) — but the NN is approximate (best among LSH
    candidates) and vectors with no surviving candidate are absent.

    ``block_col`` (r9, the x6/x121 re-key) ANDs a block equality into
    the bucket join — candidates must share block AND band bucket —
    preserving within-block semantics (x6's per-label NN) while the
    bucket term keeps pair work bounded: per-(block, bucket) occupancy
    is capped, so a fixed-cardinality block column no longer turns the
    block scan quadratic (the r8-judge-measured 11.9×/9.8× defect).
    Hot detection groups by (block, bucket) — a bucket crowded only in
    aggregate but split across blocks is kept.

    Deterministic end to end (md5 planes over floor(v·1e6) integer
    quantization, 6-dp cosine, neighbor-id tie-break), so the catalog
    entries (x239 unblocked, x6/x121 label-blocked, x246 auto-banded)
    carry full DuckDB value oracles.

    ``bands="auto"`` (r10, VERDICT r9 #4) sizes the band width from the
    corpus via :func:`auto_band_bits` — an EAGER count() job at
    plan-construction time — so expected bucket occupancy stays at or
    below ``hot_bucket_cap`` by geometry as the corpus grows, instead
    of relying on the hot cap to truncate ever-fuller buckets. The
    chosen geometry is a deterministic function of N, so the auto mode
    stays oracle-checkable (the twin derives the same width from
    count(*))."""
    from pyspark.sql import Window

    from ..functions.vectors import cosine_from_norms, l2_norm

    if bands == "auto":
        bits = auto_band_bits(emb.count(), n_planes, hot_bucket_cap)
        bands = n_planes // bits
    elif not isinstance(bands, int):
        raise ValueError(f"bands must be an int or 'auto', got {bands!r}")

    if dim is None:
        # infer once from the data — an EAGER .first() job at plan-
        # construction time (pass dim explicitly to stay fully lazy): a
        # wrong literal dim would zip the plane weights against a shorter
        # vector and NULL every bucket (the silent no-candidates failure
        # mode). An empty corpus has no dim to infer and no pairs to
        # emit — return the documented empty result frame (the pre-r9
        # contract) instead of raising.
        first = emb.select(vec_col).first()
        if first is None:
            idt = emb.schema[id_col].dataType
            return emb.sparkSession.createDataFrame(
                [],
                T.StructType(
                    [
                        T.StructField("vec_id", idt),
                        T.StructField("neighbor_id", idt),
                        T.StructField("cosine", T.DoubleType()),
                        T.StructField("is_near_dup", T.BooleanType()),
                    ]
                ),
            )
        dim = len(first[0])
    sel = [F.col(id_col).alias("vid"), F.col(vec_col).alias("_v")]
    if block_col is not None:
        sel.insert(1, F.col(block_col).alias("blk"))
    cool, keys = _cooled_band_buckets(
        emb.select(*sel),
        keep=["vid"] if block_col is None else ["vid", "blk"],
        block_keys=[] if block_col is None else ["blk"],
        vec_col="_v",
        dim=dim,
        n_planes=n_planes,
        bands=bands,
        hot_bucket_cap=hot_bucket_cap,
    )
    pairs = (
        cool.alias("l")
        .join(cool.alias("r"), keys)
        .where(F.col("l.vid") != F.col("r.vid"))
        .select(
            F.col("l.vid").alias("vec_id"),
            F.col("r.vid").alias("neighbor_id"),
        )
        .dropDuplicates(["vec_id", "neighbor_id"])
    )
    # re-attach vectors by id AFTER the dedup (the lsh_topk contract):
    # the bucket join and the distinct shuffle only ever carry two longs
    lv = emb.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("lv")
    ).withColumn("lnrm", l2_norm(F.col("lv")))
    rv = emb.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("rv")
    ).withColumn("rnrm", l2_norm(F.col("rv")))
    sim = cosine_from_norms(
        F.col("lv"), F.col("rv"), F.col("lnrm"), F.col("rnrm")
    )
    scored = (
        pairs.join(lv, "vec_id")
        .join(rv, "neighbor_id")
        .select("vec_id", "neighbor_id", F.round(sim, 6).alias("cosine"))
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "vec_id",
            "neighbor_id",
            "cosine",
            (F.col("cosine") >= threshold).alias("is_near_dup"),
        )
    )


def incremental_exact_dedup(
    incoming: DataFrame,
    history: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Continuous-ingestion dedup: collapse the incoming batch on its
    normalized content hash, then drop every hash already present in the
    historical corpus (left_anti). Both sides reduce to hashes before any
    join — the anti-join shuffles (16-byte hash, id, count) rows, never
    documents."""
    h = F.md5(normalize_text(F.col(text_col)))
    batch = (
        incoming.groupBy(h.alias("content_hash"))
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )
    seen = history.select(h.alias("content_hash")).dropDuplicates()
    return batch.join(seen, "content_hash", "left_anti")


def incremental_minhash_dedup(
    incoming: DataFrame,
    history: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int | None = 500,
    hash_fn: str = "xxhash64",
    history_sig_col: str | None = None,
) -> DataFrame:
    """Continuous-ingestion NEAR-dup admission — the banded-MinHash
    counterpart of :func:`incremental_exact_dedup`: an incoming doc is
    dropped when a banded-LSH candidate partner with signature-estimated
    Jaccard ≥ ``threshold`` exists either in the admitted HISTORY or
    among LOWER-id docs of the same batch (the x36 greedy-representative
    rule, so one batch of mutual near-dups admits exactly its min-id
    member). Returns one row per incoming doc: (doc_id, matched_id —
    the min qualifying partner, null when admitted — est_jaccard of
    that partner, keep).

    The 100 TB shape: pass ``history_sig_col`` (the name of a
    precomputed array<long> MinHash column in ``history``) and this
    function never touches history TEXT at all — the admitted corpus keeps a (id, 64-long signature)
    sidecar, ~0.5 KB/doc (the x242 catalog entry). Without it, history
    is a document table and signatures are built on the fly
    (small-corpus convenience path).

    The batch is exact-collapsed first (the x237 30× lesson: piles of
    EXACT copies share identical signatures, so every band bucket they
    land in grows with the pile and in-bucket pair work grows with its
    SQUARE; the first 30×-replica smoke measured 5.8× for the
    uncollapsed form vs ~1× collapsed): it is grouped by normalized
    content hash and LSH runs on min-id representatives only.
    Non-representatives are exact duplicates of a lower-id batch mate
    by construction, so their verdict is closed-form: matched_id =
    their representative's match if it has one (it is lower), else the
    representative itself, est 1.0. Shingle-less exact duplicates
    (empty/whitespace docs), invisible to LSH, are deduped too.

    Scale shape: both sides reduce to signatures before any join; the
    bucket join shuffles (band, hash, id, side-bit) rows — signatures
    re-attach BY ID after the candidate distinct, never riding the
    bucket join (the embedding_nn_pairs_lsh contract) — with hot
    buckets (> ``max_bucket_size`` members across BOTH sides) dropped
    via a broadcast anti-join BEFORE the join (the x3 convention),
    bounding fan-out at cap² per bucket; est_jaccard is a 64-slot zip
    per candidate pair; the verdict per incoming doc is one keyed
    min-aggregate. Decisions depend only on content hashes, so the
    md5 family (``hash_fn="md5"``) makes the whole chain — collapse,
    signatures, band keys, candidates, estimates, keep set — mirror
    bit-for-bit into DuckDB (the x240 catalog entry)."""
    assert num_hashes % bands == 0
    r = num_hashes // bands
    hf = _hash_family(hash_fn)

    keyed = incoming.select(
        F.col(id_col).alias("doc_id"),
        F.md5(normalize_text(F.col(text_col))).alias("_g"),
    )
    gmap = caching.persist(
        keyed.join(
            keyed.groupBy("_g").agg(F.min("doc_id").alias("rep")), "_g"
        ).select("doc_id", "rep")
    )
    rep_ids = gmap.where(F.col("doc_id") == F.col("rep")).select(
        F.col("doc_id").alias("_rep_id")
    )
    lsh_incoming = incoming.join(
        rep_ids, F.col(id_col) == F.col("_rep_id"), "semi"
    )
    inc_sig = minhash_signatures(
        lsh_incoming, text_col, id_col, num_hashes, shingle_n, hash_fn
    ).withColumn("is_hist", F.lit(False))
    if history_sig_col is not None:
        hist_sig = history.select(
            F.col(id_col).alias("doc"),
            F.col(history_sig_col).alias("sig"),
            F.lit(True).alias("is_hist"),
        )
    else:
        hist_sig = minhash_signatures(
            history, text_col, id_col, num_hashes, shingle_n, hash_fn
        ).withColumn("is_hist", F.lit(True))
    # persist: banding and the two by-id sig re-attaches all read this
    # union; the caller's scope owns it (the minhash_lsh_pairs contract)
    sigs = caching.persist(inc_sig.unionByName(hist_sig))

    band_hashes = F.array(
        *[
            hf(F.concat_ws(",", F.slice("sig", b * r + 1, r)), b)
            for b in range(bands)
        ]
    )
    # (band, hash, doc, side-bit) only — signatures stay out of the
    # bucket join and re-attach by id on the deduped candidate pairs
    banded = sigs.select(
        "doc", "is_hist",
        F.posexplode(band_hashes).alias("band", "band_hash"),
    )
    if max_bucket_size is not None:
        hot = (
            banded.groupBy("band", "band_hash")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") > max_bucket_size)
            .select("band", "band_hash")
        )
        banded = banded.join(
            F.broadcast(hot), ["band", "band_hash"], "left_anti"
        )
    # both self-join sides read this; its cached plan scans the sigs
    # cache (x240's executed plan), so it does not recompute the union
    banded = caching.persist(banded)

    # partner keeps its side bit through the candidate distinct: the same
    # id can legitimately exist on BOTH sides (a doc re-ingested under
    # its admitted id with edited text), and the re-attach must read
    # that side's signature — a bare-id join would fan out across sides
    # and compare an incoming signature with itself (spurious est 1.0)
    cand = (
        banded.where(~F.col("is_hist"))
        .alias("i")
        .join(banded.alias("p"), ["band", "band_hash"])
        .where(F.col("p.is_hist") | (F.col("p.doc") < F.col("i.doc")))
        .select(
            F.col("i.doc").alias("doc_id"),
            F.col("p.doc").alias("partner"),
            F.col("p.is_hist").alias("p_hist"),
        )
        .dropDuplicates(["doc_id", "partner", "p_hist"])
    )
    sl = sigs.where(~F.col("is_hist")).select(
        F.col("doc").alias("doc_id"), F.col("sig").alias("_si")
    )
    sr = sigs.select(
        F.col("doc").alias("partner"),
        F.col("is_hist").alias("p_hist"),
        F.col("sig").alias("_sp"),
    )
    est = (
        F.size(
            F.filter(
                F.zip_with("_si", "_sp", lambda x, y: (x == y).cast("int")),
                lambda v: v == 1,
            )
        )
        / F.lit(float(num_hashes))
    )
    hits = (
        cand.join(sl, "doc_id")
        .join(sr, ["partner", "p_hist"])
        .select("doc_id", "partner", est.alias("est"))
        # a partner ID present on both sides carries two signatures;
        # keep the strongest evidence per (doc, partner-id) so the
        # min-partner verdict below stays deterministic
        .groupBy("doc_id", "partner")
        .agg(F.max("est").alias("est"))
        .where(F.col("est") >= threshold)
        .groupBy("doc_id")
        .agg(
            F.min("partner").alias("matched_id"),
            F.min_by("est", "partner").alias("est_jaccard"),
        )
        .withColumnRenamed("doc_id", "rep")
    )
    # expand rep verdicts to the whole batch: a non-representative's min
    # qualifying partner is the smaller of its rep (an exact dup at est
    # 1.0) and the rep's own match — which can sort ABOVE the rep when
    # history ids do, hence least(), not coalesce()
    _nr_match = F.least(
        F.coalesce(F.col("matched_id"), F.col("rep")), F.col("rep")
    )
    return gmap.join(hits, "rep", "left").select(
        "doc_id",
        F.when(F.col("doc_id") == F.col("rep"), F.col("matched_id"))
        .otherwise(_nr_match)
        .alias("matched_id"),
        F.when(F.col("doc_id") == F.col("rep"), F.col("est_jaccard"))
        .when(_nr_match == F.col("rep"), F.lit(1.0))
        .otherwise(F.col("est_jaccard"))
        .alias("est_jaccard"),
        F.when(
            F.col("doc_id") == F.col("rep"), F.col("matched_id").isNull()
        )
        .otherwise(F.lit(False))
        .alias("keep"),
    )


def substring_duplicate_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_len: int = 40,
    min_docs: int = 2,
) -> DataFrame:
    """Substring-level duplicate detection (the span-granular complement
    to document-level dedup, after Lee et al.'s "Deduplicating Training
    Data" exact-substring pass): fingerprint every ``span_len``-char
    window of every document and report fingerprints that occur in at
    least ``min_docs`` DISTINCT documents — boilerplate, licence
    blocks, and quoted passages that whole-document hashing never sees.

    Plan shape: explode positions and compute md5(substr) in the same
    codegen stage as the scan, so the shuffle for the groupBy carries
    only (32-hex fingerprint, doc_id) pairs — document text never
    moves. Work is O(total_chars) rows; at 100 TB the production
    variant drops md5 for an 8-byte rolling hash and strides the
    window (stride s detects any duplicated span >= span_len + s - 1),
    cutting both row count and shuffle width ~s*4x; md5 at stride 1 is
    kept here for cross-engine oracle parity.
    """
    d = docs.where(F.length(text_col) >= span_len)
    pos = d.select(
        id_col,
        text_col,
        F.explode(
            F.sequence(F.lit(1), F.length(text_col) - (span_len - 1))
        ).alias("pos"),
    )
    grams = pos.select(
        id_col,
        F.md5(F.col(text_col).substr(F.col("pos"), F.lit(span_len))).alias(
            "gram"
        ),
    )
    return (
        grams.groupBy("gram")
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.min(id_col).alias("first_doc"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= min_docs)
    )

# --------------------------------------------------------------------------
# rare-shingle blocking + standalone connected components
# --------------------------------------------------------------------------

def rare_shingle_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    min_df: int = 2,
    max_df: int = 5,
) -> DataFrame:
    """Candidate near-dup pairs via RARE-SHINGLE BLOCKING — the
    hash-free complement to MinHash-LSH (classic entity-resolution
    blocking): two docs are candidates iff they share a shingle whose
    corpus document-frequency lies in [min_df, max_df].

    Scale shape: the per-shingle self-join fan-out is bounded by
    C(max_df, 2) pairs, so total candidates <= #rare_shingles *
    C(max_df, 2) — never quadratic in corpus size. The shuffle carries
    (shingle, doc_id) pairs only; document text never moves. Shingles
    with df > max_df are exactly the boilerplate keys LSH needs a
    hot-bucket cap for — here they are excluded by construction, and
    df=1 shingles cannot witness a pair. Deterministic (no hash
    functions), hence DuckDB-oracle-checkable end to end.
    """
    flat = shingle_explode(docs, text_col, id_col, shingle_n).distinct()
    rare = (
        flat.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .where((F.col("df") >= min_df) & (F.col("df") <= max_df))
        .select("s")
    )
    rflat = flat.join(rare, "s")
    a = rflat.withColumnRenamed("doc", "id_a")
    b = rflat.withColumnRenamed("doc", "id_b")
    return (
        a.join(b, "s")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def blocked_dedup_components(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    min_df: int = 2,
    max_df: int = 5,
    threshold: float = 0.3,
) -> DataFrame:
    """Standalone connected-components dedup: rare-shingle blocking →
    exact shingle-Jaccard confirm at ``threshold`` → transitive closure
    via distributed label propagation (``dedup_clusters``). Returns
    (doc, cluster_id = min doc id in component) for every doc that has
    at least one confirmed near-dup.

    Unlike the MinHash pipeline (x25, rows-only checked), every stage
    here is deterministic, so the full iterative algorithm is
    hash-verified against a DuckDB WITH RECURSIVE reachability oracle.
    """
    cands = rare_shingle_pairs(docs, text_col, id_col, shingle_n, min_df, max_df)
    conf = ngram_jaccard_pairs(docs, cands, text_col, id_col, shingle_n).where(
        F.col("jaccard") >= threshold
    )
    return dedup_clusters(conf.select("id_a", "id_b"))


def minhash_dedup_components(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_n: int = 3,
    **lsh_kwargs,
) -> DataFrame:
    """MinHash sibling of ``blocked_dedup_components``: banded-LSH
    candidates → exact shingle-Jaccard confirm at ``threshold`` →
    transitive closure. Returns (doc, cluster_id = min doc id in
    component) for every doc with at least one confirmed near-dup —
    the higher-recall configuration for long documents (x3/x25 chain),
    where the blocked variant is the fully deterministic, oracle-
    verified one.

    Cache discipline: ``minhash_lsh_pairs`` persists its signature
    frame for the self-join; ``dedup_clusters`` eagerly
    localCheckpoints its labels (truncating lineage), so that cache is
    dead weight by the time this returns — the scope here releases it
    rather than leaving it to the ambient owner.

    Scale note: EXACT-COLLAPSE FIRST (``exact_dedup_normalized``, the
    x1/x2 hash groupBy) and hand this only the min-id copies, the way
    ``pipeline.curate`` and ``pipeline.prepare_training_data`` do.
    Exact copies share identical signatures and buckets, so the
    in-bucket pair work grows quadratically with duplication (a 30×
    replicated corpus measured 6.8× wall-clock without the collapse vs
    2.3× with it, docs/SCALE.md), and a corpus-scale pile of identical
    docs overflows the hot-bucket cap and escapes dedup entirely."""
    with caching.scope():
        cand = minhash_lsh_pairs(docs, text_col, id_col, **lsh_kwargs)
        conf = ngram_jaccard_pairs(
            docs, cand.select("id_a", "id_b"), text_col, id_col, shingle_n
        ).where(F.col("jaccard") >= threshold)
        return dedup_clusters(conf.select("id_a", "id_b"))


def duplicate_ngram_coverage(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 5,
    min_df: int = 2,
) -> DataFrame:
    """Per-document duplicate-n-gram coverage (the RefinedWeb /
    MassiveText "fraction of tokens inside duplicated n-grams" signal,
    computed CROSS-corpus): fraction of a doc's token positions covered
    by at least one ``shingle_n``-gram that occurs in >= ``min_df``
    distinct documents. High coverage => boilerplate / templated text
    even when no whole-document near-dup exists.

    Plan shape (r10): positioned shingles come from posexplode of the
    per-doc shingle ARRAY (tokens materialized once — the
    ``shingle_explode`` two-projection shape), so the old window-LEAD
    assembly's corpus-sized (doc, pos, token) exchange+sort is gone;
    the df aggregate shuffles (shingle, doc) pairs; coverage expands
    each duplicated shingle hit into its shingle_n positions (bounded
    fan-out) and counts distinct positions per doc — text never moves
    after the scan, and every aggregate is map-side combinable.
    """
    base = _fan_out(docs).select(
        F.col(id_col).alias("doc"),
        tokens(normalize_text(F.col(text_col))).alias("_toks"),
    )
    t = F.col("_toks")
    k = F.size(t) - (shingle_n - 1)
    arr = F.when(  # full shingles only: NULL (no rows) when k <= 0
        k > 0,
        F.transform(
            F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(t, i, shingle_n)),
        ),
    )
    sh = base.select(
        "doc", F.posexplode(arr).alias("pos", "s")
    )  # array index 0.. == token position of the shingle start
    dup = (
        sh.select("doc", "s")
        .distinct()
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= min_df)
        .select("s")
    )
    covered = (
        sh.join(dup, "s")
        .select("doc", F.explode(F.sequence("pos", F.col("pos") + (shingle_n - 1))).alias("cp"))
        .distinct()
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("dup_tokens"))
    )
    # per-doc token totals are row-local (size of the materialized
    # array) — the old explode+count pass re-scanned every token row
    totals = base.where(F.size(t) >= 1).select(
        "doc", F.size(t).cast("long").alias("n_tokens")
    )
    return (
        totals.join(covered, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            "n_tokens",
            F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
            F.round(
                F.coalesce("dup_tokens", F.lit(0)) / F.col("n_tokens"), 6
            ).alias("dup_frac"),
        )
    )


def split_ngram_contamination(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 5,
) -> DataFrame:
    """Cross-split n-gram contamination audit (the GPT-3 §4 recipe,
    turned inward on the train/val/test assignment of x24's md5 split):
    for every held-out (val/test) doc, the fraction of its distinct
    ``shingle_n``-grams that also occur in ANY training doc. High overlap
    means the held-out example is effectively memorizable from train —
    the NEAR-dup complement of x53's exact-hash split-leakage audit.

    Returns (doc_id, split, n_shingles, n_shared, shared_frac,
    contaminated) for held-out docs with >= 1 token (zero-token docs
    have no shingles and emit no row — the shingle_explode contract).

    Scale shape: shingles materialize once (posexplode + LEAD); the
    train-shingle set is a distinct projection; the audit is a
    (shingle, doc)-keyed left-semi-style join whose shuffle carries
    token-sized keys only — document text never moves after the scan."""
    h = F.md5(F.col(id_col).cast("string"))
    bucket = (
        F.ascii(F.substring(h, 1, 1)) * 256 + F.ascii(F.substring(h, 2, 1))
    ) % 100
    split = (
        F.when(bucket < 5, "val").when(bucket < 15, "test").otherwise("train")
    )
    assigned = docs.select(F.col(id_col), split.alias("split"), F.col(text_col))
    sh = shingle_explode(assigned, text_col, id_col, shingle_n).distinct()
    with_split = sh.join(
        assigned.select(F.col(id_col).alias("doc"), "split"), "doc"
    )
    train_sh = (
        with_split.where(F.col("split") == "train").select("s").distinct()
    )
    held = with_split.where(F.col("split") != "train")
    shared = (
        held.join(train_sh.withColumn("_hit", F.lit(1)), "s", "left")
        .groupBy("doc", "split")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count_if(F.col("_hit").isNotNull()).alias("n_shared"),
        )
    )
    frac = F.col("n_shared") / F.col("n_shingles")
    return shared.select(
        F.col("doc").alias(id_col),
        "split",
        "n_shingles",
        "n_shared",
        F.round(frac, 6).alias("shared_frac"),
        (frac >= 0.5).alias("contaminated"),
    )


def containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    min_df: int = 2,
    max_df: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """Asymmetric near-dup detection via the OVERLAP COEFFICIENT
    |S(a) ∩ S(b)| / min(|S(a)|, |S(b)|) — the quote/inclusion signal
    Jaccard structurally misses: a short doc fully embedded in a long
    one has tiny Jaccard (union is dominated by the long doc) but
    containment 1.0. The curation use is stripping quoted/excerpted
    training docs that whole-doc dedup keeps.

    Candidates come from ``rare_shingle_pairs`` (df-bounded blocking, so
    pair fan-out stays <= #rare_shingles * C(max_df, 2) — never n²);
    the confirm stage joins each candidate to its two distinct-shingle
    arrays by id (text moves only into the bounded candidate set).
    Deterministic end to end, hence DuckDB-oracle-checkable."""
    cands = rare_shingle_pairs(docs, text_col, id_col, shingle_n, min_df, max_df)
    sh = shingle_sets(docs, text_col, id_col, shingle_n)
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    smaller = F.least(F.size("sh_a"), F.size("sh_b"))
    return (
        cands.join(sh.withColumnsRenamed({"doc": "id_a", "sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({"doc": "id_b", "sh": "sh_b"}), "id_b")
        .select(
            "id_a",
            "id_b",
            inter.alias("n_inter"),
            F.size("sh_a").alias("size_a"),
            F.size("sh_b").alias("size_b"),
            F.round(inter / smaller, 6).alias("containment"),
        )
        .where(F.col("containment") >= threshold)
    )


def canonical_representatives(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    min_df: int = 2,
    max_df: int = 5,
    threshold: float = 0.3,
) -> DataFrame:
    """Duplicate-cluster canonicalization (verdict r3/r4 optional item b):
    within every near-dup component from ``blocked_dedup_components``,
    elect the best representative by ``textstats.quality_score`` (ties
    broken by min doc id) — the keep-decision a curation pipeline applies
    after clustering, upgraded from "keep the min id" to "keep the best
    copy". Returns one row per cluster: (cluster_id, n_members,
    canonical_doc, canonical_quality).

    Scale shape: components come from the df-bounded blocking chain
    (never n²); quality is a scan-side expression over the members only
    (the components frame carries ids, so the text of non-clustered docs
    is pruned at the join); the argmax is a per-cluster window whose
    partitions are near-dup clusters — small by construction."""
    from .textstats import quality_score
    from pyspark.sql import Window

    comps = blocked_dedup_components(
        docs, text_col, id_col, shingle_n, min_df, max_df, threshold
    )
    scored = docs.select(
        F.col(id_col).alias("doc"),
        F.round(quality_score(F.col(text_col)), 4).alias("q"),
    )
    members = comps.join(scored, "doc")
    w = Window.partitionBy("cluster_id").orderBy(F.desc("q"), F.asc("doc"))
    return (
        members.select(
            "cluster_id",
            "doc",
            "q",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1))
            .over(Window.partitionBy("cluster_id"))
            .alias("n_members"),
        )
        .where(F.col("rn") == 1)
        .select(
            "cluster_id",
            "n_members",
            F.col("doc").alias("canonical_doc"),
            F.col("q").alias("canonical_quality"),
        )
    )


def duplicate_span_intervals(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_len: int = 40,
    min_docs: int = 2,
) -> DataFrame:
    """MAXIMAL duplicated spans per document (verdict r3/r4 optional item
    a — the span-granularity upgrade of ``substring_duplicate_spans``,
    after Lee et al.'s exact-substring dedup): every ``span_len``-char
    window shared with >= ``min_docs`` distinct documents marks its
    character range as duplicated; overlapping/adjacent ranges merge
    into maximal intervals (gaps-and-islands), so a 500-char licence
    block reports as ONE (start, end) span instead of 461 fingerprints.
    A span of exactly span_len chars is a lone duplicated window; longer
    spans mean consecutive windows matched, i.e. a duplicated substring
    of that full length exists across documents.

    Plan shape: fingerprints are computed scan-side (same stage as the
    scan, md5 over substr); the df aggregate and the hit join shuffle
    (32-hex, doc, pos) rows only — text never moves. The island window
    partitions BY DOCUMENT (bounded by max doc length), never globally;
    interval merge is lag + running-sum-of-breaks, both map-side within
    the partition. At 100 TB swap md5 for an 8-byte rolling hash and
    stride the window (stride s still detects spans >= span_len + s - 1);
    md5 at stride 1 is kept for cross-engine oracle parity."""
    from pyspark.sql import Window

    d = _fan_out(docs.where(F.length(text_col) >= span_len))
    grams = d.select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.sequence(F.lit(1), F.length(text_col) - (span_len - 1))
        ).alias("pos"),
        F.col(text_col),
    ).select(
        "doc",
        "pos",
        F.md5(F.col(text_col).substr(F.col("pos"), F.lit(span_len))).alias(
            "gram"
        ),
    )
    dup = (
        grams.groupBy("gram")
        .agg(F.countDistinct("doc").alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
        .select("gram")
    )
    hits = grams.join(dup, "gram").select("doc", "pos")
    w = Window.partitionBy("doc").orderBy("pos")
    flagged = hits.select(
        "doc",
        "pos",
        F.when(
            F.lag("pos").over(w).isNull()
            | (F.col("pos") > F.lag("pos").over(w) + span_len),
            1,
        )
        .otherwise(0)
        .alias("brk"),
    )
    isl = flagged.select(
        "doc",
        "pos",
        F.sum("brk")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("island"),
    )
    return (
        isl.groupBy("doc", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (span_len - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select(
            "doc",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_chars"),
            "n_windows",
        )
    )


def span_boilerplate_blocks(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_len: int = 40,
    min_docs: int = 2,
) -> DataFrame:
    """The boilerplate-block CATALOG a curation pipeline builds from the
    maximal duplicated spans (``duplicate_span_intervals``): extract each
    span's text, fingerprint it, and aggregate — which blocks exist, how
    long they are, how many documents and occurrences carry them. The
    output is the blocklist you then scrub new batches against.

    Scale shape: spans (not documents) join back to their source text —
    the join is keyed on the doc id and Catalyst prunes to (id, text);
    the catalog groupBy keys on the 32-hex block fingerprint computed
    scan-side, so the aggregate shuffle carries hashes + counts and is
    map-side combinable. Same-hash → same text → same span_chars, so
    span_chars rides in the group key for free."""
    spans = duplicate_span_intervals(docs, text_col, id_col, span_len, min_docs)
    texted = spans.join(
        docs.select(F.col(id_col).alias("doc"), F.col(text_col)), "doc"
    )
    block = F.col(text_col).substr(F.col("span_start"), F.col("span_chars"))
    return (
        texted.select(
            F.md5(block).alias("block_hash"), "span_chars", "doc"
        )
        .groupBy("block_hash", "span_chars")
        .agg(
            F.countDistinct("doc").alias("n_docs"),
            F.count(F.lit(1)).alias("n_spans"),
            F.min("doc").alias("first_doc"),
        )
    )


def span_scrub_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_len: int = 40,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document scrub audit for exact-substring dedup: how many
    characters each document would LOSE if its duplicated maximal spans
    (``duplicate_span_intervals``) were cut — (doc, n_chars, dup_chars,
    n_spans, dup_frac) for EVERY document (zero for span-free docs).
    This is the accounting step before a destructive scrub: the
    dup_frac histogram decides cut-vs-drop thresholds.

    Scale shape: spans reduce to a per-doc (sum, count) aggregate before
    the join; the left join against the id+length projection never
    carries text. Map-side combinable end to end."""
    spans = duplicate_span_intervals(docs, text_col, id_col, span_len, min_docs)
    per_doc = spans.groupBy("doc").agg(
        F.sum("span_chars").alias("dup_chars"),
        F.count(F.lit(1)).alias("n_spans"),
    )
    base = docs.select(
        F.col(id_col).alias("doc"), F.length(text_col).alias("n_chars")
    )
    dup = F.coalesce(F.col("dup_chars"), F.lit(0)).cast("long")
    return base.join(per_doc, "doc", "left").select(
        "doc",
        "n_chars",
        dup.alias("dup_chars"),
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
        F.round(dup / F.greatest(F.col("n_chars"), F.lit(1)), 6).alias(
            "dup_frac"
        ),
    )


def scrub_duplicate_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_len: int = 40,
    min_docs: int = 2,
    drop_frac: float = 0.8,
) -> DataFrame:
    """The DESTRUCTIVE counterpart of ``span_scrub_stats``: cut every
    maximal duplicated span (``duplicate_span_intervals``) out of its
    document's text, and flag documents that are mostly duplicated
    (``dup_frac >= drop_frac``) for dropping instead of scrubbing —
    Lee et al.'s exact-substring dedup applied, not just measured.
    Returns every input doc with (text scrubbed, n_chars, dup_chars,
    n_spans, dup_frac, action ∈ {keep, scrub, drop}); callers filter on
    ``action != 'drop'``. Span-free documents pass through unchanged.

    Stats convention: ``n_chars`` / ``dup_chars`` / ``dup_frac`` describe
    the INPUT text (matching ``span_scrub_stats``, so the two agree row
    for row), while the returned ``text`` column is the post-scrub
    rewrite — ``n_chars`` is NOT the length of the returned text for
    ``action = 'scrub'`` rows (that length is ``n_chars - dup_chars``).

    Scale shape: the spans frame (doc, start, chars) aggregates to ONE
    array per affected document — bounded by doc length / span_len, never
    corpus-sized — and the cut itself is a JVM ``aggregate`` over that
    sorted array (substring concat between spans), so text is rewritten
    in the same stage it is read; no Python, no extra shuffle beyond the
    span join keyed on doc id."""
    spans = duplicate_span_intervals(docs, text_col, id_col, span_len, min_docs)
    per_doc = spans.groupBy("doc").agg(
        F.array_sort(
            F.collect_list(F.struct("span_start", "span_chars"))
        ).alias("spans"),
        F.sum("span_chars").alias("dup_chars"),
        F.count(F.lit(1)).alias("n_spans"),
    )
    joined = docs.join(
        per_doc, docs[id_col] == per_doc["doc"], "left"
    ).drop("doc")
    txt = F.col(text_col)
    # fold the sorted spans: keep [pos, span_start), skip the span
    cut = F.aggregate(
        F.col("spans"),
        F.struct(F.lit(1).alias("pos"), F.lit("").alias("acc")),
        lambda st, s: F.struct(
            (s["span_start"] + s["span_chars"]).alias("pos"),
            F.concat(
                st["acc"], txt.substr(st["pos"], s["span_start"] - st["pos"])
            ).alias("acc"),
        ),
        lambda st: F.concat(
            st["acc"], txt.substr(st["pos"], F.length(txt) - st["pos"] + 1)
        ),
    )
    dup = F.coalesce(F.col("dup_chars"), F.lit(0)).cast("long")
    frac = dup / F.greatest(F.length(txt), F.lit(1))
    action = (
        F.when(F.col("spans").isNull(), F.lit("keep"))
        .when(frac >= drop_frac, F.lit("drop"))
        .otherwise(F.lit("scrub"))
    )
    # pass-through columns exclude the stat columns this function emits,
    # so re-scrubbing a previous scrub's survivors (cutting spans can
    # splice new duplicated junctions) composes instead of producing
    # ambiguous duplicate column names
    stat_cols = {"n_chars", "dup_chars", "n_spans", "dup_frac", "action"}
    keep_cols = [
        c for c in docs.columns if c != text_col and c not in stat_cols
    ]
    return joined.select(
        *keep_cols,
        F.when(action == "scrub", cut).otherwise(txt).alias(text_col),
        F.length(txt).cast("long").alias("n_chars"),
        dup.alias("dup_chars"),
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
        F.round(frac, 6).alias("dup_frac"),
        action.alias("action"),
    )


def shingle_novelty(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Marginal-novelty attribution per source: credit each distinct
    corpus shingle to the source of its FIRST-seen document (min doc id
    = ingestion order), then report per source how much genuinely new
    content it contributes vs how much it repeats — the dataset-mixing
    diagnostic that says "source B is 80% re-crawl of A, cap it".

    Scale shape: both aggregates key on the shingle (vocab-sized, never
    doc-pairs); the source attachment is an id-keyed join carrying
    (doc, shingle) pairs; text never shuffles. Deterministic (min over
    unique ids), hence oracle-checkable."""
    src = docs.select(F.col(id_col).alias("doc"), "source")
    flat = (
        shingle_explode(docs, text_col, id_col, shingle_n)
        .select("doc", "s")
        .distinct()
    )
    per_source = (
        flat.join(src, "doc")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("s").alias("n_distinct"),
        )
    )
    first = flat.groupBy("s").agg(F.min("doc").alias("doc"))
    novel = (
        first.join(src, "doc")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    return (
        per_source.join(novel, "source", "left")
        .fillna(0, ["n_novel"])
        .select(
            "source",
            "n_occurrences",
            "n_distinct",
            "n_novel",
            F.round(
                F.col("n_novel").cast("double") / F.col("n_distinct"), 6
            ).alias("novelty_rate"),
        )
    )


def source_shingle_overlap(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Source-to-source content overlap: Jaccard similarity between the
    DISTINCT-shingle sets of every source pair (full matrix, zero-overlap
    pairs included) — the corpus-level companion to x93's doc-pair
    attribution. The shingle join fans out C(sources-sharing, 2) per
    shingle — bounded by the (tiny) source count squared, never by
    corpus size; unions come from per-source sizes, so no union
    materializes."""
    src = docs.select(F.col(id_col).alias("doc"), "source")
    srcsh = (
        shingle_explode(docs, text_col, id_col, shingle_n)
        .select("doc", "s")
        .distinct()
        .join(src, "doc")
        .select("source", "s")
        .distinct()
    )
    sizes = srcsh.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    shared = (
        srcsh.select(F.col("source").alias("source_a"), "s")
        .join(srcsh.select(F.col("source").alias("source_b"), "s"), "s")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    grid = (
        sizes.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
        .crossJoin(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("source_b"), F.col("n").alias("n_b")
                )
            )
        )
        .where(F.col("source_a") < F.col("source_b"))
    )
    return (
        grid.join(shared, ["source_a", "source_b"], "left")
        .fillna(0, ["n_shared"])
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
    )


def dedup_savings(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    shingle_n: int = 3,
    min_df: int = 2,
    max_df: int = 5,
    threshold: float = 0.3,
) -> DataFrame:
    """Dedup impact accounting: per source, what deduplication actually
    removes when every near-dup cluster keeps its best copy — document
    and token counts before/after, and the savings fractions. This is
    the report a curation pipeline publishes alongside the dedup pass
    (x93 says who copies whom; this says what it costs to fix).

    Removal rule matches ``canonical_representatives``: within each
    blocked component, keep the max ``quality_score`` member (ties ->
    min id), remove the rest.

    Scale shape: components come from the df-bounded blocking chain
    (never n^2); the elect-and-mark window partitions by cluster (near-
    dup clusters are small by construction) and carries (cluster, doc,
    q) only; the final rollup is one source-keyed aggregate over
    (id, source, token_count) — text never shuffles."""
    from pyspark.sql import Window

    from .textstats import quality_score, token_count

    comps = blocked_dedup_components(
        docs, text_col, id_col, shingle_n, min_df, max_df, threshold
    )
    scored = docs.select(
        F.col(id_col).alias("doc"),
        F.round(quality_score(F.col(text_col)), 4).alias("q"),
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("q"), F.asc("doc"))
    removed = (
        comps.join(scored, "doc")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") > 1)
        .select("doc", F.lit(1).alias("removed"))
    )
    base = docs.select(
        F.col(id_col).alias("doc"),
        F.col(group_col).alias("source"),
        token_count(F.col(text_col)).alias("nt"),
    )
    rm = F.coalesce(F.col("removed"), F.lit(0))
    return (
        base.join(removed, "doc", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(rm).cast("long").alias("docs_removed"),
            F.sum("nt").cast("long").alias("tokens_total"),
            F.sum(F.col("nt") * rm).cast("long").alias("tokens_removed"),
        )
        .select(
            "source",
            "n_docs",
            "docs_removed",
            "tokens_total",
            "tokens_removed",
            F.round(
                F.col("docs_removed").cast("double") / F.col("n_docs"), 6
            ).alias("doc_savings"),
            F.round(
                F.col("tokens_removed").cast("double")
                / F.col("tokens_total"),
                6,
            ).alias("token_savings"),
        )
    )


def repeated_sentences(
    docs: DataFrame,
    min_docs: int = 2,
    min_chars: int = 20,
    top_k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sentence-granular boilerplate catalog: segment every document at
    [.!?]+ boundaries, trim, and surface the ``top_k`` sentences (of at
    least ``min_chars`` chars) repeated across at least ``min_docs``
    distinct documents — the template/disclaimer detector at the
    granularity x86's fixed-width char grams approximate. Rows carry the
    md5 key, doc/occurrence counts, sentence length, and the sentence
    itself as the scrub-list payload.

    Scale shape: the sentence explode is corpus-sized but collapses
    map-side into per-sentence-hash counts (the shuffle carries one
    row per distinct sentence: hash + counts + one exemplar via min —
    never per-occurrence text); the final top-k is TakeOrdered with a
    (docs desc, hash asc) total order."""
    sent = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.filter(
                F.transform(
                    F.split(F.col(text_col), r"[.!?]+"),
                    lambda s: F.trim(s),
                ),
                lambda s: F.length(s) >= min_chars,
            )
        ).alias("sentence"),
    )
    counts = sent.groupBy(F.md5(F.col("sentence")).alias("sentence_md5")).agg(
        F.countDistinct("doc").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        F.min("sentence").alias("sentence"),
    )
    return (
        counts.where(F.col("n_docs") >= min_docs)
        .select(
            "sentence_md5",
            "n_docs",
            "n_occurrences",
            F.length("sentence").cast("long").alias("n_chars"),
            "sentence",
        )
        .orderBy(F.desc("n_docs"), "sentence_md5")
        .limit(top_k)
    )


def neardup_split_contamination(
    docs: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    split_col: str = "split",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """NEAR-duplicate train/test leakage audit: run the banded
    MinHash-LSH candidate generation across the WHOLE corpus, keep
    candidate pairs whose estimated Jaccard clears ``threshold`` and
    whose members sit in different splits, and summarize per split
    pair — the fuzzy companion to the exact n-gram contamination check
    (y4): a paraphrased or lightly-edited test document sails through
    exact n-gram matching but still collides in MinHash bands.

    One row per unordered split pair: (split_lo, split_hi, n_pairs,
    n_docs_involved, mean_est_jaccard). Scale shape: everything rides
    :func:`minhash_lsh_pairs` (banded buckets, hot-bucket cap — never
    all-pairs); the split attachment is a doc-keyed equi join of
    (id, split); the rollup is a <=3-cell aggregate."""
    pairs = minhash_lsh_pairs(docs, text_col, id_col, hash_fn=hash_fn)
    splits = docs.select(
        F.col(id_col).alias("_id"), F.col(split_col).alias("_sp")
    )
    labeled = (
        pairs.join(
            splits.select(
                F.col("_id").alias("id_a"), F.col("_sp").alias("sp_a")
            ),
            "id_a",
        )
        .join(
            splits.select(
                F.col("_id").alias("id_b"), F.col("_sp").alias("sp_b")
            ),
            "id_b",
        )
        .where(
            (F.col("sp_a") != F.col("sp_b"))
            & (F.col("est_jaccard") >= threshold)
        )
        .select(
            F.least("sp_a", "sp_b").alias("split_lo"),
            F.greatest("sp_a", "sp_b").alias("split_hi"),
            "id_a",
            "id_b",
            "est_jaccard",
        )
    )
    per_pair = labeled.groupBy("split_lo", "split_hi").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(F.avg("est_jaccard"), 6).alias("mean_est_jaccard"),
    )
    docs_involved = (
        labeled.select(
            "split_lo",
            "split_hi",
            F.explode(F.array("id_a", "id_b")).alias("d"),
        )
        .distinct()
        .groupBy("split_lo", "split_hi")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs_involved"))
    )
    return per_pair.join(docs_involved, ["split_lo", "split_hi"]).select(
        "split_lo",
        "split_hi",
        "n_pairs",
        "n_docs_involved",
        "mean_est_jaccard",
    )


def clean_eval_report(
    docs: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    split_col: str = "split",
    lang_col: str = "lang",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Decontaminated-eval extraction accounting: after excluding every
    held-out document with a near-duplicate (banded MinHash-LSH
    candidate at >= ``threshold`` estimated Jaccard) in the TRAIN
    split, how much eval data survives, per language — the size report
    that accompanies a "clean" benchmark release
    (:func:`neardup_split_contamination` finds the pairs; this is the
    eval-side consequence).

    Scale shape: candidate pairs ride the banded LSH (never
    all-pairs); contaminated ids collapse to a distinct id frame,
    attached to the held-out docs with a doc-keyed LEFT ANTI membership
    join; the rollup is language cells."""
    pairs = minhash_lsh_pairs(docs, text_col, id_col, hash_fn=hash_fn)
    splits = docs.select(
        F.col(id_col).alias("_id"),
        F.col(split_col).alias("_sp"),
        F.col(lang_col).alias("_lang"),
    )
    labeled = (
        pairs.where(F.col("est_jaccard") >= threshold)
        .join(
            splits.select(
                F.col("_id").alias("id_a"), F.col("_sp").alias("sp_a")
            ),
            "id_a",
        )
        .join(
            splits.select(
                F.col("_id").alias("id_b"), F.col("_sp").alias("sp_b")
            ),
            "id_b",
        )
    )
    contaminated = (
        labeled.where(
            (F.col("sp_a") == "train") & (F.col("sp_b") != "train")
        )
        .select(F.col("id_b").alias("_id"))
        .union(
            labeled.where(
                (F.col("sp_b") == "train") & (F.col("sp_a") != "train")
            ).select(F.col("id_a").alias("_id"))
        )
        .distinct()
    )
    held = splits.where(F.col("_sp") != "train")
    kept = held.join(contaminated, "_id", "left_anti")
    tot = held.groupBy(F.col("_lang").alias("lang")).agg(
        F.count(F.lit(1)).cast("long").alias("n_heldout")
    )
    surv = kept.groupBy(F.col("_lang").alias("lang")).agg(
        F.count(F.lit(1)).cast("long").alias("n_kept")
    )
    return tot.join(surv, "lang", "left").select(
        "lang",
        "n_heldout",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        (F.col("n_heldout") - F.coalesce("n_kept", F.lit(0))).alias(
            "n_excluded"
        ),
        F.round(
            F.coalesce("n_kept", F.lit(0)).cast("double")
            / F.col("n_heldout"),
            6,
        ).alias("kept_share"),
    )


def dedup_worklist(
    docs: DataFrame,
    top_k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup triage worklist: the ``top_k`` near-duplicate clusters
    ranked by WASTED tokens (cluster total minus the longest member —
    what deleting the duplicates actually buys), with sizes and the
    representative id. The prioritized to-do list a curation team works
    through, distilled from x67's full component map.

    Scale shape: clusters come from :func:`blocked_dedup_components`
    (bounded blocking, label propagation); token counts are row-local;
    the rollup is cluster-keyed; the ranking is TakeOrdered with id
    tie-break."""
    comp = blocked_dedup_components(docs, text_col, id_col)
    toks = docs.select(
        F.col(id_col).alias("doc"),
        F.size(tokens(normalize_text(F.col(text_col)))).cast("long").alias(
            "n_tok"
        ),
    )
    joined = comp.join(toks, "doc")
    return (
        joined.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.max("n_tok").cast("long").alias("kept_tokens"),
        )
        .select(
            "cluster_id",
            "n_docs",
            "total_tokens",
            "kept_tokens",
            (F.col("total_tokens") - F.col("kept_tokens")).alias(
                "wasted_tokens"
            ),
        )
        .orderBy(F.desc("wasted_tokens"), "cluster_id")
        .limit(top_k)
    )


def editdist_confirm_pairs(
    docs: DataFrame,
    max_edit: int = 20,
    prefix_len: int = 160,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Edit-distance confirmation layer over the MinHash-LSH candidate
    pairs: re-score each banded candidate with the TRUE Levenshtein
    distance between the documents' normalized opening passages and
    keep pairs within ``max_edit`` edits — the precision pass that
    separates lightly-edited near-dups from shingle-coincidence false
    positives (estimated Jaccard says "similar token sets"; edit
    distance says "actually the same passage"). Emits both scores so
    the x83-style calibration can compare them.

    Scale shape: candidates come from the banded LSH chain (bounded
    buckets, hot-bucket cap — never all-pairs); the confirm joins two
    ``prefix_len``-char prefixes by id and runs one O(prefix_len^2)
    JVM levenshtein per CANDIDATE pair. Integer distances, one exact
    rational similarity at 6 dp."""
    pairs = minhash_lsh_pairs(docs, text_col, id_col, hash_fn=hash_fn)
    pref = docs.select(
        F.col(id_col).alias("_id"),
        F.substring(normalize_text(F.col(text_col)), 1, prefix_len).alias("_p"),
    )
    joined = pairs.join(
        pref.select(F.col("_id").alias("id_a"), F.col("_p").alias("p_a")),
        "id_a",
    ).join(
        pref.select(F.col("_id").alias("id_b"), F.col("_p").alias("p_b")),
        "id_b",
    )
    d = F.levenshtein("p_a", "p_b")
    return (
        joined.select(
            "id_a",
            "id_b",
            "est_jaccard",
            d.cast("long").alias("edit_distance"),
            F.round(
                1.0
                - d.cast("double")
                / F.greatest(
                    F.greatest(F.length("p_a"), F.length("p_b")), F.lit(1)
                ).cast("double"),
                6,
            ).alias("prefix_sim"),
        )
        .where(F.col("edit_distance") <= max_edit)
        .orderBy("id_a", "id_b")
    )


def dup_cluster_histogram(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-duplicate cluster-size distribution: how many confirmed
    x67 components exist at each size, with cluster- and doc-mass
    shares — the shape report that tells a dedup rollout whether
    duplication is a long tail of pairs or a few mega-clusters (x178
    ranks the worst clusters; this is the whole distribution those
    worst cases sit in).

    Scale shape: everything rides blocked_dedup_components (bounded
    rare-shingle blocking + label propagation); sizes are one keyed
    count, the histogram lands on max-cluster-size cells, and the
    1-row total broadcasts back. All integers + two 6 dp shares."""
    comp = blocked_dedup_components(docs, text_col, id_col)
    sizes = comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("csize")
    )
    hist = sizes.groupBy("csize").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters")
    )
    tot = hist.agg(
        F.sum("n_clusters").cast("double").alias("tc"),
        F.sum(F.col("csize") * F.col("n_clusters")).cast("double").alias("td"),
    )
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            "csize",
            "n_clusters",
            (F.col("csize") * F.col("n_clusters")).cast("long").alias("n_docs"),
            F.round(F.col("n_clusters") / F.col("tc"), 6).alias(
                "cluster_share"
            ),
            F.round(F.col("csize") * F.col("n_clusters") / F.col("td"), 6)
            .alias("doc_share"),
        )
        .orderBy("csize")
    )


def dedup_threshold_roc(
    docs: DataFrame,
    truth_threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Operating-point sweep for the MinHash near-dup detector: over
    the LSH candidate set, score estimated Jaccard against the EXACT
    3-shingle Jaccard ground truth (positive at ``truth_threshold``)
    at decision thresholds 0.1..0.9 — precision/recall/FPR per
    threshold, the table you read before committing a dedup cutoff
    (x83 calibrates the estimator's bias; this prices each cutoff in
    actual keep/drop errors).

    Caveat by construction: recall here is WITHIN the candidate set —
    pairs the bands never surfaced are invisible (that generation
    recall is x3's banding guarantee, tested separately).

    Scale shape: candidates are band-bounded (never all-pairs); the
    exact confirm is one shingle-set join per candidate; the sweep
    explodes 9 threshold literals over the candidate frame and folds
    to 9 rows map-side."""
    cands = minhash_lsh_pairs(docs, text_col, id_col, hash_fn=hash_fn)
    exact = ngram_jaccard_pairs(docs, cands, text_col, id_col)
    scored = cands.join(exact, ["id_a", "id_b"]).select(
        "est_jaccard",
        (F.col("jaccard") >= truth_threshold).alias("is_pos"),
    )
    th = F.explode(
        F.array(*[F.lit(i / 10.0) for i in range(1, 10)])
    ).alias("threshold")
    swept = scored.select(th, "est_jaccard", "is_pos")
    cells = swept.groupBy("threshold").agg(
        F.sum(
            F.when(F.col("is_pos") & (F.col("est_jaccard") >= F.col("threshold")), 1)
            .otherwise(0)
        ).cast("long").alias("tp"),
        F.sum(
            F.when(~F.col("is_pos") & (F.col("est_jaccard") >= F.col("threshold")), 1)
            .otherwise(0)
        ).cast("long").alias("fp"),
        F.sum(
            F.when(F.col("is_pos") & (F.col("est_jaccard") < F.col("threshold")), 1)
            .otherwise(0)
        ).cast("long").alias("fn"),
        F.sum(
            F.when(~F.col("is_pos") & (F.col("est_jaccard") < F.col("threshold")), 1)
            .otherwise(0)
        ).cast("long").alias("tn"),
    )
    prec = F.when(
        F.col("tp") + F.col("fp") > 0,
        F.round(F.col("tp") / (F.col("tp") + F.col("fp")).cast("double"), 6),
    )
    rec = F.when(
        F.col("tp") + F.col("fn") > 0,
        F.round(F.col("tp") / (F.col("tp") + F.col("fn")).cast("double"), 6),
    )
    fpr = F.when(
        F.col("fp") + F.col("tn") > 0,
        F.round(F.col("fp") / (F.col("fp") + F.col("tn")).cast("double"), 6),
    )
    return cells.select(
        "threshold", "tp", "fp", "fn", "tn",
        prec.alias("precision"), rec.alias("recall"), fpr.alias("fpr"),
    ).orderBy("threshold")


def dup_flow_matrix(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    shingle_n: int = 3,
    min_df: int = 2,
    max_df: int = 5,
    threshold: float = 0.3,
) -> DataFrame:
    """Cross-source duplicate flow matrix ('who is scraping whom'):
    the x67 confirmed near-dup pairs rolled up by unordered source
    pair — within-source cells are internal duplication, off-diagonal
    cells are syndication/mirroring between feeds, the signal for
    dropping a source whose content is a copy of another.

    Scale shape: the x67 contract end-to-end (rare-shingle blocking
    bounds candidates at C(max_df,2) per shingle; text never moves);
    the rollup is a |sources|^2-cell aggregate plus a broadcast 1-row
    pair total."""
    cands = rare_shingle_pairs(docs, text_col, id_col, shingle_n, min_df, max_df)
    conf = ngram_jaccard_pairs(docs, cands, text_col, id_col, shingle_n).where(
        F.col("jaccard") >= threshold
    )
    src = docs.select(F.col(id_col), F.col(source_col).alias("_src"))
    flows = (
        conf.join(src.withColumnsRenamed({id_col: "id_a", "_src": "sa"}), "id_a")
        .join(src.withColumnsRenamed({id_col: "id_b", "_src": "sb"}), "id_b")
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
    tot = flows.agg(F.sum("n_pairs").cast("double").alias("n_total"))
    return (
        flows.crossJoin(F.broadcast(tot))
        .select(
            "source_a",
            "source_b",
            "n_pairs",
            (F.col("source_a") != F.col("source_b")).alias("cross_source"),
            F.round(F.col("n_pairs") / F.col("n_total"), 6).alias("share"),
        )
        .orderBy("source_a", "source_b")
    )


def source_originality(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    shingle_n: int = 3,
    min_df: int = 2,
    max_df: int = 5,
    threshold: float = 0.3,
) -> DataFrame:
    """Per-source originality accounting: how much of each source is
    copied content? Near-dup components (x67 chain) elect their best
    copy (the x84 rule); every NON-canonical member is a redundant
    copy charged against its source. originality = 1 - copies/docs —
    the per-feed score that decides which source gets dropped when two
    mirror each other (the source-level rollup of x217's pair flows).

    Scale shape: the df-bounded blocking chain, the per-cluster argmax
    window (clusters are small by construction), then a |sources|-cell
    rollup against the per-source doc counts."""
    from pyspark.sql import Window

    from .textstats import quality_score

    comps = blocked_dedup_components(
        docs, text_col, id_col, shingle_n, min_df, max_df, threshold
    )
    scored = docs.select(
        F.col(id_col).alias("doc"),
        F.round(quality_score(F.col(text_col)), 4).alias("q"),
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("q"), F.asc("doc"))
    flags = (
        comps.join(scored, "doc")
        .select("doc", F.row_number().over(w).alias("rn"))
        .join(
            docs.select(F.col(id_col).alias("doc"), F.col(source_col).alias("source")),
            "doc",
        )
    )
    agg = flags.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_in_clusters"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).cast("long")
        .alias("n_canonical"),
    )
    src = docs.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    joined = src.join(agg, "source", "left")
    n_in = F.coalesce("n_in_clusters", F.lit(0)).cast("long")
    n_can = F.coalesce("n_canonical", F.lit(0)).cast("long")
    return joined.select(
        "source",
        "n_docs",
        n_in.alias("n_in_clusters"),
        n_can.alias("n_canonical"),
        (n_in - n_can).alias("n_copies"),
        F.round(
            1.0 - (n_in - n_can) / F.col("n_docs").cast("double"), 6
        ).alias("originality"),
    ).orderBy("source")


# (bands, rows_per_band) configurations of the 64-hash MinHash family
LSH_PARAM_GRID = ((32, 2), (16, 4), (8, 8))


def lsh_capture_prob(s: float, bands: int, rows: int) -> float:
    """P(candidate | Jaccard = s) = 1 - (1 - s^rows)^bands for the
    banded MinHash scheme, computed by repeated squaring (rows and
    bands are powers of two) so any IEEE engine reproduces the exact
    double."""
    x = s
    k = 1
    while k < rows:
        x = x * x
        k *= 2
    y = 1.0 - x
    k = 1
    while k < bands:
        y = y * y
        k *= 2
    return 1.0 - y


def lsh_parameter_plan(
    docs: DataFrame,
    threshold: float = 0.3,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """LSH band/row planner against the OBSERVED pair-similarity mass:
    for each (bands, rows) split of the 64-hash MinHash budget, the
    expected true pairs captured (Jaccard >= threshold) and false
    candidates admitted (below threshold), weighting the banded
    S-curve by the corpus's actual candidate-pair similarity histogram
    — the artifact that picks x3's configuration BEFORE the 100 TB
    run, from a cheap deterministic sample. (x83 calibrates the chosen
    config after the fact; this chooses it.)

    Determinism: the S-curve values are Python-computed literals
    (repeated squaring), the histogram is integer counts, and the
    mass folds run as ordered windows over the <= 20 bins.

    Scale shape: the rare-shingle pair scan (df-bounded), a 20-cell
    histogram, a 60-row literal lookup join, ordered cell folds."""
    from pyspark.sql import Window

    cands = rare_shingle_pairs(docs, text_col, id_col, shingle_n)
    sims = ngram_jaccard_pairs(docs, cands, text_col, id_col, shingle_n)
    bins = sims.select(
        F.least(F.floor(F.col("jaccard") * 20), F.lit(19))
        .cast("int").alias("bin")
    ).groupBy("bin").agg(F.count(F.lit(1)).cast("long").alias("n"))
    lut_rows = []
    for b, r in LSH_PARAM_GRID:
        for bn in range(20):
            mid = (bn + 0.5) / 20.0
            lut_rows.append(
                (b, r, bn, mid >= threshold, lsh_capture_prob(mid, b, r))
            )
    lut = docs.sparkSession.createDataFrame(
        lut_rows,
        schema="bands int, rows_per_band int, bin int, is_true boolean, p double",
    )
    joined = bins.join(F.broadcast(lut), "bin")
    wf = (
        Window.partitionBy("bands", "rows_per_band")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    tp = F.when(F.col("is_true"), F.col("n") * F.col("p")).otherwise(0.0)
    fp = F.when(~F.col("is_true"), F.col("n") * F.col("p")).otherwise(0.0)
    tmass = F.when(F.col("is_true"), F.col("n")).otherwise(F.lit(0))
    fmass = F.when(~F.col("is_true"), F.col("n")).otherwise(F.lit(0))
    folded = joined.select(
        "bands",
        "rows_per_band",
        F.row_number().over(
            Window.partitionBy("bands", "rows_per_band").orderBy("bin")
        ).alias("rn"),
        F.sum(tp).over(wf).alias("exp_true_captured"),
        F.sum(fp).over(wf).alias("exp_false_captured"),
        F.sum(tmass).over(wf).cast("long").alias("n_true_pairs"),
        F.sum(fmass).over(wf).cast("long").alias("n_false_pairs"),
    ).where(F.col("rn") == 1)
    return folded.select(
        "bands",
        "rows_per_band",
        "n_true_pairs",
        "n_false_pairs",
        F.round(F.col("exp_true_captured"), 6).alias("exp_true_captured"),
        F.round(F.col("exp_false_captured"), 6).alias("exp_false_captured"),
        F.when(
            F.col("n_true_pairs") > 0,
            F.round(
                F.col("exp_true_captured")
                / F.col("n_true_pairs").cast("double"),
                6,
            ),
        ).alias("recall_proxy"),
        F.when(
            F.col("n_false_pairs") > 0,
            F.round(
                F.col("exp_false_captured")
                / F.col("n_false_pairs").cast("double"),
                6,
            ),
        ).alias("fp_capture_rate"),
    ).orderBy("bands")
