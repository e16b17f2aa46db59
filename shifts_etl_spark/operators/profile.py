"""Table profiling — per-column summary statistics in ONE pass.

The data-quality companion to operators/quality.py: where quality.py
enforces constraints, profile.py measures (row counts, null rates, numeric
min/max/mean, distinct estimates). One job per table regardless of column
count — every statistic is a map-side-combinable aggregate over a single
scan, so profiling a 100 TB table costs one read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import NumericType


def profile_table(df: DataFrame, approx_distinct: bool = True) -> DataFrame:
    """Long-format profile: one row per column with
    (column, n_rows, n_nulls, n_distinct, min_val, max_val, mean_val) —
    min/max/mean as strings/doubles so heterogeneous columns stack.
    ``approx_distinct`` uses HyperLogLog++ (the only sane choice at scale);
    exact mode exists for oracle comparison."""
    aggs = []
    for f in df.schema.fields:
        c = F.col(f.name)
        distinct = (
            F.approx_count_distinct(f.name)
            if approx_distinct
            else F.countDistinct(f.name)
        )
        is_num = isinstance(f.dataType, NumericType)
        aggs.append(
            F.struct(
                F.lit(f.name).alias("column"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(c.isNull().cast("long")).alias("n_nulls"),
                distinct.alias("n_distinct"),
                F.min(c).cast("string").alias("min_val"),
                F.max(c).cast("string").alias("max_val"),
                (
                    F.round(F.avg(c), 4) if is_num else F.lit(None).cast("double")
                ).alias("mean_val"),
            ).alias(f"_{f.name}")
        )
    one_row = df.agg(*aggs)
    stacked = one_row.select(
        F.explode(F.array(*[f"_{f.name}" for f in df.schema.fields])).alias("p")
    )
    return stacked.select("p.*")


def embedding_covariance(
    emb: DataFrame,
    vec_col: str = "embedding",
    round_decimals: int = 6,
) -> DataFrame:
    """Population covariance matrix of an embedding column, upper triangle
    as (i, j, cov) rows with 0-based dims — the input to whitening / PCA
    and the drift detector for embedding spaces (cov shift between two
    snapshots flags an encoder change x59's per-dim stats can't see).

    Scale shape: one pass; each Arrow batch folds to dim·(dim+1)/2
    partial rows (count, Σvi, Σvj, Σvi·vj) via a numpy outer product
    inside mapInPandas — the sanctioned columnar-batch path; a per-row
    built-in expression form would need dim² aggregate columns through
    codegen. The (i, j) reduce then carries only partials (#batches ×
    triangle), never vectors, and cov = (Σvivj − ΣviΣvj/n)/n folds
    exactly. Rounded so cross-engine summation order can't leak."""
    import numpy as np
    import pandas as pd

    first = emb.select(vec_col).first()
    if first is None:
        raise ValueError("embedding_covariance: input has no rows")
    dim = len(first[0])
    iu, ju = np.triu_indices(dim)

    def _partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.asarray(
                [np.asarray(x, dtype=np.float64) for x in pdf[vec_col]]
            )
            s = m.sum(axis=0)
            p = m.T @ m
            yield pd.DataFrame(
                {
                    "i": iu.astype("int32"),
                    "j": ju.astype("int32"),
                    "n": np.full(len(iu), m.shape[0], dtype="int64"),
                    "si": s[iu],
                    "sj": s[ju],
                    "sp": p[iu, ju],
                }
            )

    parts = emb.select(vec_col).mapInPandas(
        _partials, "i int, j int, n long, si double, sj double, sp double"
    )
    tot = parts.groupBy("i", "j").agg(
        F.sum("n").alias("n"),
        F.sum("si").alias("si"),
        F.sum("sj").alias("sj"),
        F.sum("sp").alias("sp"),
    )
    cov = (F.col("sp") - F.col("si") * F.col("sj") / F.col("n")) / F.col("n")
    # + 0.0 canonicalizes IEEE -0.0 to +0.0 (a rounded -1e-9 would
    # otherwise hash differently across engines)
    return tot.select(
        "i", "j", (F.round(cov, round_decimals) + 0.0).alias("cov")
    )


def ks_two_sample(
    df: DataFrame,
    value_col: str,
    id_col: str,
    frac_a_pct: int = 50,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov drift statistic between two
    deterministic md5 halves of one table: D = max over observed values
    of |F_A(v) − F_B(v)| — the distribution-drift monitor a training
    pipeline runs between snapshot halves or before/after a filter
    change. Returns one row: (n_a, n_b, ks_stat, at_value).

    Scale shape: the raw table folds to one row PER DISTINCT VALUE
    (map-side combinable groupBy), and the two cumulative count columns
    run through ``scalable_running_sum`` — range-bucketed local prefix
    sums + a broadcast offset fold, never an ORDER BY-only window — so
    nothing is ever single-partition data-sized. The final scan keeps
    integer cumulative counts and only divides at the very end: cum/n in
    double is bit-identical cross-engine (same integers, same IEEE ops,
    order-free max), which is what makes the statistic oracle-checkable
    without a rounding convention.

    Split rule = the x24 content-hash bucket ((ascii pair of
    md5(id)) % 100 < ``frac_a_pct``) so halves are reproducible on
    backfill."""
    from .windows import scalable_running_sum

    hx = F.md5(F.col(id_col).cast("string"))
    bucket = (
        F.ascii(F.substring(hx, 1, 1)) * 256 + F.ascii(F.substring(hx, 2, 1))
    ) % 100
    is_a = (bucket < frac_a_pct).cast("long")
    grouped = (
        df.select(F.col(value_col).alias("val"), is_a.alias("a"))
        .groupBy("val")
        .agg(
            F.sum("a").alias("cnt_a"),
            F.sum(F.lit(1) - F.col("a")).alias("cnt_b"),
        )
    )
    cum = scalable_running_sum(
        grouped, "val", ["cnt_a", "cnt_b"], ["cum_a", "cum_b"]
    )
    totals = grouped.agg(
        F.sum("cnt_a").alias("n_a"), F.sum("cnt_b").alias("n_b")
    )
    d = F.abs(
        F.col("cum_a") / F.col("n_a") - F.col("cum_b") / F.col("n_b")
    )
    scored = cum.crossJoin(F.broadcast(totals)).select(
        "n_a", "n_b", d.alias("d"), F.col("val").cast("double").alias("val")
    )
    return scored.groupBy("n_a", "n_b").agg(
        F.round(F.max("d"), 6).alias("ks_stat"),
        F.round(
            F.max_by("val", F.struct(F.col("d"), -F.col("val"))), 2
        ).alias("at_value"),
    )


def pca_whiten(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 8,
    round_decimals: int = 6,
    eps: float = 1e-9,
) -> DataFrame:
    """PCA whitening of an embedding column: project every vector onto
    the top-``k`` principal components of the corpus covariance, scaled
    to unit variance — the standard preconditioning step before
    embedding clustering / SemDeDup / ANN (isotropic space, dominant-
    direction bias removed). Returns (id, label, proj: array<double>).

    Scale shape: the covariance is the SAME single-pass Arrow-batch
    partial fold as ``embedding_covariance`` (per batch: dim·(dim+1)/2
    partials; the reduce carries partials, never vectors); the
    dim×dim eigendecomposition happens ONCE on the driver (64×64 —
    microseconds, corpus-independent) and returns as LITERAL arrays, so
    the projection is k sequential JVM zip_with/aggregate folds per row
    — no shuffle at all in the apply stage, no Python in the row path.
    Eigenvector signs are canonicalized (largest-|component| positive)
    so the output is deterministic across LAPACK builds.

    Not SQL-expressible (eigendecomposition), so the catalog entry is
    rows-only; semantics are pytest-pinned against a full numpy
    replica and the whitened-covariance≈identity property."""
    import numpy as np

    first = emb.select(vec_col).first()
    if first is None:
        raise ValueError("pca_whiten: input has no rows")
    dim = len(first[0])

    # single-pass distributed moments (bounded collect: triangle rows)
    iu, ju = np.triu_indices(dim)

    def _partials(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            m = np.asarray(
                [np.asarray(x, dtype=np.float64) for x in pdf[vec_col]]
            )
            s = m.sum(axis=0)
            p = m.T @ m
            yield pd.DataFrame(
                {
                    "i": iu.astype("int32"),
                    "j": ju.astype("int32"),
                    "n": np.full(len(iu), m.shape[0], dtype="int64"),
                    "si": s[iu],
                    "sj": s[ju],
                    "sp": p[iu, ju],
                }
            )

    tot = (
        emb.select(vec_col)
        .mapInPandas(
            _partials, "i int, j int, n long, si double, sj double, sp double"
        )
        .groupBy("i", "j")
        .agg(
            F.sum("n").alias("n"),
            F.sum("si").alias("si"),
            F.sum("sj").alias("sj"),
            F.sum("sp").alias("sp"),
        )
        .collect()
    )
    n = tot[0]["n"]
    mean = np.zeros(dim)
    cov = np.zeros((dim, dim))
    for r in tot:
        if r["i"] == r["j"]:
            mean[r["i"]] = r["si"] / n
        c = (r["sp"] - r["si"] * r["sj"] / n) / n
        cov[r["i"], r["j"]] = c
        cov[r["j"], r["i"]] = c

    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    vals, vecs = vals[order], vecs[:, order]
    for c in range(vecs.shape[1]):  # deterministic sign convention
        if vecs[np.argmax(np.abs(vecs[:, c])), c] < 0:
            vecs[:, c] = -vecs[:, c]
    w = vecs / np.sqrt(np.maximum(vals, eps))  # dim × k whitening map
    consts = mean @ w  # k offsets: proj = v·w_c − mean·w_c

    comps = []
    for c in range(w.shape[1]):
        wc = F.array(*[F.lit(float(x)) for x in w[:, c]])
        dot = F.aggregate(
            F.zip_with(F.col(vec_col), wc, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        comps.append(F.round(dot - float(consts[c]), round_decimals) + 0.0)
    return emb.select(
        id_col, label_col, F.array(*comps).alias("proj")
    )


def categorical_mi(
    df: DataFrame, col_a: str = "lang", col_b: str = "source"
) -> DataFrame:
    """Mutual-information audit between two categorical columns: per
    (a, b) cell, the joint probability, pointwise MI ln(p(a,b)/(p(a)
    p(b))), and the cell's contribution to total MI — the covariate-
    dependence check (is language confounded with source?) that decides
    whether stratified splits must key on both. One (a, b)-keyed count;
    marginals and the 1-row total are cell-count-bounded and broadcast;
    nothing row-sized survives the first aggregate."""
    joint = df.groupBy(col_a, col_b).agg(F.count(F.lit(1)).alias("n"))
    tot = joint.agg(F.sum("n").cast("long").alias("n_total"))
    ma = joint.groupBy(col_a).agg(F.sum("n").cast("long").alias("n_a"))
    mb = joint.groupBy(col_b).agg(F.sum("n").cast("long").alias("n_b"))
    out = (
        joint.join(ma, col_a)
        .join(mb, col_b)
        .crossJoin(F.broadcast(tot))
    )
    nd = F.col("n").cast("double")
    pmi = F.log(
        nd * F.col("n_total") / (F.col("n_a") * F.col("n_b"))
    )
    return out.select(
        col_a,
        col_b,
        "n",
        "n_a",
        "n_b",
        F.round(nd / F.col("n_total"), 6).alias("p_joint"),
        F.round(pmi, 6).alias("pmi"),
        F.round((nd / F.col("n_total")) * pmi, 6).alias("mi_contrib"),
    )


def label_separability(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-dimension Fisher discriminant audit: decompose each embedding
    dimension's variance into between-label and within-label parts and
    report their ratio — the embedding-quality check that says which
    dimensions actually separate the classes (and whether the space is
    worth training a probe on). Uses the sum-of-moments identities
    (between = E_l[m_l^2] - mu^2, within = E_l[E[v^2]_l - m_l^2]) so
    everything derives from one (dim, label) aggregate.

    Scale shape (the x59 contract): posexplode fans vectors into
    (dim, label, v) rows whose groupBy partially aggregates map-side, so
    the shuffle carries |dims| x |labels| rows per task, never vectors;
    the second aggregate runs on that bounded cell table. Values cast to
    double BEFORE aggregation; outputs round to 6 dp to absorb partial-
    sum-order wobble."""
    exploded = emb.select(
        F.col(label_col).alias("label"),
        F.posexplode(vec_col).alias("pos", "v"),
    ).select(
        "label",
        (F.col("pos") + 1).alias("dim"),
        F.col("v").cast("double").alias("v"),
    )
    cells = exploded.groupBy("dim", "label").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("v").alias("m"),
        F.avg(F.col("v") * F.col("v")).alias("m2"),
    )
    nd = F.col("n").cast("double")
    agg = cells.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n_labels"),
        F.sum("n").cast("double").alias("s0"),
        F.sum(nd * F.col("m")).alias("s1"),
        F.sum(nd * F.col("m") * F.col("m")).alias("s2"),
        F.sum(nd * F.col("m2")).alias("sw"),
    )
    mu = F.col("s1") / F.col("s0")
    between = F.col("s2") / F.col("s0") - mu * mu
    within = (F.col("sw") - F.col("s2")) / F.col("s0")
    return agg.select(
        "dim",
        "n_labels",
        F.round(mu, 6).alias("grand_mean"),
        F.round(between, 6).alias("between_var"),
        F.round(within, 6).alias("within_var"),
        F.when(within > 0, F.round(between / within, 6)).alias(
            "fisher_ratio"
        ),
    )


def grouped_correlation(
    fact: DataFrame,
    dim: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    join_keys: tuple[str, str],
) -> DataFrame:
    """Per-group Pearson correlation between two fact measures, grouped
    by a dimension attribute (e.g. discount vs quantity by part brand —
    the pricing-behavior scan). Computed in CLOSED FORM from the five
    moment sums (n, Sx, Sy, Sxx, Syy, Sxy) so both engines evaluate the
    identical expression tree — no reliance on a built-in corr's
    implementation or NaN conventions; zero-variance groups yield NULL
    explicitly.

    Scale shape: the dim side broadcasts onto the fact scan (attribute
    pruning keeps it two columns); the moment sums partially aggregate
    map-side, so the shuffle carries |groups| x 6 doubles."""
    fk, pk = join_keys
    joined = fact.select(
        F.col(fk), F.col(x_col).cast("double").alias("x"),
        F.col(y_col).cast("double").alias("y"),
    ).join(
        F.broadcast(dim.select(F.col(pk), F.col(group_col))),
        F.col(fk) == F.col(pk),
    )
    agg = joined.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    vx = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = nd * F.col("syy") - F.col("sy") * F.col("sy")
    cov = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    return agg.select(
        F.col(group_col),
        "n",
        F.when(
            (vx > 0) & (vy > 0),
            F.round(cov / (F.sqrt(vx) * F.sqrt(vy)), 6),
        ).alias("pearson_r"),
    )


def nn_hubness(
    emb: DataFrame,
    id_col: str = "vec_id",
) -> DataFrame:
    """Hubness audit of the embedding space: the in-degree distribution
    of the (label ∧ band-bucket) blocked nearest-neighbor graph (how
    many vectors chose each vector as THEIR nearest neighbor, zero
    included) — high-in-degree hubs are the classic high-dimensional
    pathology that poisons retrieval, and a heavy in-degree tail says
    the space needs whitening (x89) before ANN serving. One row per
    observed in-degree: vector count and share.

    Scale shape (since r9, the x121 re-key): the NN graph comes from
    embedding_nn_pairs_lsh with block_col="label" — within-label
    semantics preserved, but candidates must also share a sign-LSH band
    bucket, so pair work is bounded by (label, bucket) geometry + hot
    cap instead of growing with label size (the r8-judge-measured 9.8×
    quadratic). Vectors with no surviving candidate simply contribute
    no out-edge; the zero-degree left join still covers every vector.
    The in-degree is one keyed count; the histogram lands on
    max-degree cells."""
    from .dedup import embedding_nn_pairs_lsh

    nn = embedding_nn_pairs_lsh(emb, block_col="label", id_col=id_col)
    indeg = nn.groupBy(
        F.col("neighbor_id").alias(id_col)
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    deg = (
        emb.select(id_col)
        .join(indeg, id_col, "left")
        .select(F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("in_degree"))
    )
    hist = deg.groupBy("in_degree").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors")
    )
    tot = hist.agg(F.sum("n_vectors").cast("long").alias("n"))
    return hist.crossJoin(F.broadcast(tot)).select(
        "in_degree",
        "n_vectors",
        F.round(F.col("n_vectors").cast("double") / F.col("n"), 6).alias(
            "share"
        ),
    )


def label_compactness(
    emb: DataFrame,
    outlier_threshold: float = 0.5,
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
) -> DataFrame:
    """Intra-class compactness audit: per label, the cosine of every
    member to its label centroid (the exact per-dimension mean), rolled
    up to mean/min cosine and the share of members below
    ``outlier_threshold`` — the mislabel/contamination detector for a
    labeled embedding set (a loose cluster or a fat outlier tail means
    the label is noisy). Complements x42 (BETWEEN-label centroid
    similarity) with the WITHIN-label view.

    Scale shape: everything runs in exploded (label, dim, v) space — the
    x104 contract: the centroid is a (label, dim) mean whose groupBy
    partially aggregates map-side; member-centroid dots join on (label,
    dim) cells. Determinism: each member cosine quantizes to an exact
    integer (x 1e6) BEFORE the label rollup, so the mean/min/outlier
    aggregates are integer-exact — a plain avg-of-rounded-doubles
    flips at 6-dp boundaries with Spark's partial-merge order (observed
    1-in-3 at sf0.01)."""
    elem = emb.select(
        F.col(id_col).alias("vid"),
        F.col(label_col).alias("label"),
        F.posexplode(vec_col).alias("pos", "v0"),
    ).select(
        "vid", "label", (F.col("pos") + 1).alias("i"),
        F.col("v0").cast("double").alias("v"),
    )
    cent = elem.groupBy("label", "i").agg(F.avg("v").alias("c"))
    cnorm = cent.groupBy("label").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("cn")
    )
    per_member = (
        elem.join(cent, ["label", "i"])
        .groupBy("vid", "label")
        .agg(
            F.sum(F.col("v") * F.col("c")).alias("dot"),
            F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("vn"),
        )
        .join(F.broadcast(cnorm), "label")
        .select(
            "label",
            F.round(
                F.col("dot") / (F.col("vn") * F.col("cn")) * 1e6
            )
            .cast("long")
            .alias("icos"),
        )
    )
    ithresh = int(round(outlier_threshold * 1e6))
    return per_member.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.round(
            F.sum("icos").cast("double") / F.count(F.lit(1)) / 1e6, 6
        ).alias("mean_cos"),
        (F.min("icos").cast("double") / 1e6).alias("min_cos"),
        F.round(
            F.sum(
                F.when(F.col("icos") < ithresh, 1).otherwise(0)
            ).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("outlier_share"),
    )


def ship_latency_sla(
    orders: DataFrame,
    lineitem: DataFrame,
) -> DataFrame:
    """Fulfilment-latency SLA report: per return flag, the distribution
    of order-to-ship lag in days (count, mean, exact p50/p90, max) — the
    operational rollup a logistics pipeline publishes per load (slow
    shipping predicting returns is the classic finding). Lags are
    integer day diffs, so the mean is an exact rational and the
    interpolated percentiles match across engines bit-for-bit.

    Scale shape: the join is orderkey-keyed (both sides hash-partition
    on the key); the percentile aggregate is per flag — a handful of
    groups, each a single exact-percentile pass."""
    days = (
        lineitem.select(
            "l_orderkey",
            "l_returnflag",
            F.col("l_shipdate").alias("shipdate"),
        )
        .join(
            orders.select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("l_returnflag").alias("returnflag"),
            F.datediff("shipdate", "o_orderdate").cast("double").alias("d"),
        )
    )
    return days.groupBy("returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_lineitems"),
        F.round(F.avg("d"), 4).alias("mean_days"),
        F.round(F.percentile("d", F.lit(0.5)), 4).alias("p50_days"),
        F.round(F.percentile("d", F.lit(0.9)), 4).alias("p90_days"),
        F.max("d").cast("long").alias("max_days"),
    )


def nation_clv(
    customer: DataFrame,
    orders: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """Customer-lifetime-value geography rollup: per nation, the
    customer count, mean and median CLV (summed order value), and the
    revenue share held by the nation's top decile (CLV >= the exact p90
    boundary, ties included) — the whale-concentration view sales
    pipelines slice by region.

    Determinism: CLV quantizes to integer cents before any percentile
    or share math (the x124/x125 convention), so boundaries and sums are
    exact integers in both engines.

    Scale shape: CLV is a custkey-keyed aggregate; customer joins it
    co-partitioned on the key; nation broadcasts; the p90 boundary is a
    per-nation percentile aggregate broadcast back onto the |customers|
    frame for the one-pass share rollup."""
    clv = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.round(F.sum("o_totalprice") * 100).cast("long").alias("clv_cents")
    )
    per_cust = clv.join(
        customer.select("c_custkey", "c_nationkey"), "c_custkey"
    ).join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select(F.col("n_name").alias("nation"), "clv_cents")
    bounds = per_cust.groupBy("nation").agg(
        F.percentile(F.col("clv_cents").cast("double"), F.lit(0.9)).alias("p90")
    )
    return (
        per_cust.join(F.broadcast(bounds), "nation")
        .groupBy("nation")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.round(
                F.sum("clv_cents").cast("double")
                / F.count(F.lit(1))
                / 100.0,
                4,
            ).alias("mean_clv"),
            F.round(
                F.percentile(F.col("clv_cents").cast("double"), F.lit(0.5))
                / 100.0,
                4,
            ).alias("median_clv"),
            F.round(
                F.sum(
                    F.when(
                        F.col("clv_cents") >= F.col("p90"), F.col("clv_cents")
                    ).otherwise(F.lit(0))
                ).cast("double")
                / F.sum("clv_cents"),
                6,
            ).alias("top_decile_share"),
        )
    )


def norm_profile(
    emb: DataFrame,
    vec_col: str = "embedding",
    bin_width: float = 0.5,
) -> DataFrame:
    """Embedding L2-norm quality profile: histogram of vector norms in
    ``bin_width`` bins plus degenerate-vector accounting (zero-norm
    vectors break cosine math; extreme norms flag an unnormalized or
    corrupted encoder batch). One row per observed bin: bounds, count,
    share, zero-vector count.

    Determinism: the norm folds over the array IN ROW ORDER (same
    sequence of IEEE adds in both engines — no shuffle-order wobble),
    and binning floors norm / bin_width, so bins are stable.

    Scale shape: entirely row-local until the bin-sized groupBy; the
    share join is a broadcast 1-row total."""
    v = F.col(vec_col)
    norm = F.sqrt(
        F.aggregate(
            v,
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    binned = emb.select(
        F.floor(norm / bin_width).cast("long").alias("bin"),
        (norm == 0.0).cast("long").alias("is_zero"),
    )
    hist = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.sum("is_zero").cast("long").alias("n_zero"),
    )
    tot = hist.agg(F.sum("n_vectors").cast("double").alias("n"))
    return hist.crossJoin(F.broadcast(tot)).select(
        "bin",
        F.round(F.col("bin") * bin_width, 2).alias("bin_lo"),
        F.round((F.col("bin") + 1) * bin_width, 2).alias("bin_hi"),
        "n_vectors",
        "n_zero",
        F.round(F.col("n_vectors") / F.col("n"), 6).alias("share"),
    )


def order_aging(
    orders: DataFrame,
) -> DataFrame:
    """Backlog aging report: per (order status, priority) cell, the
    order count and share, revenue, and the mean/max age in days
    against the dataset's latest order date — the open-work triage view
    every fulfilment dashboard leads with.

    Scale shape: one status x priority cell aggregate (map-side
    combinable) after a row-local age projection against the broadcast
    1-row anchor date; revenue quantizes to integer cents (the x125
    convention) so sums are exact."""
    anchor = orders.agg(F.max("o_orderdate").alias("anchor"))
    aged = orders.crossJoin(F.broadcast(anchor)).select(
        "o_orderstatus",
        "o_orderpriority",
        F.datediff("anchor", "o_orderdate").cast("long").alias("age_days"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    cells = aged.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.round(
            F.sum("age_days").cast("double") / F.count(F.lit(1)), 4
        ).alias("mean_age_days"),
        F.max("age_days").alias("max_age_days"),
        F.round(F.sum("cents").cast("double") / 100.0, 2).alias("revenue"),
    )
    tot = cells.agg(F.sum("n_orders").cast("double").alias("n_total"))
    return cells.crossJoin(F.broadcast(tot)).select(
        "o_orderstatus",
        "o_orderpriority",
        "n_orders",
        F.round(F.col("n_orders") / F.col("n_total"), 6).alias("share"),
        "mean_age_days",
        "max_age_days",
        "revenue",
    )


def iqr_outliers(
    df: DataFrame,
    value_col: str = "c_acctbal",
    group_col: str = "c_mktsegment",
) -> DataFrame:
    """Tukey IQR-fence outlier audit: per group, the exact quartiles,
    the 1.5-IQR fences, and how many values fall outside them — the
    distribution-free outlier screen (q40's MAD flavor is robust to the
    same; the fences are what BI tools draw). Values quantize to integer
    cents first (the x125 convention) so quartiles and fence
    comparisons are engine-exact.

    Scale shape: one exact-percentile aggregate per group produces the
    fence table (G rows, broadcast back); the outlier count is a second
    one-pass cell aggregate."""
    vals = df.select(
        F.col(group_col).alias("grp"),
        F.round(F.col(value_col) * 100).cast("long").alias("cents"),
    )
    fences = vals.groupBy("grp").agg(
        F.percentile(F.col("cents").cast("double"), F.lit(0.25)).alias("q1c"),
        F.percentile(F.col("cents").cast("double"), F.lit(0.75)).alias("q3c"),
    )
    lo = F.col("q1c") - 1.5 * (F.col("q3c") - F.col("q1c"))
    hi = F.col("q3c") + 1.5 * (F.col("q3c") - F.col("q1c"))
    return (
        vals.join(F.broadcast(fences), "grp")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.min("q1c") / 100.0, 4).alias("q1"),
            F.round(F.min("q3c") / 100.0, 4).alias("q3"),
            F.round(F.min(lo) / 100.0, 4).alias("lo_fence"),
            F.round(F.min(hi) / 100.0, 4).alias("hi_fence"),
            F.sum(
                F.when(
                    (F.col("cents") < lo) | (F.col("cents") > hi), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n",
            "q1",
            "q3",
            "lo_fence",
            "hi_fence",
            "n_outliers",
            F.round(
                F.col("n_outliers").cast("double") / F.col("n"), 6
            ).alias("outlier_share"),
        )
    )


def isotropy_audit(
    emb: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Embedding-space isotropy audit per label: the mean pairwise
    cosine across all n·(n-1) ordered pairs inside each label, computed
    in CLOSED FORM — for unit vectors u, sum of all pairwise dots is
    ||SUM(u)||^2 - SUM(||u||^2), so the all-pairs quantity needs one
    per-dimension sum, never a pair join. High mean cosine = anisotropic
    (collapsed) label cones; near-zero = isotropic spread. Ethayarajh
    (2019)-style contextual-anisotropy check as a data-QA table.

    Determinism: each vector normalizes via the in-row-order IEEE fold
    (norm_profile's convention), unit components quantize to integer
    micro, so the per-dimension sums and the self-dot total are
    engine-exact longs; only the final 64-term sum of squares is float,
    rounded at 6 dp.

    Scale shape: row-local quantize -> one (label, dim)-keyed
    map-side-combinable aggregate (|labels| x 64 cells) -> one
    |labels|-row fold. Vectors shuffle as (label, dim, long), never as
    arrays; no pair join exists in the plan."""
    v = F.col(vec_col)
    norm = F.sqrt(
        F.aggregate(
            v,
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    q = emb.where(norm > 0.0).select(
        F.col(label_col).alias("label"),
        F.posexplode(
            F.transform(
                v, lambda x: F.round(x.cast("double") / norm * 1e6).cast("long")
            )
        ).alias("i", "q"),
    )
    dims = q.groupBy("label", "i").agg(
        F.sum("q").alias("s"),
        F.sum(F.col("q") * F.col("q")).alias("selfsq"),
    )
    per_label = dims.groupBy("label").agg(
        F.sum(F.col("s").cast("double") * F.col("s").cast("double")).alias("ss2"),
        F.sum("selfsq").alias("selfsq"),
    )
    counts = emb.where(norm > 0.0).groupBy(
        F.col(label_col).alias("label")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        per_label.join(counts, "label")
        .where(F.col("n") > 1)
        .select(
            "label",
            "n",
            F.round(
                (F.col("ss2") - F.col("selfsq").cast("double"))
                / (F.col("n").cast("double") * (F.col("n") - 1.0))
                / 1e12,
                6,
            ).alias("mean_pairwise_cosine"),
        )
    )


def winsorization_report(
    df: DataFrame,
    value_col: str = "o_totalprice",
    group_col: str = "o_orderpriority",
    lo: float = 0.01,
    hi: float = 0.99,
) -> DataFrame:
    """Winsorization impact report: per group, the exact p-lo/p-hi
    percentile fences on integer cents, how many values each side would
    clamp, and how far the group mean moves once clamped — the
    before/after accounting a feature pipeline publishes when it caps
    outliers instead of dropping them (iqr_outliers' sibling: that one
    flags, this one measures the repair).

    Scale shape: one exact-percentile aggregate per group (G rows,
    broadcast back) + one counting/means pass. Integer-cents input so
    raw means are engine-exact; clamped means round at 4 dp to absorb
    interpolated-fence ulps."""
    vals = df.select(
        F.col(group_col).alias("grp"),
        F.round(F.col(value_col) * 100).cast("long").alias("cents"),
    )
    fences = vals.groupBy("grp").agg(
        F.percentile(F.col("cents").cast("double"), F.lit(lo)).alias("loc"),
        F.percentile(F.col("cents").cast("double"), F.lit(hi)).alias("hic"),
    )
    wins = F.least(F.greatest(F.col("cents").cast("double"), F.col("loc")), F.col("hic"))
    return (
        vals.join(F.broadcast(fences), "grp")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.min("loc") / 100.0, 4).alias("lo_fence"),
            F.round(F.min("hic") / 100.0, 4).alias("hi_fence"),
            F.sum((F.col("cents") < F.col("loc")).cast("long"))
            .cast("long")
            .alias("n_lo"),
            F.sum((F.col("cents") > F.col("hic")).cast("long"))
            .cast("long")
            .alias("n_hi"),
            F.round(F.avg(F.col("cents").cast("double")) / 100.0, 4).alias("raw_mean"),
            F.round(F.avg(wins) / 100.0, 4).alias("wins_mean"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n",
            "lo_fence",
            "hi_fence",
            "n_lo",
            "n_hi",
            F.round((F.col("n_lo") + F.col("n_hi")).cast("double") / F.col("n"), 6).alias(
                "clamp_share"
            ),
            "raw_mean",
            "wins_mean",
            F.round(F.col("wins_mean") - F.col("raw_mean"), 4).alias("mean_shift"),
        )
    )


def embedding_split_drift(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    frac_a_pct: int = 50,
) -> DataFrame:
    """Embedding drift between two deterministic md5 halves of the
    corpus, per label: cosine between the half centroids and the L2
    distance between them — the vector-space companion to
    :func:`ks_two_sample` (a scalar KS can't see a direction change
    that preserves marginals). Healthy identically-distributed halves
    sit at cosine ~1; a drop flags an encoder or population shift
    inside that label.

    Determinism: components quantize to integer micro row-locally, so
    the per-(label, half, dim) sums are engine-exact longs; only the
    final 64-term cosine/L2 folds are float, rounded at 6 dp.

    Scale shape: one (label, dim)-keyed map-side-combinable aggregate
    (vectors shuffle as long partials, never arrays), then a
    |labels|-row fold. The split is the x24 content-hash bucket, so
    halves are reproducible on backfill."""
    hx = F.md5(F.col(id_col).cast("string"))
    bucket = (
        F.ascii(F.substring(hx, 1, 1)) * 256 + F.ascii(F.substring(hx, 2, 1))
    ) % 100
    q = emb.select(
        F.col(label_col).alias("label"),
        (bucket < frac_a_pct).cast("long").alias("a"),
        F.posexplode(
            F.transform(
                F.col(vec_col),
                lambda x: F.round(x.cast("double") * 1e6).cast("long"),
            )
        ).alias("i", "q"),
    )
    dims = q.groupBy("label", "i").agg(
        F.sum(F.col("a") * F.col("q")).alias("sa"),
        F.sum((1 - F.col("a")) * F.col("q")).alias("sb"),
        F.sum("a").alias("na_i"),
        F.sum(F.lit(1) - F.col("a")).alias("nb_i"),
    )
    per_label = dims.groupBy("label").agg(
        F.max("na_i").cast("long").alias("n_a"),
        F.max("nb_i").cast("long").alias("n_b"),
        F.sum(F.col("sa").cast("double") * F.col("sb")).alias("dot"),
        F.sum(F.col("sa").cast("double") * F.col("sa")).alias("aa"),
        F.sum(F.col("sb").cast("double") * F.col("sb")).alias("bb"),
        F.sum(
            (
                F.col("sa").cast("double") / F.greatest(F.col("na_i"), F.lit(1))
                - F.col("sb").cast("double") / F.greatest(F.col("nb_i"), F.lit(1))
            )
            ** 2
        ).alias("dsq"),
    )
    return (
        per_label.where((F.col("n_a") > 0) & (F.col("n_b") > 0))
        .where((F.col("aa") > 0) & (F.col("bb") > 0))
        .select(
            "label",
            "n_a",
            "n_b",
            F.round(
                F.col("dot") / F.sqrt(F.col("aa") * F.col("bb")), 6
            ).alias("centroid_cosine"),
            F.round(F.sqrt(F.col("dsq")) / 1e6, 6).alias("centroid_l2"),
        )
    )


def fulfillment_latency(
    orders: DataFrame,
    lineitem: DataFrame,
) -> DataFrame:
    """Order-completion latency per priority: an order is complete when
    its LAST line ships, so the lag is max(l_shipdate) - o_orderdate —
    the order-granularity companion to :func:`ship_latency_sla` (which
    measures per-LINE ship lag; a 6-line order is one observation here,
    six there). One row per priority: count, exact mean, interpolated
    p50/p90/p99, max.

    Scale shape: per-order max is an orderkey-keyed aggregate; the join
    back to orders is co-partitioned on the same key (no extra
    exchange); the percentile pass runs per priority — a handful of
    cells. Integer day lags, so means are exact rationals and the
    interpolated percentiles match engines bit-for-bit."""
    last = lineitem.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.max("l_shipdate").alias("last_ship")
    )
    days = orders.select("o_orderkey", "o_orderdate", "o_orderpriority").join(
        last, "o_orderkey"
    ).select(
        "o_orderpriority",
        F.datediff("last_ship", "o_orderdate").cast("double").alias("d"),
    )
    return days.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.round(F.avg("d"), 4).alias("mean_days"),
        F.round(F.percentile("d", F.lit(0.5)), 4).alias("p50_days"),
        F.round(F.percentile("d", F.lit(0.9)), 4).alias("p90_days"),
        F.round(F.percentile("d", F.lit(0.99)), 4).alias("p99_days"),
        F.max("d").cast("long").alias("max_days"),
    )


def benford_audit(
    df: DataFrame,
    value_col: str = "o_totalprice",
) -> DataFrame:
    """Benford's-law first-digit audit: the distribution of leading
    significant digits of a positive monetary column against the
    Benford expectation log10(1 + 1/d) — the classic forensic screen
    for fabricated or synthetically-generated amounts (a uniform
    generator fails it loudly; organic multiplicative processes pass).
    One row per digit 1-9: count, observed share, expected share,
    deviation, and the chi-square contribution n*(obs-exp)^2/exp.

    Determinism: the leading digit comes from the integer-cents string
    (exact), and expected shares are closed-form constants; only the
    9-cell shares divide, rounded at 6 dp.

    Scale shape: one map-side-combinable 9-cell aggregate + a broadcast
    1-row total."""
    cents = F.round(F.col(value_col) * 100).cast("long")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    cells = (
        df.where(cents > 0)
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = cells.agg(F.sum("n").cast("double").alias("total"))
    exp = F.log10(1.0 + 1.0 / F.col("digit"))
    obs = F.col("n") / F.col("total")
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            F.round(obs, 6).alias("obs_share"),
            F.round(exp, 6).alias("exp_share"),
            F.round(obs - exp, 6).alias("deviation"),
            F.round(
                F.col("total") * (obs - exp) * (obs - exp) / exp, 6
            ).alias("chi2_contrib"),
        )
        .orderBy("digit")
    )


def revenue_gini(
    orders: DataFrame,
    value_col: str = "o_totalprice",
    group_col: str = "o_orderpriority",
) -> DataFrame:
    """Revenue concentration per group as a Gini coefficient, computed
    EXACTLY on the integer-cents value HISTOGRAM: with distinct values
    v_i (ascending), counts c_i, and C_i the cumulative count, a tie
    block's rank-weighted mass is v_i * c_i * (C_{i-1} + 1 + C_i) / 2,
    and G = 2 * sum(rank * x) / (n * T) - (n + 1) / n — the inequality
    measure behind "is this segment whale-driven", sharper than x119's
    HHI/top-k because it uses the whole curve.

    Scale shape: orders collapse to (group, cents) histogram cells
    (bounded by the PRICE DOMAIN, not the order count); the cumulative
    walk is a group-partitioned window over those cells; the fold is
    G groups. Integer arithmetic through the cumulative counts; the
    rank-weighted sum folds in double (can exceed int64 at full scale),
    rounded at 6 dp."""
    from pyspark.sql import Window

    cells = orders.groupBy(
        F.col(group_col).alias("grp"),
        F.round(F.col(value_col) * 100).cast("long").alias("cents"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    w = Window.partitionBy("grp").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, 0
    )
    walked = cells.select(
        "grp",
        "cents",
        "c",
        F.sum("c").over(w).cast("long").alias("cum_c"),
    )
    # block rank-weighted mass: v * c * (C_prev + 1 + C) / 2, with
    # C_prev = cum_c - c; halves are exact in binary
    rw = (
        F.col("cents").cast("double")
        * F.col("c")
        * (F.col("cum_c") - F.col("c") + 1 + F.col("cum_c"))
        / 2.0
    )
    per_grp = walked.groupBy("grp").agg(
        F.sum("c").cast("long").alias("n_orders"),
        F.sum(F.col("cents") * F.col("c")).cast("long").alias("tot_cents"),
        F.sum(rw).alias("rank_mass"),
    )
    n = F.col("n_orders").cast("double")
    gini = (
        2.0 * F.col("rank_mass") / (n * F.col("tot_cents").cast("double"))
        - (n + 1.0) / n
    )
    return per_grp.select(
        F.col("grp").alias(group_col),
        "n_orders",
        F.round(F.col("tot_cents") / 100.0, 2).alias("total_revenue"),
        F.round(gini, 6).alias("gini"),
    )


def chi2_independence(
    df: DataFrame,
    row_col: str = "p_brand",
    col_col: str = "p_type",
) -> DataFrame:
    """Chi-square independence audit for two categorical columns: the
    full contingency table with expected counts under independence
    (row_total * col_total / N) and per-cell chi-square contributions —
    the screen for "does brand determine container" style coupling that
    breaks stratified-sampling assumptions. x136 tests one margin
    against uniform; this tests the JOINT table against the product of
    its margins.

    Scale shape: one (row, col) cell aggregate (bounded by the category
    product), two margin rollups broadcast back, a broadcast 1-row
    grand total. Integer counts; expected/contrib round at 6 dp."""
    cells = df.groupBy(
        F.col(row_col).alias("r"), F.col(col_col).alias("c")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    rows = cells.groupBy("r").agg(F.sum("n").cast("long").alias("n_r"))
    cols = cells.groupBy("c").agg(F.sum("n").cast("long").alias("n_c"))
    tot = cells.agg(F.sum("n").cast("double").alias("grand"))
    e = F.col("n_r") * F.col("n_c") / F.col("grand")
    return (
        cells.join(F.broadcast(rows), "r")
        .join(F.broadcast(cols), "c")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("r").alias(row_col),
            F.col("c").alias(col_col),
            "n",
            F.round(e, 6).alias("expected"),
            F.round((F.col("n") - e) * (F.col("n") - e) / e, 6).alias(
                "chi2_contrib"
            ),
        )
    )


def weighted_median(
    df: DataFrame,
    value_col: str = "l_extendedprice",
    weight_col: str = "l_quantity",
    group_col: str = "l_returnflag",
) -> DataFrame:
    """Exact WEIGHTED median per group — the quantity-weighted price a
    plain median misreports whenever cheap lines carry most of the
    volume. Lower weighted median convention: the smallest value whose
    cumulative weight reaches half the total (compared as
    2*cum_w >= tot_w in integers, so no halves ever materialize).

    Scale shape: rows collapse to (group, value-cents) HISTOGRAM cells
    with integer-quantized weights (the x165 walk); the cumulative
    weight is a group-partitioned window over cells (bounded by the
    value domain); the answer is a min per group."""
    from pyspark.sql import Window

    cells = df.groupBy(
        F.col(group_col).alias("grp"),
        F.round(F.col(value_col) * 100).cast("long").alias("cents"),
    ).agg(
        F.sum(F.round(F.col(weight_col)).cast("long")).alias("w"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    win = Window.partitionBy("grp").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, 0
    )
    walked = cells.select(
        "grp",
        "cents",
        "n",
        "w",
        F.sum("w").over(win).cast("long").alias("cum_w"),
    )
    tot = cells.groupBy("grp").agg(
        F.sum("w").cast("long").alias("tot_w"),
        F.sum("n").cast("long").alias("n_lines"),
    )
    hit = (
        walked.join(F.broadcast(tot), "grp")
        .where(2 * F.col("cum_w") >= F.col("tot_w"))
        .groupBy("grp")
        .agg(F.min("cents").alias("med_cents"))
    )
    return (
        tot.join(hit, "grp")
        .select(
            F.col("grp").alias(group_col),
            "n_lines",
            "tot_w",
            F.round(F.col("med_cents") / 100.0, 2).alias("weighted_median"),
        )
    )


def single_source_risk(
    lineitem: DataFrame,
    part: DataFrame,
) -> DataFrame:
    """Supply-chain concentration audit: per brand, how many TRADED
    parts depend on a single supplier (the classic single-source risk
    screen), plus the mean suppliers-per-part depth. "Traded" = appears
    in lineitem; supplier sets come from observed (part, supplier)
    pairs.

    Scale shape: lineitem collapses to distinct (part, supplier) pairs
    (map-side combinable), then to per-part supplier counts; the brand
    attachment is a partkey-keyed equi join; brand cells fold. All
    integer counts."""
    pairs = lineitem.select("l_partkey", "l_suppkey").distinct()
    per_part = pairs.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers")
    )
    with_brand = per_part.join(
        part.select(F.col("p_partkey").alias("l_partkey"), "p_brand"),
        "l_partkey",
    )
    return with_brand.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum((F.col("n_suppliers") == 1).cast("long"))
        .cast("long")
        .alias("n_single_source"),
        F.round(
            F.sum((F.col("n_suppliers") == 1).cast("long")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("single_source_share"),
        F.round(F.avg("n_suppliers"), 4).alias("mean_suppliers_per_part"),
    )


def price_dispersion(
    lineitem: DataFrame,
    part: DataFrame,
    top_k: int = 20,
    min_lines: int = 5,
    price_col: str = "l_extendedprice",
    key_col: str = "l_partkey",
) -> DataFrame:
    """Per-part price-dispersion screen: the coefficient of variation
    of a part's line prices, worst ``top_k`` parts first — the
    pricing-integrity audit that surfaces SKUs whose charged prices are
    all over the map (a data-entry or contract-leak signal; x137's
    fences screen one global distribution, this ranks per-key spread).
    Parts with fewer than ``min_lines`` lines are excluded (tiny
    samples make noisy CVs).

    Determinism: prices quantize to integer cents (outputs at 6 dp —
    the x167 lesson: a 2 dp round put sqrt output on a half-boundary
    and split the engines); n, sum and
    sum-of-squares fold as EXACT integer sums (cents^2 per line is
    ~1e12, safely inside BIGINT for any one part's group), so variance
    and CV come closed-form off exact integers — engine-identical
    before the 6 dp round. At 100 TB a single part's (sum)^2 could
    near the BIGINT edge; the closed form casts to double only AFTER
    the exact per-group fold, which is the documented trade.

    Scale shape: one partkey-keyed integer aggregate (map-side
    combinable), TakeOrdered top-k, then a broadcast-sized join to the
    k part rows for labels — part never broadcasts in full."""
    cells = lineitem.groupBy(F.col(key_col).alias("p_partkey")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.round(F.col(price_col) * 100).cast("long")).alias("s"),
        F.sum(
            F.round(F.col(price_col) * 100).cast("long")
            * F.round(F.col(price_col) * 100).cast("long")
        ).alias("ss"),
    )
    n = F.col("n").cast("double")
    var = (n * F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s").cast("double")) / (n * n)
    mean = F.col("s").cast("double") / n
    scored = (
        cells.where(F.col("n") >= min_lines)
        .select(
            "p_partkey",
            "n",
            F.round(mean / 100.0, 6).alias("mean_price"),
            F.round(F.sqrt(var) / 100.0, 6).alias("sd_price"),
            F.when(mean > 0, F.round(F.sqrt(var) / mean, 6)).alias("cv"),
        )
        .orderBy(F.desc("cv"), "p_partkey")
        .limit(top_k)
    )
    return scored.join(
        part.select("p_partkey", "p_brand", "p_type"), "p_partkey"
    ).select(
        "p_partkey", "p_brand", "p_type", "n", "mean_price", "sd_price", "cv"
    ).orderBy(F.desc("cv"), "p_partkey")


def knn_label_agreement(
    emb: DataFrame,
    n_buckets: int | None = None,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
    target_bucket_rows: int = 256,
) -> DataFrame:
    """Label-noise screen by neighbor agreement (the confident-learning
    signal): block vectors into deterministic md5 buckets of their ids
    (label-blind, unlike x6's label blocks), find each vector's
    nearest in-bucket neighbor, and report per label how often the
    neighbor carries the SAME label — a label whose members' neighbors
    disagree is either mislabeled or not separable (x104 measures
    separability from moments; this measures it from actual
    neighborhoods).

    Determinism: buckets are pure md5-hex arithmetic; cosines round at
    6 dp with (cosine desc, neighbor id) NN tie-break; agreement is
    integer counting, shares at 6 dp.

    Scale shape: the pair scan is per-bucket (bounded blocks); labels
    rejoin by id; the rollup is |labels|-cell. ``n_buckets=None`` (the
    default since round 8) auto-sizes buckets to ~``target_bucket_rows``
    occupancy so pair work stays linear in the corpus — the 100 TB mode,
    same as ``_knn_votes``. A fixed ``n_buckets`` (the pre-r8 default of
    16) stays opt-in for legacy parity; its pair work grows
    quadratically with the corpus (docs/SCALE.md)."""
    from .curation import _hex_uniform_int
    from .dedup import embedding_nn_pairs

    if n_buckets is None:
        n_buckets = max(1, -(-emb.count() // target_bucket_rows))

    bucketed = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        (
            _hex_uniform_int(F.concat(F.col(id_col).cast("string"), F.lit("-knb")))
            % n_buckets
        ).alias("bkt"),
    )
    nn = embedding_nn_pairs(bucketed, block_col="bkt")
    lab = emb.select(
        F.col(id_col).alias("vec_id"), F.col(label_col).alias("label")
    )
    nlab = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("n_label"),
    )
    edges = nn.join(lab, "vec_id").join(nlab, "neighbor_id")
    cells = edges.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.sum(
            F.when(F.col("label") == F.col("n_label"), 1).otherwise(0)
        ).cast("long").alias("n_agree"),
        F.round(F.avg(F.when(F.col("is_near_dup"), 1.0).otherwise(0.0)), 6)
        .alias("near_dup_share"),
    )
    return cells.select(
        "label",
        "n_vectors",
        "n_agree",
        F.round(F.col("n_agree") / F.col("n_vectors").cast("double"), 6)
        .alias("agreement"),
        "near_dup_share",
    ).orderBy("label")


def mannwhitney_quality(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact tie-corrected Mann-Whitney U test of the quality-score
    distribution between two deterministic md5 halves of the corpus —
    the nonparametric twin of x48's Welch t-test (quality scores live
    on a discrete lattice, so rank methods fit where means mislead)
    and the scalar companion to embedding_split_drift. A healthy
    pipeline's halves give z ~ 0; |z| > 3 says the halves differ.

    Determinism: scores land on the 11-point deci lattice as integers;
    midranks are exact multiples of 0.5; every aggregate sums exactly
    representable doubles (< 2^53), so U, the tie correction, and z
    are engine-exact before the 6 dp round. At 100 TB the closed-form
    n*(n+1) products run in doubles (documented precision trade).

    Scale shape: the corpus collapses to <= 11 (score) cells in one
    map-side-combinable aggregate; midranks ride an ordered window on
    the cell frame; the test statistic is one 1-row fold."""
    from .textstats import quality_score

    hx = F.md5(F.col(id_col).cast("string"))
    bucket = F.ascii(F.substring(hx, 1, 1)) * 256 + F.ascii(
        F.substring(hx, 2, 1)
    )
    scored = docs.select(
        F.round(quality_score(F.col(text_col)) * 10).cast("long").alias("s10"),
        F.when(bucket % 100 < 50, 1).otherwise(0).alias("in_a"),
    )
    cells = scored.groupBy("s10").agg(
        F.sum("in_a").cast("long").alias("n_a"),
        (F.count(F.lit(1)) - F.sum("in_a")).cast("long").alias("n_b"),
    )
    from pyspark.sql import Window

    before = Window.orderBy("s10").rowsBetween(
        Window.unboundedPreceding, -1
    )
    t = F.col("n_a") + F.col("n_b")
    ranked = cells.select(
        "s10",
        "n_a",
        "n_b",
        (
            F.coalesce(F.sum(t).over(before), F.lit(0)).cast("double")
            + (t.cast("double") + 1.0) / 2.0
        ).alias("midrank"),
        t.cast("double").alias("t"),
    )
    agg = ranked.agg(
        F.sum("n_a").cast("long").alias("n_a"),
        F.sum("n_b").cast("long").alias("n_b"),
        F.sum(F.col("n_a") * F.col("midrank")).alias("ra"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias("tie"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    n = na + nb
    u_a = F.col("ra") - na * (na + 1.0) / 2.0
    mu = na * nb / 2.0
    sigma2 = (
        na * nb / 12.0 * ((n + 1.0) - F.col("tie") / (n * (n - 1.0)))
    )
    return agg.select(
        "n_a",
        "n_b",
        u_a.alias("u_a"),
        (na * nb - u_a).alias("u_b"),
        F.when(sigma2 > 0, F.round((u_a - mu) / F.sqrt(sigma2), 6)).alias(
            "z_score"
        ),
    )


def abc_classification(
    lineitem: DataFrame,
    part: DataFrame,
    a_share: float = 0.8,
    b_share: float = 0.95,
    price_col: str = "l_extendedprice",
    key_col: str = "l_partkey",
) -> DataFrame:
    """ABC inventory classification of parts by revenue contribution:
    class A = the head that carries the first ``a_share`` of revenue,
    B = up to ``b_share``, C = the long tail, NONE = catalog parts
    that never sold — the Pareto cut every assortment review starts
    from (x165 measures the inequality; this names the classes).

    Determinism: classification happens on revenue-VALUE blocks (the
    x163 tie convention): all parts with the same integer-cents
    revenue share one block, blocks walk in exact (revenue desc)
    order, and a block's class comes from the cumulative share BEFORE
    it — so ties can never straddle a class boundary
    nondeterministically.

    Scale shape: one partkey-keyed integer aggregate; the block walk
    is an ordered window over |distinct revenue values| cells; the
    never-sold side is one anti-join against the part dimension."""
    per_part = lineitem.groupBy(F.col(key_col).alias("p_partkey")).agg(
        F.sum(F.round(F.col(price_col) * 100).cast("long")).alias("rev")
    )
    blocks = per_part.groupBy("rev").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
    )
    before = Window.orderBy(F.desc("rev")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    tot = blocks.agg(
        F.sum(F.col("rev") * F.col("n_parts")).cast("double").alias("trev")
    )
    classed = (
        blocks.crossJoin(F.broadcast(tot))
        .select(
            "rev",
            "n_parts",
            (
                F.coalesce(
                    F.sum(F.col("rev") * F.col("n_parts")).over(before),
                    F.lit(0),
                ).cast("double")
                / F.col("trev")
            ).alias("cum_before"),
        )
        .select(
            "rev",
            "n_parts",
            F.when(F.col("cum_before") < a_share, "A")
            .when(F.col("cum_before") < b_share, "B")
            .otherwise("C")
            .alias("abc_class"),
        )
    )
    sold = classed.groupBy("abc_class").agg(
        F.sum("n_parts").cast("long").alias("n_parts"),
        F.sum(F.col("rev") * F.col("n_parts")).cast("long").alias("rev_cents"),
    )
    never = (
        part.join(per_part, "p_partkey", "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("n_parts"))
        .select(
            F.lit("NONE").alias("abc_class"),
            "n_parts",
            F.lit(0).cast("long").alias("rev_cents"),
        )
    )
    both = sold.unionByName(never)
    tot2 = both.agg(
        F.sum("rev_cents").cast("double").alias("t"),
        F.sum("n_parts").cast("double").alias("tp"),
    )
    return (
        both.crossJoin(F.broadcast(tot2))
        .select(
            "abc_class",
            "n_parts",
            F.round(F.col("rev_cents") / 100.0, 2).alias("revenue"),
            F.round(F.col("rev_cents") / F.col("t"), 6).alias(
                "revenue_share"
            ),
            F.round(F.col("n_parts") / F.col("tp"), 6).alias("part_share"),
        )
        .orderBy("abc_class")
    )


def supplier_spc(
    lineitem: DataFrame,
    orders: DataFrame,
    supplier: DataFrame,
    top_k: int = 20,
) -> DataFrame:
    """Supplier lead-time control chart (the XmR / individuals chart of
    statistical process control): per supplier, the mean ship latency,
    the mean moving range of consecutive shipments, the derived upper
    control limit mean + 2.66 x mMR, and how many shipments breach it
    — worst ``top_k`` suppliers by breach share. x126 profiles the
    latency DISTRIBUTION; control limits ask the process question: is
    this supplier's variation routine or out of control?

    Determinism: latencies are exact integer days; moving ranges are
    integer |diffs| off one (supplier)-keyed lag window ordered by
    (orderdate, orderkey, linenumber); means are exact rationals and
    the single breach comparison rounds both sides at 6 dp first;
    tied (orderdate, orderkey, lineno) rows order by lag_days so
    duplicate feed lines cannot reorder the range walk.

    Scale shape: one orderkey-keyed join for dates, one supplier-keyed
    lag window, one supplier-cell rollup; TakeOrdered top-k; supplier
    names join only to the k survivors."""
    lat = lineitem.select(
        F.col("l_suppkey").alias("suppkey"),
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("lineno"),
        F.col("l_shipdate").cast("date").alias("ship"),
    ).join(
        orders.select(
            F.col("o_orderkey").alias("okey"),
            F.col("o_orderdate").cast("date").alias("odate"),
        ),
        "okey",
    ).select(
        "suppkey",
        "okey",
        "lineno",
        "odate",
        F.datediff("ship", "odate").cast("long").alias("lag_days"),
    )
    # (okey, lineno) is NOT unique in the synthetic feed (x169's dup
    # audit exists precisely because of that) — lag_days as the final
    # key makes tied rows value-identical, so the moving range is
    # order-invariant.
    w = Window.partitionBy("suppkey").orderBy(
        "odate", "okey", "lineno", "lag_days"
    )
    mr = lat.select(
        "suppkey",
        "lag_days",
        F.abs(F.col("lag_days") - F.lag("lag_days").over(w)).alias("mrange"),
    )
    cells = mr.groupBy("suppkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_shipments"),
        F.sum("lag_days").cast("long").alias("s_lag"),
        F.count("mrange").cast("long").alias("n_mr"),
        F.sum("mrange").cast("long").alias("s_mr"),
    )
    mean_lag = F.col("s_lag").cast("double") / F.col("n_shipments")
    mean_mr = F.col("s_mr").cast("double") / F.col("n_mr")
    ucl = F.round(mean_lag + 2.66 * mean_mr, 6)
    limits = cells.where(F.col("n_mr") >= 1).select(
        "suppkey",
        "n_shipments",
        F.round(mean_lag, 6).alias("mean_lag"),
        F.round(mean_mr, 6).alias("mean_mrange"),
        ucl.alias("ucl"),
    )
    breaches = (
        lat.join(F.broadcast(limits.select("suppkey", "ucl")), "suppkey")
        .where(F.col("lag_days").cast("double") > F.col("ucl"))
        .groupBy("suppkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_breaches"))
    )
    ranked = (
        limits.join(breaches, "suppkey", "left")
        .select(
            "suppkey",
            "n_shipments",
            "mean_lag",
            "mean_mrange",
            "ucl",
            F.coalesce("n_breaches", F.lit(0)).cast("long").alias("n_breaches"),
        )
        .withColumn(
            "breach_share",
            F.round(
                F.col("n_breaches") / F.col("n_shipments").cast("double"), 6
            ),
        )
        .orderBy(F.desc("breach_share"), "suppkey")
        .limit(top_k)
    )
    return ranked.join(
        supplier.select(
            F.col("s_suppkey").alias("suppkey"), F.col("s_name")
        ),
        "suppkey",
    ).select(
        "suppkey", "s_name", "n_shipments", "mean_lag", "mean_mrange",
        "ucl", "n_breaches", "breach_share",
    ).orderBy(F.desc("breach_share"), "suppkey")


def _knn_votes(
    emb: DataFrame,
    k: int,
    n_buckets: int | None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_bucket_rows: int = 256,
) -> DataFrame:
    """(vec_id, neighbor_id) top-``k`` in-bucket cosine vote edges over
    the x185 label-blind md5 buckets — the shared candidate stage of
    the kNN classifier (y6) and retrieval-exposure (x220) evals.

    ``n_buckets=None`` is the 100 TB mode (docs/SCALE.md round-6 tail),
    and the callers' default since round 8: a FIXED bucket count makes
    bucket size — and therefore the in-bucket pair scoring — grow
    linearly/quadratically with the corpus, so auto mode sizes
    n_buckets ∝ N / target_bucket_rows instead. Bucket occupancy then
    stays ~target regardless of N and total pair work is N × target,
    linear in the corpus. One count() action buys the sizing; a fixed
    count (the pre-r8 default of 16) stays opt-in for legacy parity."""
    from pyspark.sql import Window

    from ..functions.vectors import cosine_from_norms, l2_norm
    from .curation import _hex_uniform_int

    if n_buckets is None:
        n_buckets = max(1, -(-emb.count() // target_bucket_rows))

    e = emb.select(
        F.col(id_col).alias("vid"),
        (
            _hex_uniform_int(
                F.concat(F.col(id_col).cast("string"), F.lit("-knb"))
            )
            % n_buckets
        ).alias("blk"),
        F.col(vec_col).alias("v"),
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
        .where(F.col("rn") <= k)
        .select("vec_id", "neighbor_id")
    )


def knn_classifier_report(
    emb: DataFrame,
    k: int = 5,
    n_buckets: int | None = None,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
    target_bucket_rows: int = 256,
) -> DataFrame:
    """Leave-one-out k-NN majority-vote classifier report card:
    block vectors into the x185 label-blind md5 buckets, vote each
    vector's label from its top-``k`` in-bucket cosine neighbors
    (majority, ties → count desc then label asc), and report per true
    label the support / prediction count / hits and precision-recall-
    F1, plus the macro-F1 — the embedding-quality eval (can the space
    actually separate the classes?) that x185's 1-NN agreement only
    hints at.

    Determinism: cosines round at 6 dp with (cosine desc, neighbor id)
    rank tie-break; votes and confusion cells are integer counts;
    metrics are closed form off the cells.

    Scale shape: the pair scan is per-bucket (bounded blocks, the x185
    contract — at 100 TB swap buckets for x8 LSH bands); everything
    downstream of the votes is |labels|^2 cells."""
    votes = _knn_votes(emb, k, n_buckets, id_col, vec_col, target_bucket_rows)
    nlab = emb.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("n_label")
    )
    vc = votes.join(nlab, "neighbor_id").groupBy("vec_id", "n_label").agg(
        F.count(F.lit(1)).alias("c")
    )
    wv = Window.partitionBy("vec_id").orderBy(
        F.col("c").desc(), F.col("n_label")
    )
    pred = (
        vc.withColumn("rn", F.row_number().over(wv))
        .where(F.col("rn") == 1)
        .select("vec_id", F.col("n_label").alias("predicted"))
    )
    truth = emb.select(
        F.col(id_col).alias("vec_id"), F.col(label_col).alias("declared")
    )
    cells = pred.join(truth, "vec_id").groupBy("declared", "predicted").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    d = cells.groupBy(F.col("declared").alias("label")).agg(
        F.sum("n").cast("long").alias("support")
    )
    p = cells.groupBy(F.col("predicted").alias("label")).agg(
        F.sum("n").cast("long").alias("predicted_count")
    )
    c = (
        cells.where(F.col("declared") == F.col("predicted"))
        .groupBy(F.col("declared").alias("label"))
        .agg(F.sum("n").cast("long").alias("n_correct"))
    )
    base = (
        d.join(p, "label", "full")
        .join(c, "label", "left")
        .select(
            "label",
            F.coalesce("support", F.lit(0)).cast("long").alias("support"),
            F.coalesce("predicted_count", F.lit(0)).cast("long")
            .alias("predicted_count"),
            F.coalesce("n_correct", F.lit(0)).cast("long").alias("n_correct"),
        )
    )
    pr = F.when(
        F.col("predicted_count") > 0,
        F.col("n_correct") / F.col("predicted_count").cast("double"),
    ).otherwise(F.lit(0.0))
    rc = F.when(
        F.col("support") > 0,
        F.col("n_correct") / F.col("support").cast("double"),
    ).otherwise(F.lit(0.0))
    f1 = F.when(pr + rc > 0, 2.0 * pr * rc / (pr + rc)).otherwise(F.lit(0.0))
    scored = base.select(
        "label", "support", "predicted_count", "n_correct",
        F.round(pr, 6).alias("precision"),
        F.round(rc, 6).alias("recall"),
        f1.alias("_f1"),
    )
    macro = scored.agg(F.round(F.avg("_f1"), 6).alias("macro_f1"))
    return (
        scored.crossJoin(F.broadcast(macro))
        .select(
            "label", "support", "predicted_count", "n_correct",
            "precision", "recall",
            F.round(F.col("_f1"), 6).alias("f1"),
            "macro_f1",
        )
        .orderBy("label")
    )


# Poisson(1) CDF thresholds for the deterministic bootstrap weights
# (exact double literals of e^-1 * cumulative 1/k! sums, capped at 5)
_POIS1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
)


def poisson_bootstrap_mean(
    df: DataFrame,
    value_col: str,
    id_col: str,
    n_replicas: int = 50,
    alpha: float = 0.05,
    metric: str = "mean",
    scale: int = 100,
) -> DataFrame:
    """One-pass Poisson bootstrap CI for a mean — the bootstrap that
    actually scales: instead of resampling rows (impossible without
    materializing B copies of the data in one place), every row draws
    a Poisson(1) replica weight from the md5 of (id, replica), so all
    B replica sums accumulate in a single grouped aggregate. The
    classic trick for CIs over sharded data (Chamandy et al., 'Teaching
    Statistics at Google Scale').

    Determinism: weights come from exact md5-hex uniforms against
    fixed CDF literals; values are summed in integer ``scale``-ths
    (cents), so every replica mean is a ratio of exact integers; the
    percentile CI interpolates two of B such rationals.

    Scale shape: a B-literal explode (rows x B stays one scan), ONE
    (replica)-keyed aggregate with map-side combine, a B-row percentile
    fold, and a 1-row point estimate."""
    from .curation import _hex_uniform_int

    base = df.select(
        F.col(id_col).cast("string").alias("_id"),
        F.round(F.col(value_col) * scale).cast("long").alias("_cents"),
    )
    point = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        (
            F.sum("_cents") / F.count(F.lit(1)).cast("double") / scale
        ).alias("_pt"),
    )
    rep = base.select(
        "_id",
        "_cents",
        F.explode(
            F.array(*[F.lit(i) for i in range(1, n_replicas + 1)])
        ).alias("b"),
    )
    u = _hex_uniform_int(
        F.concat(F.col("_id"), F.lit("-"), F.col("b").cast("string"))
    ) / F.lit(16777216.0)
    w = F.lit(5)
    for k in range(len(_POIS1_CDF) - 1, -1, -1):
        w = F.when(u < F.lit(_POIS1_CDF[k]), F.lit(k)).otherwise(w)
    means = (
        rep.select("b", "_cents", w.alias("w"))
        .groupBy("b")
        .agg(
            F.sum(F.col("w").cast("long") * F.col("_cents")).alias("_swc"),
            F.sum(F.col("w").cast("long")).alias("_sw"),
        )
        .where(F.col("_sw") > 0)
        .select(
            "b",
            (F.col("_swc") / F.col("_sw").cast("double") / scale).alias("m"),
        )
    )
    ci = means.agg(
        F.count(F.lit(1)).cast("long").alias("n_replicas"),
        F.percentile(
            "m", F.array(F.lit(alpha / 2), F.lit(1 - alpha / 2))
        ).alias("_q"),
    )
    return point.crossJoin(F.broadcast(ci)).select(
        F.lit(metric).alias("metric"),
        "n_rows",
        "n_replicas",
        F.round(F.col("_pt"), 6).alias("point_estimate"),
        F.round(F.col("_q")[0], 6).alias("ci_lo"),
        F.round(F.col("_q")[1], 6).alias("ci_hi"),
    )


def retrieval_exposure(
    emb: DataFrame,
    k: int = 5,
    n_buckets: int | None = None,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
    target_bucket_rows: int = 256,
) -> DataFrame:
    """Retrieval exposure fairness: per label, the share of top-``k``
    neighbor-list appearances (exposure) vs the label's corpus base
    rate, and their ratio (lift) — a retrieval tier that
    systematically over-exposes one class starves the others of
    downstream traffic regardless of per-query relevance. Runs on the
    y6 vote edges.

    Scale shape: the x185 bucketed vote scan, then |labels|-cell
    aggregates against two broadcast 1-row totals."""
    votes = _knn_votes(emb, k, n_buckets, id_col, vec_col, target_bucket_rows)
    nlab = emb.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("label")
    )
    expo = votes.join(nlab, "neighbor_id").groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_appearances")
    )
    base = emb.groupBy(F.col(label_col).alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors")
    )
    tot_v = base.agg(F.sum("n_vectors").cast("double").alias("nv"))
    tot_a = expo.agg(F.sum("n_appearances").cast("double").alias("na"))
    joined = (
        base.join(expo, "label", "left")
        .crossJoin(F.broadcast(tot_v))
        .crossJoin(F.broadcast(tot_a))
    )
    n_app = F.coalesce("n_appearances", F.lit(0)).cast("long")
    base_share = F.col("n_vectors") / F.col("nv")
    expo_share = n_app / F.col("na")
    return joined.select(
        "label",
        "n_vectors",
        n_app.alias("n_appearances"),
        F.round(base_share, 6).alias("base_share"),
        F.round(expo_share, 6).alias("exposure_share"),
        F.when(base_share > 0, F.round(expo_share / base_share, 6))
        .alias("exposure_lift"),
    ).orderBy("label")
