"""Theta/KMV sketches (operators/theta.py): estimate error bounds vs
exact distinct counts, union & intersection algebra on planted-overlap
sets, exactness below k, and partition-independence (the property that
makes the sketch safe to build at any cluster size)."""

import pytest
from pyspark.sql import Row, functions as F

from shifts_etl_spark.operators import theta

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def two_sets(spark):
    """A = 0..9999, B = 5000..14999 → |A∪B| = 15000, |A∩B| = 5000."""
    a = spark.range(0, 10_000).select(F.lit("a").alias("s"), F.col("id"))
    b = spark.range(5_000, 15_000).select(F.lit("b").alias("s"), F.col("id"))
    return a.unionAll(b)


def test_estimate_error_bound(spark, two_sets):
    sk = theta.theta_sketch(two_sets, ["s"], "id", k=512)
    vals = {
        r["s"]: r["est"]
        for r in sk.select(
            "s", theta.theta_estimate(F.col("ks"), F.col("k")).alias("est")
        ).collect()
    }
    # k=512 → RSE ≈ 4.4%; allow ~4 sigma
    assert vals["a"] == pytest.approx(10_000, rel=0.18)
    assert vals["b"] == pytest.approx(10_000, rel=0.18)


def test_union_and_intersection_on_planted_overlap(spark, two_sets):
    sk = theta.theta_sketch(two_sets, ["s"], "id", k=512).withColumn(
        "one", F.lit(1)
    )
    union_est = (
        sk.groupBy("one")
        .agg(theta.theta_union_agg(F.col("ks"), 512).alias("ks"))
        .select(theta.theta_estimate(F.col("ks"), F.lit(512)).alias("v"))
        .first()["v"]
    )
    assert union_est == pytest.approx(15_000, rel=0.18)

    a = sk.where("s = 'a'").select(
        "one", F.col("ks").alias("ks_a"), F.col("k").alias("k_a")
    )
    b = sk.where("s = 'b'").select(
        "one", F.col("ks").alias("ks_b"), F.col("k").alias("k_b")
    )
    inter_est = (
        a.join(b, "one")
        .select(
            theta.theta_intersect_estimate(
                F.col("ks_a"), F.col("ks_b"), F.col("k_a"), F.col("k_b")
            ).alias("v")
        )
        .first()["v"]
    )
    # intersection variance is higher (2 thetas compound): allow 25%
    assert inter_est == pytest.approx(5_000, rel=0.25)


def test_exact_below_k(spark):
    """A sketch that never fills holds every distinct hash → exact."""
    df = spark.createDataFrame(
        [Row(s="x", v=i % 37) for i in range(500)]
    )
    sk = theta.theta_sketch(df, ["s"], "v", k=256)
    r = sk.select(
        F.size("ks").alias("n"),
        theta.theta_estimate(F.col("ks"), F.col("k")).alias("est"),
    ).first()
    assert r["n"] == 37 and r["est"] == 37.0


def test_partition_independent(spark, two_sets):
    """Same data at 1 and 13 shuffle partitions → byte-identical sketch
    (k smallest distinct hashes is a pure set property)."""
    one = theta.theta_sketch(two_sets.repartition(1), ["s"], "id", k=128)
    many = theta.theta_sketch(two_sets.repartition(13), ["s"], "id", k=128)
    rows1 = {r["s"]: r["ks"] for r in one.collect()}
    rows2 = {r["s"]: r["ks"] for r in many.collect()}
    assert rows1 == rows2


def test_x33_catalog_query_bounds(spark):
    """The catalog entry's estimates stay within bound of exact counts,
    and the exact-regime intersection (150 users < k=1024) is EXACT."""
    from shifts_etl_spark.plans.extensions import x33_theta_set_sketches

    got = {
        r["set_name"]: r["approx_distinct"]
        for r in x33_theta_set_sketches(spark, SF).collect()
    }
    ev = spark.read.parquet(f"{SF}/events.parquet")
    for et in ["click", "view", "error", "purchase", "signup"]:
        exact = ev.where(F.col("event_type") == et).select("event_id").distinct().count()
        assert got[et] == pytest.approx(exact, rel=0.25), et
    exact_union = ev.select("event_id").distinct().count()
    assert got["__union__"] == pytest.approx(exact_union, rel=0.25)
    exact_overlap = (
        ev.where("event_type = 'click'")
        .select("user_id")
        .intersect(ev.where("event_type = 'view'").select("user_id"))
        .count()
    )
    assert got["click&view:user_id"] == exact_overlap


def test_md5_family_same_bounds_and_uniform_range(spark, two_sets):
    """The md5 hash family (the x244 oracle key) keeps the estimator
    contract: uniform u in (0, 1], error within the k=512 bound, and
    partition independence."""
    sk = theta.theta_sketch(two_sets, ["s"], "id", k=512, hash_fn="md5")
    vals = {
        r["s"]: r["est"]
        for r in sk.select(
            "s", theta.theta_estimate(F.col("ks"), F.col("k")).alias("est")
        ).collect()
    }
    assert vals["a"] == pytest.approx(10_000, rel=0.18)
    assert vals["b"] == pytest.approx(10_000, rel=0.18)
    bounds = sk.select(
        F.min(F.element_at("ks", 1)).alias("lo"),
        F.max(F.element_at("ks", F.size("ks"))).alias("hi"),
    ).first()
    assert 0.0 < bounds["lo"] <= bounds["hi"] <= 1.0
    one = theta.theta_sketch(
        two_sets.repartition(1), ["s"], "id", k=128, hash_fn="md5"
    )
    many = theta.theta_sketch(
        two_sets.repartition(13), ["s"], "id", k=128, hash_fn="md5"
    )
    assert {r["s"]: r["ks"] for r in one.collect()} == {
        r["s"]: r["ks"] for r in many.collect()
    }


def test_x244_catalog_query_bounds(spark):
    """The md5 twin's estimates track x33's contract: within bound of
    exact counts; the unfilled intersection regime is EXACT."""
    from shifts_etl_spark.plans.extensions import x244_theta_sketch_md5

    got = {
        r["set_name"]: r["approx_distinct"]
        for r in x244_theta_sketch_md5(spark, SF).collect()
    }
    ev = spark.read.parquet(f"{SF}/events.parquet")
    for et in ["click", "view", "error", "purchase", "signup"]:
        exact = ev.where(F.col("event_type") == et).select("event_id").distinct().count()
        assert got[et] == pytest.approx(exact, rel=0.25), et
    exact_union = ev.select("event_id").distinct().count()
    assert got["__union__"] == pytest.approx(exact_union, rel=0.25)
    exact_overlap = (
        ev.where("event_type = 'click'")
        .select("user_id")
        .intersect(ev.where("event_type = 'view'").select("user_id"))
        .count()
    )
    assert got["click&view:user_id"] == exact_overlap
