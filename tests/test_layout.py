"""Physical-plan layout: a same-keyed self-join pays its shuffle once."""

from pyspark.sql import functions as F


def test_self_join_reuses_shuffle_exchange(spark):
    """A self-join over one aggregated frame plans the second side as
    ReusedExchange (AQE final plan) — the shuffle is paid once and reused,
    the pattern that makes same-keyed multi-readers cheap at scale.
    Caveat asserted implicitly: this fires for identical subplans (self
    joins); union branches re-analyze attribute ids and do NOT reuse."""
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    d = li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("v"))
    j = (
        d.alias("x")
        .join(d.alias("y"), "l_orderkey")
        .where(F.col("x.v") == F.col("y.v"))
    )
    assert len(j.collect()) > 0  # finalize the adaptive plan
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan
