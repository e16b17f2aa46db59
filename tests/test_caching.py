"""shifts_etl_spark.caching: scopes own what they persist, the ambient
owner stays bounded and drainable, and no catalog entry that caches
leaves a frame behind that nothing can release."""

import sys
import threading

import pytest

from shifts_etl_spark import caching
from shifts_etl_spark.operators import dedup
from shifts_etl_spark.plans.catalog import CATALOG

SF = "/root/testdata/sf0.001"


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


class _FakeDF:
    """Stand-in that never waits on the JVM: the owners only call
    persist() and unpersist()."""

    def __init__(self, fail: bool = False):
        self.fail = fail
        self.released = 0

    def persist(self, level=None):
        return self

    def unpersist(self):
        self.released += 1
        if self.fail:  # what a frame of a stopped session does
            raise RuntimeError("SparkContext was shut down")
        return self


@pytest.fixture(autouse=True)
def _drained():
    caching.release_orphaned_caches()
    yield
    caching.release_orphaned_caches()


# --------------------------------------------------------------------------
# scopes
# --------------------------------------------------------------------------

def test_scope_releases_what_it_persisted_on_raise():
    outer, inner = _FakeDF(), _FakeDF()
    with pytest.raises(ValueError):
        with caching.scope():
            caching.persist(outer)
            with caching.scope():
                caching.persist(inner)
            assert (outer.released, inner.released) == (0, 1)
            raise ValueError
    assert (outer.released, inner.released) == (1, 1)
    assert caching._AMBIENT == []


def test_scope_is_per_thread():
    # a thread does not inherit the scope of the thread that started it:
    # what it persists belongs to the ambient owner
    df = _FakeDF()
    with caching.scope():
        t = threading.Thread(target=caching.persist, args=(df,))
        t.start()
        t.join()
    assert df.released == 0
    assert caching._AMBIENT == [df]


def test_stopped_session_handles_count_as_released():
    dead = _FakeDF(fail=True)
    caching.persist(dead)
    assert caching.release_orphaned_caches() == 1
    assert caching._AMBIENT == []
    with caching.scope():  # a scope exits cleanly past the same error
        caching.persist(_FakeDF(fail=True))


def test_scoped_calls_leave_ambient_owner_empty(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(80)
    spark.catalog.clearCache()
    with caching.scope():
        dedup.minhash_lsh_pairs(docs).count()
        assert not _cache_empty(spark)
    assert caching._AMBIENT == []
    assert _cache_empty(spark)


# --------------------------------------------------------------------------
# the ambient owner
# --------------------------------------------------------------------------

def test_ambient_owner_stays_bounded(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(100)
    dedup.embedding_nn_pairs_lsh(emb).count()
    assert caching._AMBIENT  # an unscoped call parks its frame here
    # repeated calls never grow the live set past the bound (oldest
    # frames unpersist first) while the recent ones stay warm for
    # Spark's cached-plan reuse
    for _ in range(caching._AMBIENT_BOUND):
        dedup.embedding_nn_pairs_lsh(emb).count()
    assert len(caching._AMBIENT) <= caching._AMBIENT_BOUND
    assert caching.release_orphaned_caches() <= caching._AMBIENT_BOUND
    assert caching._AMBIENT == []


def test_ambient_bound_evicts_oldest_first():
    dfs = [_FakeDF() for _ in range(caching._AMBIENT_BOUND + 2)]
    for df in dfs:
        caching.persist(df)
    assert [d.released for d in dfs[:3]] == [1, 1, 0]
    assert caching._AMBIENT == dfs[2:]


def test_ambient_concurrent_persist_and_drain_never_raises():
    errs: list = []
    made = [[] for _ in range(8)]

    def worker(mine):
        try:
            for _ in range(50):
                # past the bound, so evictions race the drains
                for _ in range(caching._AMBIENT_BOUND):
                    mine.append(caching.persist(_FakeDF()))
                caching.release_orphaned_caches()
        except Exception as e:  # pragma: no cover - the failure branch
            errs.append(e)

    threads = [threading.Thread(target=worker, args=(m,)) for m in made]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errs == []
    # whatever the interleaving, the bound holds, a drain empties the
    # owner, and every frame was released exactly once
    assert len(caching._AMBIENT) <= caching._AMBIENT_BOUND
    caching.release_orphaned_caches()
    assert caching._AMBIENT == []
    assert {df.released for mine in made for df in mine} == {1}


def test_dedup_keeps_the_drain_name():
    # perfbench imports the drain from operators.dedup
    assert dedup.release_orphaned_caches is caching.release_orphaned_caches


# --------------------------------------------------------------------------
# catalog entries that cache
# --------------------------------------------------------------------------

CACHING_ENTRIES = [
    "x3_dedup_minhash_lsh",
    "x8_sim_topk_lsh",
    "x25_dedup_pipeline",
    "x219_greedy_coverage",
    "x237_training_data_ledger",
    "x240_incremental_neardup",
    "y2_hard_negatives",
    "q33_recursive_hierarchy",
]


@pytest.mark.parametrize("name", CACHING_ENTRIES)
def test_entry_leaves_nothing_after_drain(spark, name):
    spark.catalog.clearCache()
    CATALOG[name].spark(spark, SF).collect()
    caching.release_orphaned_caches()
    assert _cache_empty(spark)


# --------------------------------------------------------------------------
# the plan audit's cache check
# --------------------------------------------------------------------------

def test_audit_flags_cache_that_recomputes_its_parent(spark):
    from pyspark.sql import functions as F

    from tools.audit_plans import recomputed_caches

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    parent = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"), F.max("doc_id").alias("m")
    )
    child = parent.select("source", (F.col("n") + F.col("m")).alias("nm"))
    spark.catalog.clearCache()
    with caching.scope():
        # parent first: the child's cached plan scans the parent
        caching.persist(parent)
        caching.persist(child)
        assert recomputed_caches(child.join(parent, "source")) == []
    with caching.scope():
        # child first: its cached plan runs the parent's aggregate
        caching.persist(child)
        caching.persist(parent)
        (flag,) = recomputed_caches(child.join(parent, "source"))
        assert "recomputes cache" in flag and "nm" in flag


@pytest.mark.parametrize(
    "name", ["x3_dedup_minhash_lsh", "x240_incremental_neardup"]
)
def test_audit_passes_lsh_cache_chains(spark, name):
    from tools.audit_plans import recomputed_caches

    spark.catalog.clearCache()
    with caching.scope():
        assert recomputed_caches(CATALOG[name].spark(spark, SF)) == []
