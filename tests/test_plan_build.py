"""Building a headline query's plan submits no Spark job: the scans read
with pinned schemas, so the only jobs left at build time are the ones a
query's operators run on purpose."""

from shifts_etl_spark.caching import release_orphaned_caches
from shifts_etl_spark.plans.catalog import BENCH_QUERIES, CATALOG

SF = "/root/testdata/sf0.001"

# Entries that run jobs while their plan is built, with how many.
# operators/windows.scalable_running_sum runs its approxQuantile pass and
# its bucket-totals collect() eagerly (4 jobs); q8 embeds w2 and pays them
# again. A lazy form (percentile_approx bounds, a non-equi join for the
# offsets) moved the jobs to run time and made w2 slower (0.72 -> 0.86 s).
BUILD_JOBS_ALLOWED = {"w2_gaps_islands": 4, "q8_kpi_union": 4}


def test_headline_builds_submit_no_jobs(spark, count_jobs):
    jobs = {}
    try:
        for q in BENCH_QUERIES:
            jobs[q] = count_jobs(lambda: CATALOG[q].spark(spark, SF))
    finally:
        release_orphaned_caches()
        spark.catalog.clearCache()
    assert {q: n for q, n in jobs.items() if n} == BUILD_JOBS_ALLOWED
