"""Building a query's plan submits no Spark job: the scans read with
pinned schemas, and operators size their eager passes away where the
input allows (``windows.scalable_running_sum`` samples nothing under one
file split). The entries that still run jobs at build are listed below
with the operator that runs them."""

from shifts_etl_spark.caching import release_orphaned_caches
from shifts_etl_spark.plans.catalog import BENCH_QUERIES, CATALOG

SF = "/root/testdata/sf0.001"

_DEDUP_CLUSTERS = (
    "dedup.dedup_clusters: connected components, a localCheckpoint and an "
    "isEmpty() per label-propagation round until no label changes"
)
_CURATE = "pipeline.curate / prepare_training_data: each stage's ledger row is counted as it runs"
_BPE = "bpe.bpe_train: one collect() per learned merge, a localCheckpoint per round"
_KMEANS = "clustering.kmeans_fit: Lloyd iterations collect their centroids"
_LSH_DIM = "dedup.embedding_nn_pairs_lsh: first() infers the vector dimension"
_IVF = "simsearch._md5_priority_centroids: collect() of the probe centroids"
_KNN_BUCKETS = "profile._knn_votes / knn_label_agreement: count() sizes the buckets"

# Entries whose plan build runs Spark jobs, with why. Counts are not
# pinned: the label-propagation entries vary by one job between runs.
BUILD_JOBS_ALLOWED = {
    **dict.fromkeys(
        [
            "x25_dedup_pipeline",
            "x67_dedup_components",
            "x84_cluster_canonical",
            "x106_dedup_savings",
            "x178_dedup_worklist",
            "x190_dup_cluster_histogram",
            "x223_source_originality",
            "x226_grouped_kfold",
        ],
        _DEDUP_CLUSTERS,
    ),
    **dict.fromkeys(
        [
            "x231_curation_ledger",
            "x232_curation_ledger_tokens",
            "x233_curation_decontam",
            "x234_curation_ledger_minhash",
            "x237_training_data_ledger",
            "x238_training_data_filters",
        ],
        _CURATE,
    ),
    **dict.fromkeys(["x74_bpe_merges", "x75_bpe_encode", "x139_bpe_fertility"], _BPE),
    **dict.fromkeys(["x30_kmeans_cells", "x103_coverage_sample"], _KMEANS),
    **dict.fromkeys(
        ["x36_semantic_dedup", "x243_semantic_dedup_bands"],
        _KMEANS + "; curation.semantic_dedup infers the vector dimension",
    ),
    **dict.fromkeys(["x6_embedding_nn", "x121_nn_hubness", "x239_embedding_nn_lsh"], _LSH_DIM),
    "x246_embedding_nn_autoband": _LSH_DIM + ", and count() sizes the band bits",
    **dict.fromkeys(
        ["x13_sim_topk_ivf", "x215_ivf_probe_sweep", "x230_ivf_fixed_cells_sweep"], _IVF
    ),
    **dict.fromkeys(
        [
            "x185_knn_label_agreement",
            "x220_retrieval_exposure",
            "x229_knn_agreement_autobucket",
            "x235_retrieval_exposure_autobucket",
            "x236_knn_classifier_autobucket",
            "y6_knn_classifier",
        ],
        _KNN_BUCKETS,
    ),
    **dict.fromkeys(
        ["x240_incremental_neardup", "x242_incremental_neardup_sidecar"],
        "dedup.incremental_minhash_dedup: building on its caching.persist'ed "
        "group map and signatures runs 3 of its 4 jobs (1 without the persists)",
    ),
    "q33_recursive_hierarchy": "hierarchy.iterate_hierarchy: take() and collect() per level until a fixpoint",
    "q42_type_cooccurrence": "count() of distinct users, the lift denominator",
    "x27_bloom_semi_join": "bloom.build_bloom: collect() of the filter bits",
    "x44_pq_ann": "pq.train_codebooks and pq_topk: collect() of the training sample and of the query rows",
    "x46_split_drift": "count() of the distinct languages",
    "x47_pagerank": "graph.pagerank: iterations with a convergence count()",
    "x49_mmr_rerank": "simsearch.mmr_topk: the greedy rerank runs on collected candidates",
    "x57_triangle_count": "graph.triangle_count: collect() of the counts",
    "x73_negative_sampling": "count() of the embeddings sizes the buckets",
    "x76_label_noise": "first() infers the vector dimension",
    "x88_quality_calibration": "curation.calibrate_quality: collect() of the score histogram",
    "x89_pca_whiten": "profile.pca_whiten: first() infers the dimension, collect() of the covariance",
    "x219_greedy_coverage": "curation.greedy_coverage_select: a collect() and localCheckpoint per greedy round",
    "x224_absorption_conversion": "funnel.absorption_conversion: collect() of the transition counts for a driver-side solve",
    "x247_det_quantile_sketch": "quantiles.det_quantile_sketch_quantiles: count() sets the compaction level",
    "y2_hard_negatives": "simsearch.hard_negative_topk: first() infers the vector dimension",
    "y3_embedding_covariance": "profile.embedding_covariance: first() infers the vector dimension",
}


def _build_jobs(spark, count_jobs, names) -> dict[str, int]:
    jobs = {}
    try:
        for q in names:
            jobs[q] = count_jobs(lambda: CATALOG[q].spark(spark, SF))
            release_orphaned_caches()
    finally:
        spark.catalog.clearCache()
    return jobs


def test_headline_builds_submit_no_jobs(spark, count_jobs):
    jobs = _build_jobs(spark, count_jobs, BENCH_QUERIES)
    assert {q: n for q, n in jobs.items() if n} == {}


def test_catalog_builds_submit_no_jobs(spark, count_jobs):
    """Every entry not on the allowlist builds without a job."""
    assert set(BUILD_JOBS_ALLOWED) <= set(CATALOG)
    rest = [q for q in CATALOG if q not in BUILD_JOBS_ALLOWED]
    jobs = _build_jobs(spark, count_jobs, rest)
    assert {q: n for q, n in jobs.items() if n} == {}


def test_allowlisted_builds_still_submit_jobs(spark, count_jobs):
    """The allowlist names no entry that has stopped running jobs at build."""
    jobs = _build_jobs(spark, count_jobs, BUILD_JOBS_ALLOWED)
    assert [q for q, n in jobs.items() if not n] == []
