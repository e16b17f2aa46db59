"""Physical-plan audit over the whole query catalog.

Flags the scale red-flags the naked eye misses in 56 queries:
  - CartesianProduct / BroadcastNestedLoopJoin where not whitelisted
  - row-at-a-time PythonUDF (BatchEvalPython) — Pandas/Arrow only
  - parquet scans with no pushed filter AND no column pruning when the
    query filters/projects (heuristic: ReadSchema == full table schema)
  - single-partition Exchange outside the whitelisted global-order ops
  - a cached frame whose cached plan recomputes another live cache it
    derives from instead of scanning it (persisting a derived frame
    before its parent does this, and so does re-persisting a parent
    after an eviction)

Usage: python tools/audit_plans.py [sf_dir]
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from shifts_etl_spark.caching import release_orphaned_caches
from shifts_etl_spark.plans.catalog import CATALOG
from shifts_etl_spark.session import get_spark

# ops where the remaining SinglePartition stage carries a bounded-tiny
# frame (per-partition offsets, 1-row aggregates, k-row sketch merges) —
# never the data. The former data-sized cases (w1/w2/q8 reference-parity
# windows) were rebuilt on the two-pass prefix sum; their whitelist
# entries now cover only the N_partitions-row offsets ordering inside
# scalable_running_sum.
SINGLE_PARTITION_OK = {
    "w1_running_sum",
    "w2_gaps_islands",
    "q8_kpi_union",  # contains w2
    "q2_topk",  # final single-partition top-k merge of per-partition heaps
    "q12_offset_limit",  # global offset needs one ordered merge
    "w4_scalable_prefix_sum",  # partition-totals prefix (N_partitions rows)
    "a10_grouping_sets",  # grand-total () grouping set
    "a1_global_aggregates",  # single-row global agg
    "f2_date_range",
    "x15_approx_aggregates",
    "q1_scalar_subquery",  # global AVG subquery + global count: 1-row aggs
    "x14_table_profile",  # one-pass profile = single 1-row aggregate
    "x19_tf_idf",  # global doc count N = one-row aggregate
    "q20_idle_rich_customers",  # global AVG scalar subquery: 1-row agg
    "x31_hll_mergeable_sketches",  # sketch union total: k-row → 1-row agg
    "x32_expectations",  # all rules fold into ONE 1-row global aggregate
    "q25_promo_revenue_share",  # global ratio: single-row aggregate
    "x33_theta_set_sketches",  # sketch merges: <= G k-double rows → 1-row agg
    "x244_theta_sketch_md5",  # same sketch merges, md5 oracle family
    "x38_collocation_pmi",  # corpus totals N/Nb: vocab-count → 1-row aggs
    "x39_unigram_logprob",  # corpus totals N/V: vocab-count → 1-row agg
    "x41_heavy_hitters",  # total token count N: 1-row aggregate
    "q28_fk_orphans",  # five per-edge 1-row aggregates unioned
    "q35_inactive_big_balance",  # global AVG scalar: 1-row aggregate
    "x45_bm25_scores",  # corpus stats (N, avgdl): one 1-row aggregate
    "x50_mixture_allocation",  # largest-remainder window over G source rows
    "x52_bigram_entropy",  # final entropy: one 1-row global aggregate
    "q46_forecast_revenue",  # Q6 shape: single-row global revenue agg
    "q49_important_parts",  # Q11 shape: global total = 1-row aggregate
    "q51_top_supplier",  # Q15 shape: scalar MAX = 1-row aggregate
    "q53_small_qty_revenue",  # Q17 shape: single-row global result
    "q60_numeric_moments",  # single-row global bivariate-stats agg
    "q55_banded_revenue",  # Q19 shape: single-row global revenue agg
    "q59_decayed_value",  # decay anchor: global MAX ts = 1-row aggregate
    "x69_inverted_index",  # corpus size n_docs: 1-row aggregate
    "x70_ndcg_eval",  # corpus stats (N, avgdl): one 1-row aggregate
    "x71_materialize_mixture",  # G-row allocation plan (x50 shape)
    "x77_quality_psi",  # corpus total: one 1-row aggregate
    "y1_backoff_bigram_lm",  # train-corpus totals (N, V): one 1-row aggregate
    "x103_coverage_sample",  # largest-remainder quota window over the
    # k-row cell-size table (the x50 allocation shape), never vectors
    "x108_funnel_conversion",  # conversion window over the k-row
    # step-summary frame (k = funnel length), never events
    "x109_rfm_segments",  # quartile boundaries: two 1-row exact-
    # percentile aggregates over the per-user frame, broadcast back
    "x113_lf_agreement",  # one global 10-sum aggregate (map-side
    # combined); the 6-pair matrix is a constant-width stack of 1 row
    "x117_order_total_audit",  # order total: one 1-row aggregate over
    # the 5 error-band cells, broadcast back
    "x119_user_concentration",  # HHI totals + top-k sum: two 1-row
    # aggregates over the per-user count frame
    "x121_nn_hubness",  # histogram total: one 1-row aggregate over the
    # max-degree cells
    "x123_temperature_mixture",  # token total + pow-sum: two 1-row
    # aggregates over the G-row source-count frame
    "x125_revenue_moving_avg",  # sliding frame over the calendar-bounded
    # |dates|-row daily aggregate — never order rows
    "x128_transition_matrix",  # grand total: one 1-row aggregate over
    # the |types|^2 transition cells
    "x129_norm_profile",  # histogram total: one 1-row aggregate over
    # the norm-bin cells
    "x131_keyness_terms",  # corpus totals (N, V): one 1-row aggregate
    # over the vocab cells
    "x134_order_aging",  # anchor date + cell total: two 1-row aggregates
    "x136_weekday_seasonality",  # weekday total: one 1-row aggregate over 7 cells
    "x142_deseasonalized_anomalies",  # global mean / moments: two 1-row
    # aggregates over the |days| cells
    "x146_lm_score_deciles",  # y1's (N, V) totals + the 9 decile edges:
    # 1-row aggregates broadcast onto the per-doc score frame
    "x147_benford_audit",  # digit total: one 1-row aggregate over 9 cells
    "x149_revenue_trend",  # global min date: one 1-row aggregate over
    # the (group, day) cells
    "x151_basket_lift",  # order total: one 1-row aggregate over the
    # distinct (order, brand) basket frame
    "x153_rolling_active_users",  # observed max day: one 1-row
    # aggregate over the (user, day) cells
    "x154_session_timeout_sweep",  # the sweep IS a 1-row aggregate
    # (n_users + 4 conditional gap counts), stacked to 4 rows
    "x155_conversion_latency",  # the summary IS a 1-row aggregate over
    # the per-user conversion frame
    "x157_heaps_law",  # 10-row prefix cumsum + 1-row regr fit over the
    # bucket cell frame
    "x158_filter_agreement",  # the matrix IS a 1-row aggregate of 6
    # conditional sums, stacked to 3 rows
    "x160_fk_coverage",  # per FK edge: two 1-row count aggregates
    # (child total + anti-join orphans), 7-row union
    "x161_churn_risk",  # anchor date: one 1-row aggregate over orders
    "x163_vocab_budget",  # count-histogram cumsum (|distinct counts|
    # rows, Zipf-bounded) + 1-row token total
    "x167_brand_type_chi2",  # grand total: one 1-row aggregate over
    # the bounded contingency cells
    "x168_quality_outliers",  # corpus moments: one 1-row aggregate
    "x169_linenumber_audit",  # the audit IS a 1-row fold of per-order cells
    "x171_pii_cooccurrence",  # band total: one 1-row aggregate over <=4 cells
    "x173_quality_by_length",  # the 9 decile edges: one 1-row
    # exact-percentile aggregate broadcast back
    "x176_source_jsd",  # vocab size V: one 1-row aggregate; dense fill
    # is vocab x G (G = #sources, bounded)
    "x177_sample_representativeness",  # corpus/sample totals: one
    # 1-row aggregate over the category cells
    "x179_activity_heatmap",  # grand total: one 1-row aggregate over
    # <=168 cells
    "x172_decile_mobility",  # window bounds + two decile-edge rows:
    # 1-row aggregates broadcast onto the per-user frame
    "x138_value_streaks",  # day-rank window over the calendar-bounded
    # above-mean daily cells (|days| rows), never events
    "x110_type_cooccurrence",  # user total: one 1-row aggregate onto
    # the |types|^2-cell grid
    "x100_lang_source_mi",  # corpus total N: one 1-row aggregate over
    # the (lang, source) cell counts — cell-bounded, never rows
    "x78_ks_drift",  # n_a/n_b totals: one 1-row aggregate; CDF prefix runs
    # on scalable_running_sum (N_partitions-row offsets fold, never data)
    "x81_table_checksum",  # the checksum IS a 1-row global aggregate
    # (map-side-combined bit_xor + count; the exchange carries one row
    # per map task)
    "x83_minhash_calibration",  # calibration summary: one 1-row global
    # aggregate over the bounded candidate-pair diffs
    "x91_dsir_weights",  # target/corpus LM totals (nt, nc, V): two 1-row
    # aggregates (the y1 shape)
    "x180_cusum_changepoint",  # ordered CUSUM windows over the
    # calendar-bounded |days| daily cells, never events
    "x181_revenue_autocorrelation",  # per-lag ordered moment windows
    # over the |days| x 7 pair cells, never orders
    "x182_calendar_coverage",  # day spine from the 1-row min/max span;
    # the anti-join runs on (type, day) cells, never events
    "x184_session_depth",  # cumulative-share window over <= 64
    # depth-bucket cells + 1-row total, never events
    "x186_mannwhitney_quality",  # midrank window over <= 11 lattice
    # cells + the 1-row closed-form U/z fold
    "x189_activity_powerlaw",  # ordered MLE fold over the bounded
    # activity-histogram cells + its 1-row result
    "x190_dup_cluster_histogram",  # 1-row total over the
    # max-cluster-size histogram cells
    "x191_theilsen_trend",  # exact-percentile folds over the
    # calendar-bounded |days|^2/2 slope pairs; 1-row fit
    "x192_forecast_backtest",  # three 1-row error folds over day cells
    "x193_weekly_mix_psi",  # per-week ordered PSI fold over the
    # |weeks| x |types| grid + 1-row grand totals
    "x195_abc_classification",  # revenue-value block walk over
    # |distinct revenue| cells (the x163 shape) + 1-row totals
    "x199_novelty_position",  # cumulative-share window over 10 decile
    # cells + 1-row total
    "x200_neyman_allocation",  # x50 largest-remainder window over G
    # source rows + 1-row weight total
    "x201_markov_entropy_rate",  # ordered entropy folds over
    # type-bounded cells + the 1-row rate fold
    "x202_peak_concurrency",  # 1-row peak/first/count folds; the data
    # prefix rides scalable_running_sum (no data-sized single stage)
    "x203_stratified_estimate",  # x200's G-row walk + two ordered
    # G-term folds and the 1-row estimate
    "x204_km_survival",  # product-limit walk over |distinct duration|
    # cells + the 1-row anchor/total
    "x205_path_trigrams",  # 1-row triple total onto |types|^3 cells
    "x206_eb_shrinkage",  # two ordered G-term folds + 1-row totals
    "x207_stickiness",  # 1-row max-day anchor onto the (user, day)
    # cells (the x153 shape)
    "x208_attribution_credit",  # 1-row conversion total onto the
    # |types|+1 credit cells
    "x210_langid_kappa",  # 1-row confusion totals (n_total / n_agree /
    # cross-margin sum) — cells are |langs|^2-bounded
    "y6_knn_classifier",  # 1-row macro-F1 fold over the |labels|-row
    # metric frame
    "x236_knn_classifier_autobucket",  # y6's plan with auto-sized vote
    # buckets (merged r8) — same 1-row folds
    "x216_poisson_bootstrap",  # 1-row point estimate + B-row (B=50)
    # percentile fold — the replica aggregate itself is keyed on b
    "x217_dup_flow_matrix",  # 1-row pair total onto |sources|^2 cells
    "x218_ab_power_curve",  # one 1-row moment fold + 4-literal grid
    "x220_retrieval_exposure",  # two 1-row totals onto |labels| cells
    "x235_retrieval_exposure_autobucket",  # x220's plan with auto-sized
    # vote buckets (merged r8) — same 1-row totals
    "x221_mix_rate_decomposition",  # 1-row date span + 1-row period
    # totals onto |segments| cells
    "x222_quantile_normalize",  # pooled-CDF fold over the 11-point
    # lattice (sanctioned tiny window, the x186 shape)
    "y7_negative_collision",  # two 1-row folds (label moments, x67
    # pair count) + a 3-literal batch grid
    "x226_grouped_kfold",  # two 1-row span counts + 1-row doc total
    # onto the |folds| cells
    "x227_loso_quality",  # 1-row corpus total onto |sources| cells
    "x241_balanced_shards",  # serpentine-rank window over the <= W*K
    # (256) sub-bucket summary rows — the corpus never enters the window
}
CROSS_JOIN_OK = {
    "j5_cross_join",
    "x7_sim_topk_bruteforce",
    "x13_sim_topk_ivf",
    "x19_tf_idf",  # crossJoin with the broadcast 1-row N scalar
    "x38_collocation_pmi",  # crossJoin with the broadcast 1-row N/Nb totals
    "x39_unigram_logprob",  # crossJoin with the broadcast 1-row N/V totals
    "x41_heavy_hitters",  # crossJoin with the broadcast 1-row N total
    "x44_pq_ann",  # ADC scan: corpus codes × broadcast |Q|-row LUT table —
    # the compressed-scan contract (8-byte codes, never vectors)
    "x95_hamming_ann",  # binary-index scan: corpus (2×32-bit sign words)
    # × broadcast |Q|-row query words — the x44 contract at 16 B/vector
    "x105_ann_recall",  # composes the x7 exact baseline + x95 binary
    # index (both whitelisted scans); the eval joins two |Q|×k frames
    "x99_source_overlap",  # G×G source-size grid (G = #sources, bounded)
    "x103_coverage_sample",  # crossJoin with the broadcast 1-row sqrt-sum
    "x109_rfm_segments",  # crossJoins with the two broadcast 1-row
    # quartile-boundary frames
    "x110_type_cooccurrence",  # crossJoin with the broadcast 1-row user total
    "x117_order_total_audit",  # crossJoin with the broadcast 1-row
    # order total onto the 5 error-band cells
    "x119_user_concentration",  # crossJoin of the two 1-row summary frames
    "x121_nn_hubness",  # crossJoin with the broadcast 1-row histogram total
    "x123_temperature_mixture",  # crossJoins with the two broadcast 1-row totals
    "x128_transition_matrix",  # crossJoin with the broadcast 1-row grand total
    "x129_norm_profile",  # crossJoin with the broadcast 1-row histogram total
    "x131_keyness_terms",  # crossJoin with the broadcast 1-row (N, V) totals
    "x134_order_aging",  # crossJoins with the broadcast 1-row anchor/total
    "x136_weekday_seasonality",  # crossJoin with the broadcast 1-row total
    "x138_value_streaks",  # crossJoin with the broadcast 1-row global mean
    "x142_deseasonalized_anomalies",  # crossJoins with the broadcast
    # 1-row global mean / moments onto the |days| cells
    "x100_lang_source_mi",  # crossJoin with the broadcast 1-row N total
    "q35_inactive_big_balance",  # crossJoin with the broadcast 1-row AVG
    "x45_bm25_scores",  # crossJoin with the broadcast 1-row (N, avgdl)
    "x46_split_drift",  # lang-universe × 2-split grid: both broadcast-tiny
    "x50_mixture_allocation",  # crossJoin with broadcast 1-row totals
    "x52_bigram_entropy",  # crossJoin with the broadcast 1-row bigram total
    "q49_important_parts",  # crossJoin with the broadcast 1-row nation total
    "q51_top_supplier",  # crossJoin with the broadcast 1-row MAX scalar
    "q59_decayed_value",  # crossJoin with the broadcast 1-row anchor ts
    "x69_inverted_index",  # crossJoin with the broadcast 1-row n_docs
    "x70_ndcg_eval",  # crossJoin with the broadcast 1-row (N, avgdl)
    "x71_materialize_mixture",  # crossJoins with broadcast 1-row totals (x50)
    "x77_quality_psi",  # 10-bin grid + broadcast 1-row corpus total
    "y1_backoff_bigram_lm",  # crossJoin with the broadcast 1-row (N, V) totals
    "x146_lm_score_deciles",  # y1's crossJoins + the broadcast 1-row
    # decile-edge array onto the per-doc score frame
    "x147_benford_audit",  # crossJoin with the broadcast 1-row total
    # onto the 9 digit cells
    "x149_revenue_trend",  # crossJoin with the broadcast 1-row min date
    "x151_basket_lift",  # crossJoin with the broadcast 1-row order total
    # onto the |brands|^2-bounded pair cells
    "x153_rolling_active_users",  # crossJoin with the broadcast 1-row
    # max-day clamp onto the (user, day) cells
    "x157_heaps_law",  # crossJoin with the broadcast 1-row (beta, K)
    # fit onto the 10 prefix points
    "x160_fk_coverage",  # 1-row x 1-row crossJoin per FK edge
    # (child total x orphan count)
    "x161_churn_risk",  # crossJoin with the broadcast 1-row anchor date
    "x163_vocab_budget",  # crossJoins with the broadcast 4-row target
    # frame and the 1-row token total
    "x167_brand_type_chi2",  # crossJoin with the broadcast 1-row grand total
    "x168_quality_outliers",  # crossJoin with the broadcast 1-row moments
    "x171_pii_cooccurrence",  # crossJoin with the broadcast 1-row total
    "x173_quality_by_length",  # crossJoin with the broadcast 1-row edges
    "x176_source_jsd",  # crossJoins: vocab x broadcast G-row sources +
    # the broadcast 1-row V total
    "x177_sample_representativeness",  # crossJoin with the broadcast
    # 1-row totals
    "x179_activity_heatmap",  # crossJoin with the broadcast 1-row total
    "x172_decile_mobility",  # crossJoins with the broadcast 1-row
    # bounds / decile edges
    "x78_ks_drift",  # crossJoin with the broadcast 1-row (n_a, n_b) totals
    "x91_dsir_weights",  # crossJoins with the broadcast 1-row LM totals
    "x182_calendar_coverage",  # |types| x |days| spine grid — both
    # sides bounded cell frames, never events
    "x184_session_depth",  # crossJoin with the broadcast 1-row session
    # total onto the depth-bucket cells
    "x190_dup_cluster_histogram",  # crossJoin with the broadcast 1-row
    # cluster/doc totals onto the size-histogram cells
    "x191_theilsen_trend",  # t < t pair join over calendar-bounded day
    # cells (never orders) + broadcast 1-row min-date/fit frames
    "x192_forecast_backtest",  # crossJoins of the three 1-row scorecards
    "x193_weekly_mix_psi",  # |weeks| x |types| grid — both bounded cell
    # frames — + the broadcast 1-row grand totals
    "x195_abc_classification",  # crossJoins with the broadcast 1-row
    # revenue/part totals onto the class cells
    "x199_novelty_position",  # crossJoin with the broadcast 1-row total
    # onto the 10 decile cells
    "x200_neyman_allocation",  # crossJoin with the broadcast 1-row
    # weight sum onto the G-row stratum frame
    "x202_peak_concurrency",  # crossJoins of the three 1-row summaries
    "x203_stratified_estimate",  # crossJoins with the broadcast 1-row
    # weight/total frames onto the G-row stratum frame
    "x204_km_survival",  # crossJoins with the broadcast 1-row
    # anchor/total onto the duration cells
    "x205_path_trigrams",  # crossJoin with the broadcast 1-row total
    "x206_eb_shrinkage",  # crossJoin with the broadcast 1-row totals
    "x207_stickiness",  # crossJoins with the broadcast 1-row max-day
    # clamp (the x153 shape)
    "x208_attribution_credit",  # crossJoin with the broadcast 1-row
    # conversion total onto the |types|+1 credit cells
    "x209_ann_mrr",  # composes the x7 exact baseline + x95 binary
    # index (both whitelisted scans); the eval joins |Q|-row frames
    "x210_langid_kappa",  # crossJoin with the broadcast 1-row
    # cross-margin total onto the 1-row diagonal fold
    "y5_rrf_fusion",  # both retrievers are the x7 broadcast-query
    # linear-scan contract (|Q| rows x corpus); fusion joins |Q| x k
    "y6_knn_classifier",  # crossJoin with the broadcast 1-row macro-F1
    # onto the |labels|-row metric frame
    "x236_knn_classifier_autobucket",  # y6's crossJoin, auto-bucket
    # variant (merged r8)
    "x215_ivf_probe_sweep",  # the x13 broadcast-centroid scan plus the
    # 4-literal probe grid onto |Q|-bounded candidate lists
    "x230_ivf_fixed_cells_sweep",  # same contract with n_cells=8
    # md5-priority centroids (merged r8)
    "x216_poisson_bootstrap",  # crossJoin of the 1-row point estimate
    # with the broadcast 1-row CI fold
    "x217_dup_flow_matrix",  # crossJoin with the broadcast 1-row pair
    # total onto the |sources|^2 cells
    "x220_retrieval_exposure",  # crossJoins with the two broadcast
    # 1-row totals onto the |labels| cells
    "x235_retrieval_exposure_autobucket",  # x220's crossJoins,
    # auto-bucket variant (merged r8)
    "x221_mix_rate_decomposition",  # crossJoins with the broadcast
    # 1-row date-span / period totals
    "x222_quantile_normalize",  # range lookup of |sources| x 11 cells
    # against the broadcast 11-row pooled-CDF lattice
    "y7_negative_collision",  # crossJoin of the two broadcast 1-row
    # folds (label moments x pair count)
    "x227_loso_quality",  # crossJoin with the broadcast 1-row corpus
    # total onto the |sources| cells
    "x241_balanced_shards",  # crossJoin with the broadcast 1-row token
    # total onto the |shards| cells
}


def _children(node) -> list:
    # a cache scan leads into the cached plan, an adaptive plan into its
    # initial plan (query stages would hide the cache scans)
    name = node.getClass().getSimpleName()
    if name == "InMemoryTableScanExec":
        return [node.relation().cacheBuilder().cachedPlan()]
    if name == "AdaptiveSparkPlanExec":
        return [node.inputPlan()]
    ch = node.children()
    return [ch.apply(i) for i in range(ch.size())]


def _scans(plan, jvm, transitive: bool) -> set[int]:
    """Identities of the caches ``plan`` scans: the ones it reads
    directly, or with ``transitive`` every cache reached through them."""
    found, stack = set(), [plan]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == "InMemoryTableScanExec":
            found.add(jvm.System.identityHashCode(node.relation().cacheBuilder()))
            if not transitive:
                continue
        stack.extend(_children(node))
    return found


def recomputed_caches(df) -> list[str]:
    """Caches in ``df``'s executed plan whose cached plan holds another
    live cache's logical plan but reads neither that cache nor a cache
    built on it: materializing them computes the parent again."""
    spark = df.sparkSession
    jvm = spark._jvm
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")  # no public getter
    field.setAccessible(True)
    seq = field.get(cm)
    live = {}
    for i in range(seq.size()):
        cd = seq.apply(i)
        builder = cd.cachedRepresentation().cacheBuilder()
        live[jvm.System.identityHashCode(builder)] = (cd, builder)
    if not live:
        return []
    plan = df._jdf.queryExecution().executedPlan()
    in_plan = _scans(plan, jvm, transitive=True) & live.keys()

    def subtrees(lp):
        out, stack = [], [lp]
        while stack:
            n = stack.pop()
            out.append(n)
            ch = n.children()
            stack.extend(ch.apply(i) for i in range(ch.size()))
        return out

    contains = {
        (r, c): any(
            n.sameResult(live[c][0].plan()) for n in subtrees(live[r][0].plan())
        )
        for r in live
        for c in live
        if r != c
    }
    flags = []
    for r in sorted(in_plan):
        reads = _scans(live[r][1].cachedPlan(), jvm, transitive=False)
        for c in live:
            if c == r or c in reads or not contains[r, c]:
                continue
            if any(contains.get((d, c)) for d in reads):
                continue
            out = live[r][0].cachedRepresentation().output().mkString(", ")
            parent = live[c][0].cachedRepresentation().output().mkString(", ")
            flags.append(f"cache [{out}] recomputes cache [{parent}]")
    return flags


def audit(name: str, df) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    flags = recomputed_caches(df)
    if name not in CROSS_JOIN_OK and (
        "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan
    ):
        flags.append("unexpected cross/nested-loop join")
    if "BatchEvalPython" in plan:
        flags.append("row-at-a-time Python UDF (use Arrow/Pandas)")
    if name not in SINGLE_PARTITION_OK and re.search(
        r"Exchange SinglePartition", plan
    ):
        flags.append("unexpected SinglePartition exchange")
    return flags


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="audit")
    n_flagged = 0
    for name, spec in CATALOG.items():
        # judge each entry on its own caches
        release_orphaned_caches()
        spark.catalog.clearCache()
        try:
            flags = audit(name, spec.spark(spark, sf_dir))
        except Exception as e:  # noqa: BLE001
            flags = [f"EXCEPTION building plan: {e}"]
        if flags:
            n_flagged += 1
            print(f"FLAG {name}")
            for f in flags:
                print(f"  - {f}")
        else:
            print(f"ok   {name}")
    print(f"\n{len(CATALOG) - n_flagged} clean, {n_flagged} flagged")
    sys.exit(1 if n_flagged else 0)


if __name__ == "__main__":
    main()
