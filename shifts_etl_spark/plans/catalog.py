"""Unified query catalog — the single source for the driver contract
(__spark_entry__.queries() / oracle_sql()) and for bench.py's headline set.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .extensions import EXTENSIONS
from .relational import RELATIONAL
from .tpch import TPCH


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI/DuckDB SQL twin; None → rows-only check


# Names that already hold a green driver-correctness row. The driver's
# harness consumes CATALOG in iteration order and only reaches the first
# ~50 entries per round, so queries WITHOUT a driver row yet must iterate
# first; the already-verified set goes last.
#
# SELF-MAINTAINING since round 3: every CORRECTNESS_r*.json the driver has
# dropped in the repo root is parsed at import and its fully-green rows
# (rows + schema + hash) make up the set. Round 2's verdict flagged the
# hand-maintained list going stale as the top window-wasting defect; this
# removes the failure mode instead of patching it each round.


def _driver_green_rounds() -> dict:
    """name -> latest round number with a fully-green driver row."""
    import json
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parents[2]
    latest: dict = {}
    for p in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", p.name)
        rnd = int(m.group(1)) if m else 0
        try:
            data = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        for name, row in data.items():
            if (
                isinstance(row, dict)
                and row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
            ):
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


# Names whose Spark + oracle semantics changed AFTER their last green driver
# row: name -> round the semantics changed in. Rows from earlier rounds no
# longer certify the current code, so the name sorts back to the unverified
# front until a round-N-or-later CORRECTNESS file re-greens it.
#   x53: round 5 re-keyed the leakage fingerprint to the 160-char prefix
#        (its r4 green was vacuous — 0 rows at sf0.01).
#   x185/x215/x220/y6: round 8 flipped their operator defaults from the
#        block-quadratic fixed-16-bucket / stride-centroid configs to
#        the oracle-certified linear modes (auto-bucket ceil(N/256),
#        n_cells=8 md5-priority centroids) — VERDICT r7 #3. Results
#        differ, so pre-r8 green rows no longer certify them.
_SEMANTICS_CHANGED_IN = {
    "x53_split_leakage": 5,
    "x185_knn_label_agreement": 8,
    "x215_ivf_probe_sweep": 8,
    "x220_retrieval_exposure": 8,
    "y6_knn_classifier": 8,
    # r9: the corpus-coupled quadratic defaults the r8 judge measured
    # (VERDICT #3-#5) flipped to corpus-decoupled / band-blocked modes
    "x13_sim_topk_ivf": 9,
    "x6_embedding_nn": 9,
    "x121_nn_hubness": 9,
    "x36_semantic_dedup": 9,
    # r9 VERDICT #6 sweep: the remaining fixed-cardinality-block
    # self-joins (x76/y2 measured 3.6/3.5 at 10×; x73 flat at 0.8 but
    # same N² row term) flipped to band-blocked / auto-bucket modes
    "x76_label_noise": 9,
    "y2_hard_negatives": 9,
    "x73_negative_sampling": 9,
}

_GREEN_ROUNDS = _driver_green_rounds()
_DRIVER_VERIFIED = frozenset(_GREEN_ROUNDS) - frozenset(
    n
    for n, rnd in _SEMANTICS_CHANGED_IN.items()
    if _GREEN_ROUNDS.get(n, 0) < rnd
)

_MERGED = {**RELATIONAL, **TPCH, **EXTENSIONS}

# Round-2 verdict sort contract (VERDICT.md "Next round" #1): the window must
# never burn a slot on a rows-only entry while oracle-backed queries lack a
# driver row. Sort key = (already-driver-verified, rows-only, name) so the
# first ~50 entries are exactly the not-yet-verified oracle-backed tail.
CATALOG: dict[str, QuerySpec] = {
    name: QuerySpec(name, *_MERGED[name])
    for name in sorted(
        _MERGED,
        key=lambda n: (
            n in _DRIVER_VERIFIED,
            _MERGED[n][1] is None,
            n,
        ),
    )
}

# headline queries bench.py times at sf0.1 (heaviest / most representative)
BENCH_QUERIES = [
    "a6_pricing_summary",
    "j1_inner_broadcast",
    "j6_range_join",
    "w2_gaps_islands",
    "w7_session_window",
    "q8_kpi_union",
    "x1_dedup_exact",
    "x3_dedup_minhash_lsh",
    "x7_sim_topk_bruteforce",
    "x9_text_stats",
]
