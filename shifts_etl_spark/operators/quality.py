"""Integrity validation — Spark analog of the reference's Postgres
constraints (reference initdb.sql:3-46; rollback behavior
etl/tests/test_shift_data_processor.py:242-300, SURVEY.md §2.12).

Spark enforces no constraints, so PK/FK become pre-write validation
DataFrames; any violation raises IntegrityError BEFORE anything is written,
which combined with the staged atomic sink gives the reference's
"duplicate PK ⇒ zero rows persisted" semantics at job granularity.

Scale notes: ``validate_tables`` folds every PK and FK check into one
shuffle (each table scanned once into one (check, key, role) row per
check it takes part in, the four unioned and grouped on (check, key), with
map-side partial counts) and takes the first five violating groups in
(check, key) order with one action. The lowest violating check names the
broken constraint, as a check-by-check pass in listing order would, and
its groups give the sample keys, so clean and failing batches alike run
that one job.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F


class IntegrityError(Exception):
    """Raised on PK/FK violation — the engine's analog of
    psycopg2.IntegrityError in the reference rollback test."""


# Row roles of the folded check: a PK row, or one side of an FK edge.
_PK, _CHILD, _PARENT = 0, 1, 2


def _constraints(tables: dict[str, DataFrame]) -> list[tuple[int, str, str, str | None]]:
    """(check id, table, key, parent table or None for a PK) per
    constraint the tables take part in, PKs then FKs in schemas.py
    listing order. Check ids number the parts of the folded check: a PK
    is one part, an FK two (its child and parent sides) and takes the
    first one's number."""
    from ..schemas import FOREIGN_KEYS, PRIMARY_KEYS

    out, n_parts = [], 0
    for name, pk in PRIMARY_KEYS.items():
        if name in tables:
            out.append((n_parts, name, pk, None))
            n_parts += 1
    for name, (key, parent) in FOREIGN_KEYS.items():
        if name in tables and parent in tables:
            out.append((n_parts, name, key, parent))
            n_parts += 2
    return out


def violations(tables: dict[str, DataFrame]) -> DataFrame | None:
    """(check, key) groups that break a PK or FK of the 4 tables: more
    than one PK row, or child rows with no parent row. A NULL child key is
    an orphan, as in a left-anti join. Keys are compared as strings (every
    PK/FK column in schemas.py is one). None when ``tables`` holds no
    constrained table."""
    # per table, one (check, key, role) struct per check it takes part in,
    # as SQL: one selectExpr per table is a few Py4J calls, where building
    # the same structs from Column calls took four times as many
    rows: dict[str, list[str]] = {}

    def add(name: str, check: int, key: str, role: int) -> None:
        rows.setdefault(name, []).append(
            f"struct({check} AS check, CAST(`{key}` AS STRING) AS key, {role} AS role)"
        )

    for check, name, key, parent in _constraints(tables):
        if parent is None:
            add(name, check, key, _PK)
        else:
            add(name, check, key, _CHILD)
            add(parent, check, key, _PARENT)
    if not rows:
        return None
    union = reduce(
        DataFrame.unionByName,
        (
            tables[name].selectExpr(f"inline(array({', '.join(structs)}))")
            for name, structs in rows.items()
        ),
    )

    def n(role: int):
        return F.sum((F.col("role") == role).cast("long"))

    groups = union.groupBy("check", "key").agg(
        n(_PK).alias("n_pk"), n(_CHILD).alias("n_child"), n(_PARENT).alias("n_parent")
    )
    orphan = (F.col("n_child") > 0) & (
        (F.col("n_parent") == 0) | F.col("key").isNull()
    )
    return groups.where((F.col("n_pk") > 1) | orphan)


def validate_tables(tables: dict[str, DataFrame]) -> None:
    """Run the reference's constraint set over the 4 flattened tables in
    one job. The error names the first broken constraint in listing order
    with up to five of its keys: a duplicate PK key once, an orphan FK key
    once per orphan child row."""
    bad = violations(tables)
    if bad is None:
        return
    rows = bad.orderBy("check", "key").limit(5).collect()
    if not rows:
        return
    check = rows[0]["check"]
    _, name, key, parent = next(c for c in _constraints(tables) if c[0] == check)
    rows = [r for r in rows if r["check"] == check]
    if parent is None:
        sample = [r["key"] for r in rows]
        raise IntegrityError(f"duplicate primary key in {name}.{key}: {sample}")
    sample = [r["key"] for r in rows for _ in range(min(r["n_child"], 5))][:5]
    raise IntegrityError(f"orphan foreign key in {name}.{key}: {sample}")


def k_anonymity_histogram(
    df: DataFrame, qi_exprs: dict[str, "F.Column"], k: int = 4
) -> DataFrame:
    """Re-identification risk audit: group rows into quasi-identifier
    equivalence classes and histogram the class sizes, flagging classes
    smaller than ``k`` (the k-anonymity threshold). The release-gate
    counterpart to textstats.scrub_pii — scrubbing removes direct
    identifiers, this measures whether the remaining quasi-identifiers
    still isolate individuals.

    Two map-side-combinable aggregations (rows → classes → size
    histogram); the first shuffle carries one row per QI class per task,
    the second one row per distinct size. No per-row state, no windows —
    the plan scales like any two-level rollup.

    qi_exprs: {out_name: expression} — generalization (bucketing a
    numeric QI) is expressed in the caller's expression, e.g.
    ``floor(acctbal / 2000)``.
    """
    classes = df.groupBy(
        *[e.alias(n) for n, e in qi_exprs.items()]
    ).agg(F.count(F.lit(1)).alias("class_size"))
    return (
        classes.groupBy("class_size")
        .agg(F.count(F.lit(1)).alias("n_classes"))
        .select(
            "class_size",
            "n_classes",
            (F.col("class_size") * F.col("n_classes")).alias("n_rows"),
            (F.col("class_size") < k).alias("at_risk"),
        )
    )


def l_diversity_report(
    df: DataFrame,
    qi_exprs: dict[str, "F.Column"],
    sensitive: "F.Column",
    l_threshold: int = 3,
) -> DataFrame:
    """l-diversity release gate — the k-anonymity companion
    (:func:`k_anonymity_histogram`) that catches the attack k-anonymity
    misses: a large equivalence class whose SENSITIVE value is uniform
    still leaks it for everyone inside. Per quasi-identifier class:
    size k, distinct-l (count of distinct sensitive values), entropy of
    the sensitive distribution in nats, and the under-threshold flag.

    Scale shape: one (class, sensitive)-keyed map-side-combinable
    aggregate, then a class-keyed fold — shuffles carry cell rows, never
    raw rows. Entropy = ln(k) - sum(c*ln(c))/k folds from exact integer
    cell counts; rounded at 6 dp."""
    qi = [e.alias(n) for n, e in qi_exprs.items()]
    names = list(qi_exprs.keys())
    cells = df.groupBy(*qi, sensitive.alias("_sv")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    per_class = cells.groupBy(*names).agg(
        F.sum("c").cast("long").alias("k"),
        F.count(F.lit(1)).cast("long").alias("l_distinct"),
        F.sum(F.col("c").cast("double") * F.log("c")).alias("_clc"),
    )
    entropy = F.log(F.col("k").cast("double")) - F.col("_clc") / F.col("k")
    return per_class.select(
        *names,
        "k",
        "l_distinct",
        F.round(entropy, 6).alias("entropy"),
        (F.col("l_distinct") < l_threshold).alias("at_risk"),
    )


def fk_coverage_matrix(
    edges: dict[str, tuple[DataFrame, "F.Column", DataFrame, "F.Column"]],
) -> DataFrame:
    """Whole-schema referential-integrity report: one row per FK edge
    with the child row count, orphan count (child keys with no parent),
    and orphan share — the single table an ingestion pipeline checks
    before promoting a snapshot, generalizing the one-edge orphan query
    (q28) to the full FK graph.

    ``edges``: {edge_name: (child_df, child_key, parent_df,
    parent_key)}. Scale shape: per edge, one key-distinct parent frame
    and one left-anti join keyed on the FK (AQE broadcasts small
    parents); counts fold map-side; the union is |edges| rows."""
    outs = []
    for name, (child, ck, parent, pk) in edges.items():
        keys = parent.select(pk.alias("_pk")).distinct()
        total = child.select(ck.alias("_ck"))
        orphans = total.join(
            keys, total["_ck"] == keys["_pk"], "left_anti"
        )
        outs.append(
            total.agg(
                F.lit(name).alias("edge"),
                F.count(F.lit(1)).cast("long").alias("n_child"),
            ).crossJoin(
                orphans.agg(
                    F.count(F.lit(1)).cast("long").alias("n_orphans")
                )
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.select(
        "edge",
        "n_child",
        "n_orphans",
        F.round(
            F.col("n_orphans").cast("double")
            / F.greatest(F.col("n_child"), F.lit(1)),
            6,
        ).alias("orphan_share"),
    )


def linenumber_audit(lineitem: DataFrame) -> DataFrame:
    """Line-numbering integrity audit: per order, line numbers should
    be exactly 1..n (contiguous, no duplicates) — the invariant a
    re-ingestion or merge bug breaks first. One summary row:
    order count, orders with duplicate line numbers, orders with gaps
    (distinct numbers but max != count), combined bad share.

    Scale shape: one orderkey-keyed aggregate (count / min / max /
    distinct), then a 1-row fold. All integers — engine-exact."""
    per_order = lineitem.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.min("l_linenumber").cast("long").alias("mn"),
        F.max("l_linenumber").cast("long").alias("mx"),
        F.count_distinct("l_linenumber").cast("long").alias("dn"),
    )
    dup = F.col("dn") < F.col("cnt")
    gap = (~dup) & ((F.col("mx") != F.col("cnt")) | (F.col("mn") != 1))
    return per_order.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(dup.cast("long")).cast("long").alias("n_dup_lines"),
        F.sum(gap.cast("long")).cast("long").alias("n_gapped"),
        F.round(
            F.sum((dup | gap).cast("long")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("bad_share"),
    )
