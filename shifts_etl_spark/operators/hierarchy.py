"""Recursive hierarchy traversal (semi-naive iteration).

Spark has no WITH RECURSIVE; the standard distributed evaluation is
semi-naive iteration: keep a frontier of newly-reached nodes, join the
edge table against it once per level, and union the levels. Total work
is O(|edges| * depth) with one equi-join shuffle per level — for the
balanced trees/forests this is used on, depth is O(log n), so a 100 TB
edge table costs ~log-n shuffle rounds, each pruned to the frontier by
the join. The frontier is usually far smaller than the edge table until
the last level, so AQE picks broadcast joins for the early rounds
automatically.

No reference counterpart (the reference engine has no recursive query
surface); this is a beyond-reference extension. The DuckDB oracle twin
is a literal WITH RECURSIVE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .. import caching


def iterate_hierarchy(
    nodes: DataFrame,
    key: str = "node",
    parent: str = "parent",
    max_levels: int = 64,
) -> DataFrame:
    """Resolve (node, depth, root) for a forest given (key, parent) rows.

    Rows with NULL ``parent`` are roots (depth 0, root = self). Raises
    if the iteration hasn't drained after ``max_levels`` levels (cycle
    or deeper-than-expected data) — an unbounded loop on a cyclic edge
    set would otherwise spin forever.

    The edges and every level are cached through :mod:`caching` and
    back the returned union, so the caller's scope releases them.
    """
    edges = caching.persist(
        nodes.select(F.col(key).alias("_child"), F.col(parent).alias("_parent"))
    )
    frontier = caching.persist(
        edges.where(F.col("_parent").isNull()).select(
            F.col("_child").alias("node"),
            F.lit(0).alias("depth"),
            F.col("_child").alias("root"),
        )
    )
    levels = [frontier]
    for _ in range(max_levels):
        nxt = caching.persist(
            edges.join(frontier, edges._parent == frontier.node).select(
                F.col("_child").alias("node"),
                (F.col("depth") + 1).alias("depth"),
                F.col("root"),
            )
        )
        if not nxt.take(1):
            break
        levels.append(nxt)
        frontier = nxt
    else:
        raise ValueError(f"hierarchy deeper than {max_levels} levels (cycle?)")
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out
