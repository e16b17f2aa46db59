"""Window / time-series operators.

Time windows over ``events`` (SURVEY.md §2.10: the reference is strictly
batch, so tumbling/sliding/session windows are expressed as group-bys —
SQL-expressible, DuckDB-oracle-checkable), plus the scale-out replacement
for the reference's single-partition running-sum window (SURVEY.md §4,
W1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F, types as T

from ..session import split_partitions


def tumbling_window(
    events: DataFrame, every: str = "1 hour", ts_col: str = "ts"
) -> DataFrame:
    """Tumbling event-time window aggregate (batch). Uses date_trunc so the
    oracle SQL is identical; F.window() would emit a struct column DuckDB
    can't mirror."""
    unit = every.split()[-1].rstrip("s")
    return (
        events.groupBy(F.date_trunc(unit, F.col(ts_col)).alias("window_start"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


def sliding_window(
    events: DataFrame, width_hours: int = 2, slide_hours: int = 1, ts_col: str = "ts"
) -> DataFrame:
    """Sliding window as explode-to-assignments: each event lands in
    width/slide hourly buckets. Equivalent to F.window(ts, '2 hours',
    '1 hour') but mirrors into plain SQL."""
    n = width_hours // slide_hours
    hour = F.date_trunc("hour", F.col(ts_col))
    assignments = F.transform(
        F.sequence(F.lit(0), F.lit(n - 1)),
        lambda i: hour - F.make_interval(hours=i * slide_hours),
    )
    return (
        events.select(F.explode(assignments).alias("window_start"), "value")
        .groupBy("window_start")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
    )


def session_window(
    events: DataFrame,
    gap_minutes: int = 30,
    user_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Sessionization (batch): a new session starts when the gap to the
    previous event of the same user exceeds ``gap_minutes``. Classic
    lag + cumsum — partitioned by user, so it scales (no global window).
    ``tiebreak_col`` makes the intra-user ordering total (ts ties)."""
    w = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    ts_secs = F.col(ts_col).cast("double")
    prev = F.lag(ts_secs).over(w)
    new_session = F.when(
        prev.isNull() | (ts_secs - prev > gap_minutes * 60), 1
    ).otherwise(0)
    sessions = events.withColumn(
        "session_id", F.sum(new_session).over(w).cast("long")
    )
    return (
        sessions.groupBy(user_col, "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


def scalable_running_sum(
    df: DataFrame,
    order_col: str,
    value_col,
    out_col: str = "running_sum",
) -> DataFrame:
    """Two-pass prefix sum — the 100 TB replacement for an ORDER BY-only
    window (which collapses to ONE partition, the reference's W1 hazard,
    SURVEY.md §4):

      1. assign each row an equi-depth range bucket of the order column
         (approxQuantile boundaries folded as a literal array — a
         map-side expression, like repartitionByRange's sampling pass but
         reusable by the window clustering);
      2. per-bucket local running sum — ONE hash exchange of the data,
         which the per-bucket totals aggregate then REUSES (same
         clustering, no second data shuffle);
      3. broadcast the prefix-summed bucket offsets back and add.

    ROWS-frame semantics (each row gets its own prefix including itself);
    ``order_col`` must be unique (callers tie-break), non-null, and
    numeric, date or timestamp: anything else raises ``TypeError``. The
    earlier repartitionByRange + spark_partition_id form cost a SECOND
    full-data exchange (hash by _pid after the range exchange — Catalyst
    cannot see that range partitions already cluster _pid); the bucket
    expression keeps the data path to one exchange.

    The bucket count is the partitions a file scan would split the input
    into (``session.split_partitions`` of Catalyst's size estimate for
    its analyzed plan; no job), at most defaultParallelism. With several
    buckets, approxQuantile and the totals collect() run eagerly at plan
    build. With one (an input under ``spark.sql.files.openCostInBytes``,
    or one core) every offset is 0: building runs no job. An input
    Catalyst under-estimates (a large explode of a small scan) lands in
    one bucket, one partition, like an under-estimated broadcast side.

    ``value_col`` / ``out_col`` may be LISTS of equal length: all
    cumulative columns share one bucketing pass, one exchange, and one
    offset fold. Besides costing half the shuffles of two stacked calls,
    this sidesteps a second Catalyst hazard: chaining the helper output
    into another helper call makes the second approxQuantile sample a
    plan containing the first offset join, where projection collapse can
    again lose the order attribute (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND,
    seen on createDataFrame-rooted frames; pinned by
    tests/test_round3_ops.py's KS reference test).
    """
    from pyspark.sql.window import Window as W

    value_cols = [value_col] if isinstance(value_col, str) else list(value_col)
    out_cols = [out_col] if isinstance(out_col, str) else list(out_col)
    if len(value_cols) != len(out_cols):
        raise ValueError("value_col and out_col lists must align")

    dtype = df.schema[order_col].dataType
    if isinstance(dtype, T.DateType):
        ord_num = F.unix_date(F.col(order_col)).cast("double")
    elif isinstance(dtype, (T.NumericType, T.TimestampType, T.TimestampNTZType)):
        ord_num = F.col(order_col).cast("double")
    else:
        raise TypeError(
            f"scalable_running_sum orders by a numeric, date or timestamp "
            f"column; {order_col!r} is {dtype.simpleString()}"
        )
    # the analyzed plan's estimate gives the optimized plan's bucket count
    # on the catalog's inputs, and costs a tenth of optimizing the input
    planned = df._jdf.queryExecution().analyzed().stats().sizeInBytes()
    n = split_partitions(df.sparkSession, planned)
    with_ord = df.withColumn("_ord", ord_num)
    bounds = []
    if n > 1:
        # 0.01 relative error: boundaries only gate bucket BALANCE, not
        # correctness (the offset join is exact whatever the cut points) —
        # the looser sketch is measurably cheaper on the eager pass
        probs = [i / n for i in range(1, n)]
        bounds = sorted(set(with_ord.approxQuantile("_ord", probs, 0.01)))
    if bounds:
        bkt = F.aggregate(
            F.lit(bounds),
            F.lit(0),
            lambda acc, b: acc + (F.col("_ord") > b).cast("int"),
        )
    else:
        bkt = F.lit(0)
    keyed = with_ord.withColumn("_pid", bkt).drop("_ord")
    local_w = W.partitionBy("_pid").orderBy(order_col).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    with_local = keyed
    for j, vc in enumerate(value_cols):
        with_local = with_local.withColumn(f"_local_{j}", F.sum(vc).over(local_w))
    # Cross-bucket offsets: per-bucket totals from the PRE-window keyed
    # frame (map-side partial agg → shuffle carries one row per (bucket,
    # map task)), prefix-folded on the DRIVER over <= #partitions rows and
    # rejoined as a broadcast literal frame. The earlier form computed the
    # fold as SUM OVER (ORDER BY _pid) on the totals aggregate — Spark
    # 4.1.2's Catalyst hits INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND ("Could not
    # find <order_col> in [_pid, _total, _we0]") on that plan whenever
    # ``order_col`` is itself a derived expression (xxhash64(...), a
    # withColumn arithmetic, ...): projection collapse clones the derived
    # expression into the aggregate branch and the attribute dedup loses
    # it. The driver fold sidesteps the window entirely; its cost is
    # bounded by cluster parallelism, never by data. Pinned by
    # tests/test_windows_profile.py's derived-order-column regression.
    totals_df = keyed.groupBy("_pid").agg(
        *[F.sum(vc).alias(f"_total_{j}") for j, vc in enumerate(value_cols)]
    )
    sum_dtypes = [
        totals_df.schema[f"_total_{j}"].dataType.simpleString()
        for j in range(len(value_cols))
    ]
    # one bucket: every offset is 0, so there are no totals to collect
    totals = totals_df.collect() if bounds else []
    rows = sorted(
        (int(r["_pid"]), tuple(r[f"_total_{j}"] for j in range(len(value_cols))))
        for r in totals
    )
    # Rejoin the <= #partitions folded offsets as LITERAL ARRAYS indexed
    # by _pid (element_at), not as a broadcast-join frame: a join adds a
    # second plan branch, and Spark 4.1.2's projection collapse can bind
    # a caller expression over the OUTPUT of this helper against the
    # offset branch (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND "Could not find
    # <col> in [_pid, _offset...]", seen when the helper output feeds a
    # max_by over a createDataFrame-rooted frame — pinned by
    # tests/test_round3_ops.py's KS reference test). The literal lookup
    # has no second branch to mis-bind and costs one expression per row.
    # Gaps in observed pids (empty buckets) carry the running offset.
    by_pid = dict(rows)
    max_pid = max(by_pid) if by_pid else 0
    dense, accs = [], [0] * len(value_cols)
    for pid in range(max_pid + 1):
        dense.append(tuple(accs))
        ts = by_pid.get(pid)
        if ts is not None:
            accs = [a + (t if t is not None else 0) for a, t in zip(accs, ts)]
    out = with_local
    drops = ["_pid"]
    for j, oc in enumerate(out_cols):
        # carry the fold at full precision: bigint for integral sums (a
        # double roundtrip would truncate past 2^53), double otherwise
        integral = sum_dtypes[j] in ("bigint", "int", "smallint", "tinyint")
        arr = [int(v[j]) if integral else float(v[j]) for v in dense]
        offset = F.element_at(F.lit(arr), F.col("_pid") + 1).cast(sum_dtypes[j])
        out = out.withColumn(oc, F.col(f"_local_{j}") + offset)
        drops.append(f"_local_{j}")
    return out.drop(*drops)


def revenue_moving_average(
    orders: DataFrame,
    window_days: int = 7,
    date_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
) -> DataFrame:
    """Daily-revenue trend monitor: revenue per order date, its trailing
    ``window_days``-row moving average, and the relative deviation — the
    time-series smoothing every revenue dashboard runs, with the warmup
    rows visible via ``n_in_window``.

    Determinism: daily revenue quantizes to integer CENTS before the
    sliding frame, so the frame sum is exact (a float sliding sum
    drifts under Spark's incremental pane arithmetic vs a recompute);
    the moving average and deviation then derive from exact integers in
    one double division each.

    Scale shape: orders collapse to |dates| rows in one keyed aggregate;
    the sliding window runs over that calendar-bounded frame (one
    ordered partition of |dates| rows — sanctioned, it can never be
    data-sized)."""
    daily = orders.groupBy(F.col(date_col).alias("day")).agg(
        F.round(F.sum(amount_col) * 100)
        .cast("long")
        .alias("rev_cents")
    )
    w = Window.orderBy("day").rowsBetween(-(window_days - 1), 0)
    framed = daily.select(
        "day",
        "rev_cents",
        F.sum("rev_cents").over(w).alias("sum_c"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_in_window"),
    )
    ma = F.col("sum_c").cast("double") / F.col("n_in_window")
    return framed.select(
        "day",
        F.round(F.col("rev_cents") / 100.0, 2).alias("revenue"),
        "n_in_window",
        F.round(ma / 100.0, 4).alias("moving_avg"),
        F.round(F.col("rev_cents") / ma - 1.0, 6).alias("deviation"),
    )
