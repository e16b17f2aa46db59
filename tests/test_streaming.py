"""Structured Streaming micro-batch analog of the page loop: drain a file
drop with availableNow and verify batch-equivalent results + windowed agg."""

import json

import pytest
from pyspark.errors import StreamingQueryException

from shifts_etl_spark.operators import quality
from shifts_etl_spark.sinks.staged import StagedWriter
from shifts_etl_spark.sources.generator import generate_shift_docs
from shifts_etl_spark.streaming import stream_etl, streaming_event_counts


def test_stream_etl_drains_files(spark, tmp_path):
    docs = generate_shift_docs(days=12)
    inp = tmp_path / "in"
    inp.mkdir()
    for i in range(0, 12, 4):  # 3 files = "pages"
        with open(inp / f"page{i}.json", "w") as f:
            for d in docs[i : i + 4]:
                f.write(json.dumps(d) + "\n")
    out = tmp_path / "out"
    stream_etl(spark, inp, out, tmp_path / "ckpt", available_now=True)
    w = StagedWriter(out)
    assert w.read_table(spark, "shifts").count() == 12
    n_breaks = sum(len(d["breaks"]) for d in docs)
    assert w.read_table(spark, "breaks").count() == n_breaks


def _last_job_id(spark) -> int:
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)


def test_stream_etl_epoch_job_count(spark, tmp_path, monkeypatch):
    """One 3-file, 12-doc epoch with the KPI refresh runs 12 jobs, 2 of
    them in validation: the epoch goes through run_etl's load path and
    caches nothing (against an unbuilt cache of the micro-batch AQE
    submits one cache job per scan of it: 22 jobs, 12 in validation).
    The stream thread sets its own job group, so jobs are counted by id."""
    docs = generate_shift_docs(days=12)
    inp = tmp_path / "in"
    inp.mkdir()
    for i in range(0, 12, 4):
        with open(inp / f"page{i}.json", "w") as f:
            for d in docs[i : i + 4]:
                f.write(json.dumps(d) + "\n")
    validation = []
    validate = quality.validate_tables

    def counted(tables):
        first = _last_job_id(spark)
        validate(tables)
        validation.append(_last_job_id(spark) - first)

    monkeypatch.setattr(quality, "validate_tables", counted)
    first = _last_job_id(spark)
    stream_etl(spark, inp, tmp_path / "out", tmp_path / "ckpt",
               available_now=True, refresh_kpis=True, anchor_date="2023-02-01")
    assert validation == [2]
    assert _last_job_id(spark) - first == 12


def test_stream_etl_rejects_epoch_with_duplicate_key(spark, tmp_path):
    """An epoch that breaks a key constraint fails the stream and commits
    nothing, as run_etl raises IntegrityError on the same docs."""
    docs = generate_shift_docs(days=4)
    inp = tmp_path / "in"
    inp.mkdir()
    with open(inp / "page0.json", "w") as f:
        for d in [*docs, docs[0]]:  # 5 rows, 4 shift ids
            f.write(json.dumps(d) + "\n")
    out = tmp_path / "out"
    with pytest.raises(StreamingQueryException, match="IntegrityError"):
        stream_etl(spark, inp, out, tmp_path / "ckpt", available_now=True)
    assert StagedWriter(out).commits() == []


def test_streaming_window_counts(spark, tmp_path):
    inp = tmp_path / "ev"
    inp.mkdir()
    rows = [
        {"event_id": i, "ts": f"2024-01-01T0{i % 3}:10:00.000Z", "user_id": 1,
         "event_type": "click", "value": 1.0, "props": "{}"}
        for i in range(9)
    ]
    with open(inp / "events.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    q = streaming_event_counts(spark, inp, tmp_path / "ckpt2")
    q.awaitTermination()
    got = {
        (r.window_start.hour, r.n_events)
        for r in spark.sql("SELECT * FROM event_counts").collect()
    }
    assert got == {(0, 3), (1, 3), (2, 3)}


def test_stream_etl_restart_is_exactly_once(spark, tmp_path):
    """Kill-and-restart recovery: a second run over the SAME checkpoint
    must process only files that arrived since the first drain — no
    reprocessing, no loss (the reference's links.next cursor contract,
    carried by the Structured Streaming checkpoint)."""
    docs = generate_shift_docs(days=8)
    inp = tmp_path / "in"
    inp.mkdir()

    def drop(lo, hi, name):
        with open(inp / name, "w") as f:
            for d in docs[lo:hi]:
                f.write(json.dumps(d) + "\n")

    out, ckpt = tmp_path / "out", tmp_path / "ckpt"
    drop(0, 4, "page0.json")
    stream_etl(spark, inp, out, ckpt, available_now=True)
    w = StagedWriter(out)
    assert w.read_table(spark, "shifts").count() == 4

    drop(4, 8, "page1.json")
    stream_etl(spark, inp, out, ckpt, available_now=True)
    shifts = w.read_table(spark, "shifts")
    assert shifts.count() == 8
    assert shifts.select("shift_id").distinct().count() == 8


def test_stream_static_enrichment(spark, tmp_path):
    from shifts_etl_spark.streaming.micro_batch import streaming_enriched_counts

    inp = tmp_path / "ev2"
    inp.mkdir()
    rows = [
        {"event_id": i, "ts": "2024-01-01T00:10:00.000Z", "user_id": i % 3,
         "event_type": "click", "value": 1.0, "props": "{}"}
        for i in range(12)
    ]
    with open(inp / "events.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    dim = spark.createDataFrame(
        [(0, "gold"), (1, "silver")], ["user_id", "segment"]
    )
    q = streaming_enriched_counts(spark, inp, tmp_path / "ckpt3", dim)
    q.awaitTermination()
    got = {
        r["segment"]: r["n_events"]
        for r in spark.sql("SELECT * FROM enriched_counts").collect()
    }
    assert got == {"gold": 4, "silver": 4, "unknown": 4}


def test_streaming_merge_upsert(spark, tmp_path):
    from shifts_etl_spark.sinks.staged import StagedWriter
    from shifts_etl_spark.streaming.micro_batch import streaming_merge_upsert

    inp = tmp_path / "cdc"
    inp.mkdir()
    out, ckpt = tmp_path / "tbl", tmp_path / "ck"

    def drop(name, recs):
        with open(inp / name, "w") as f:
            for r in recs:
                f.write(json.dumps(r) + "\n")

    drop("c1.json", [
        {"kpi_name": "a", "kpi_date": "2024-01-01", "kpi_value": 1.0, "deleted": False},
        {"kpi_name": "b", "kpi_date": "2024-01-01", "kpi_value": 2.0, "deleted": False},
    ])
    streaming_merge_upsert(spark, inp, out, ckpt)
    w = StagedWriter(out)
    t1 = {r["kpi_name"]: r["kpi_value"] for r in w.read_table(spark, "kpis").collect()}
    assert t1 == {"a": 1.0, "b": 2.0}

    # epoch 2: update a, delete b, insert c; checkpoint skips epoch 1 files
    drop("c2.json", [
        {"kpi_name": "a", "kpi_date": "2024-01-02", "kpi_value": 9.0, "deleted": False},
        {"kpi_name": "b", "kpi_date": "2024-01-02", "kpi_value": 0.0, "deleted": True},
        {"kpi_name": "c", "kpi_date": "2024-01-02", "kpi_value": 3.0, "deleted": False},
    ])
    streaming_merge_upsert(spark, inp, out, ckpt)
    t2 = {r["kpi_name"]: r["kpi_value"] for r in w.read_table(spark, "kpis").collect()}
    assert t2 == {"a": 9.0, "c": 3.0}


def test_stream_join_left_outer_emits_unmatched(spark, tmp_path):
    """Outer stream-stream join: the unmatched purchase emits with NULL
    view columns only after a LATER batch's watermark closes its window."""
    import time

    from shifts_etl_spark.streaming.stream_join import run_purchase_attribution

    inp = tmp_path / "oev"
    inp.mkdir()

    def ev(eid, hhmm, uid, etype):
        return {"event_id": eid, "ts": f"2024-01-01T{hhmm}:00.000Z",
                "user_id": uid, "event_type": etype, "value": 1.0, "props": "{}"}

    with open(inp / "a_first.json", "w") as f:
        for r in [ev(1, "00:00", 1, "view"), ev(2, "00:05", 1, "purchase"),
                  ev(3, "00:05", 2, "purchase")]:  # user 2: no view
            f.write(json.dumps(r) + "\n")
    time.sleep(1.1)  # file source orders batches by modification time
    with open(inp / "b_flush.json", "w") as f:
        # advance BOTH sides' watermarks past 00:05 (+1h delay)
        for r in [ev(8, "03:00", 9, "view"), ev(9, "03:00", 9, "purchase")]:
            f.write(json.dumps(r) + "\n")

    q = run_purchase_attribution(
        spark, inp, tmp_path / "ckpt", how="left_outer", query_name="attr_outer"
    )
    q.awaitTermination()
    rows = {r["purchase_id"]: r for r in spark.sql("SELECT * FROM attr_outer").collect()}
    assert rows[2]["view_ts"] is not None  # matched within 10 min
    assert 3 in rows and rows[3]["view_ts"] is None  # unmatched, null-padded
    assert rows[9]["view_ts"] is not None  # same-batch match emits promptly


def test_transform_with_state_running_totals(spark, tmp_path):
    """Stateful v2 (transformWithStateInPandas): lifetime per-user totals
    survive across separate drains of the same checkpoint — batch 2 emits
    user 1's totals INCLUDING batch 1's events. Needs protobuf (the v2
    state protocol); containers without it exercise the gate error."""
    import pytest

    from shifts_etl_spark.streaming.stateful import streaming_running_totals

    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        with pytest.raises(RuntimeError, match="protobuf"):
            streaming_running_totals(spark, tmp_path, tmp_path / "ck")
        pytest.skip("protobuf not installed: TWS v2 gate verified instead")

    inp = tmp_path / "ev"
    inp.mkdir()

    def drop(name, rows):
        with open(inp / name, "w") as f:
            for uid, val in rows:
                f.write(json.dumps({
                    "event_id": len(name) + uid, "ts": "2024-01-01T10:00:00.000Z",
                    "user_id": uid, "event_type": "click", "value": val,
                    "props": "{}",
                }) + "\n")

    drop("b1.json", [(1, 1.0), (1, 2.0), (2, 5.0)])
    q = streaming_running_totals(spark, inp, tmp_path / "ck", query_name="tot1")
    q.awaitTermination()
    got = {r.user_id: r for r in spark.sql("SELECT * FROM tot1").collect()}
    assert (got[1].n_events, got[1].sum_value, got[1].max_value) == (2, 3.0, 2.0)
    assert (got[2].n_events, got[2].sum_value, got[2].max_value) == (1, 5.0, 5.0)

    drop("b2.json", [(1, 10.0)])
    q2 = streaming_running_totals(spark, inp, tmp_path / "ck", query_name="tot2")
    q2.awaitTermination()
    got2 = {r.user_id: r for r in spark.sql("SELECT * FROM tot2").collect()}
    assert (got2[1].n_events, got2[1].sum_value, got2[1].max_value) == (3, 13.0, 10.0)
    assert 2 not in got2  # untouched keys are not re-emitted in Update mode


def test_streaming_heavy_hitters_sketch_state_across_batches(spark, tmp_path):
    """Sharded MG sketch: with one micro-batch per file, the hot
    event_type's estimate must accumulate across batches (sketch state
    carries over); rare singletons never cross the absolute floor."""
    import json as _json

    from shifts_etl_spark.streaming.sketches import run_streaming_heavy_hitters

    inp, ckpt = tmp_path / "in", tmp_path / "ckpt"
    inp.mkdir()

    def drop(name, types):
        with open(inp / name, "w") as f:
            for i, t in enumerate(types):
                f.write(_json.dumps({
                    "event_id": hash((name, i)) % 10**9,
                    "ts": "2024-01-01T10:00:00.000Z",
                    "user_id": 1, "event_type": t, "value": 1.0,
                    "props": "{}",
                }) + "\n")

    # batch 1: hot appears 30/40 times; rare0..9 once each
    # batch 2: 20 more hot events -> estimate must include batch-1 state
    drop("e1.json", ["hot"] * 30 + [f"rare{i}" for i in range(10)])
    drop("e2.json", ["hot"] * 20)
    q = run_streaming_heavy_hitters(
        spark, inp, ckpt, min_frac=0.5, query_name="hh_test",
        max_files_per_trigger=1,
    )
    q.awaitTermination()
    rows = spark.sql("select * from hh_test").collect()
    assert rows, "no heavy hitters emitted"
    assert not any(r.item.startswith("rare") for r in rows)
    final = max((r for r in rows if r.item == "hot"), key=lambda r: r.shard_n)
    assert final.shard_n >= 50
    assert final.est >= 50 - 60 // 51  # MG underestimate bound


def test_streaming_distinct_count_sketch(spark, tmp_path):
    """KMV sketch per key: exact below k, within ~3/sqrt(k) above it,
    and accumulating across per-file micro-batches."""
    import json as _json

    from shifts_etl_spark.streaming.sketches import run_streaming_distinct_count

    inp, ckpt = tmp_path / "in", tmp_path / "ckpt"
    inp.mkdir()

    def drop(name, pairs):
        with open(inp / name, "w") as f:
            for i, (t, uid) in enumerate(pairs):
                f.write(_json.dumps({
                    "event_id": hash((name, i)) % 10**9,
                    "ts": "2024-01-01T10:00:00.000Z",
                    "user_id": uid, "event_type": t, "value": 1.0,
                    "props": "{}",
                }) + "\n")

    # 'small': 10 distinct users (< k=64 -> exact, duplicates collapse)
    # 'big': 500 distinct users split across two files -> approximate
    drop("e1.json", [("small", u % 10) for u in range(40)]
                  + [("big", u) for u in range(250)])
    drop("e2.json", [("big", u) for u in range(250, 500)])
    q = run_streaming_distinct_count(
        spark, inp, ckpt, k=64, query_name="dc_test", max_files_per_trigger=1
    )
    q.awaitTermination()
    rows = spark.sql("select * from dc_test").collect()
    small = [r for r in rows if r.key == "small"][-1]
    assert small.est_distinct == 10.0  # sketch not full -> exact
    big = max((r for r in rows if r.key == "big"), key=lambda r: r.n_rows)
    assert big.n_rows == 500
    assert abs(big.est_distinct - 500) / 500 < 3 / (64 ** 0.5)  # ~37%


def test_streaming_quantiles_sketch(spark, tmp_path):
    """KLL sketch per key: exact below k, cumulative across micro-batches
    (the second file shifts the distribution and p50 follows)."""
    import json as _json

    from shifts_etl_spark.streaming.sketches import run_streaming_quantiles

    inp, ckpt = tmp_path / "in", tmp_path / "ckpt"
    inp.mkdir()

    def drop(name, pairs):
        with open(inp / name, "w") as f:
            for i, (t, v) in enumerate(pairs):
                f.write(_json.dumps({
                    "event_id": hash((name, i)) % 10**9,
                    "ts": "2024-01-01T10:00:00.000Z",
                    "user_id": i, "event_type": t, "value": v,
                    "props": "{}",
                }) + "\n")

    # batch 1: values 1..100 -> p50=50; batch 2 adds 101..300 ->
    # cumulative 1..300, p50=150, p95=285 (n=300 > k=200 -> approximate
    # but within the small-n compaction error)
    drop("e1.json", [("lat", float(v)) for v in range(1, 101)])
    drop("e2.json", [("lat", float(v)) for v in range(101, 301)])
    q = run_streaming_quantiles(
        spark, inp, ckpt, k=200, query_name="qs_test", max_files_per_trigger=1
    )
    q.awaitTermination()
    rows = spark.sql("select * from qs_test").collect()
    first = min((r for r in rows if r.key == "lat"), key=lambda r: r.n_rows)
    final = max((r for r in rows if r.key == "lat"), key=lambda r: r.n_rows)
    # file order is not guaranteed: the first micro-batch is either e1
    # (100 rows, median 50) or e2 (200 rows, median 200) — both are
    # under k=200, so either way the first emission must be EXACT
    assert (first.n_rows, first.p50) in {(100, 50.0), (200, 200.0)}
    assert final.n_rows == 300  # cross-batch accumulation
    assert abs(final.p50 - 150) <= 6  # 2% rank error envelope
    assert abs(final.p95 - 285) <= 6


def test_streaming_value_psi_flags_shifted_window(spark, tmp_path):
    """Two event-time windows: hour 0 matches the uniform reference,
    hour 1 is concentrated in one bin → its PSI must be much larger;
    both values must equal the plain-Python mirror of the projection."""
    from shifts_etl_spark.streaming.drift import (
        psi_of_counts,
        reference_probs_uniform,
        streaming_value_psi,
    )

    inp = tmp_path / "psi_in"
    inp.mkdir()
    rows = []
    # hour 0: one event per bin (matches uniform)
    for i in range(10):
        rows.append({"event_id": i, "ts": "2024-01-01T00:10:00.000Z",
                     "user_id": 1, "event_type": "m", "value": i + 0.5,
                     "props": "{}"})
    # hour 1: everything in bin 0 (max drift)
    for i in range(10):
        rows.append({"event_id": 100 + i, "ts": "2024-01-01T01:10:00.000Z",
                     "user_id": 1, "event_type": "m", "value": 0.1,
                     "props": "{}"})
    with open(inp / "events.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")

    ref = reference_probs_uniform()
    q = streaming_value_psi(
        spark, inp, tmp_path / "psi_ckpt", ref, lo=0.0, hi=10.0,
        query_name="psi_test",
    )
    q.awaitTermination()
    got = {r.window_start.hour: r for r in
           spark.sql("SELECT * FROM psi_test").collect()}
    assert set(got) == {0, 1}
    assert got[0].n_events == 10 and got[1].n_events == 10
    assert got[1].psi > 10 * max(got[0].psi, 1e-9)
    assert abs(got[0].psi - psi_of_counts([1] * 10, ref)) < 1e-9
    assert abs(got[1].psi - psi_of_counts([10] + [0] * 9, ref)) < 1e-9


def test_streaming_blocklist_scrub_stateless(spark, tmp_path):
    """Online admission filter: the gram blocklist built by the BATCH
    substring pass (x43's fingerprints on a 2-doc corpus sharing a
    132-char block) scrubs a STREAM of new docs — the contaminated doc
    reports exactly the block's 132 merged chars and is dropped at
    max_frac=0.5; the clean doc and a short doc pass with zeros."""
    import json as _json

    from pyspark.sql import Row
    from shifts_etl_spark.operators.dedup import substring_duplicate_spans
    from shifts_etl_spark.streaming.micro_batch import (
        streaming_blocklist_scrub,
    )

    shared = "the quick brown fox jumps over the lazy dog " * 3  # 132
    corpus = spark.createDataFrame(
        [
            Row(doc_id=1, text="U1" * 30 + shared + "V1" * 30),
            Row(doc_id=2, text="W2" * 25 + shared + "Z2" * 40),
        ]
    )
    grams = [r.gram for r in substring_duplicate_spans(corpus).collect()]
    # the block repeats with period 44, so its 93 window POSITIONS fold
    # to 44 DISTINCT fingerprints — the scrub must still cover all 132
    # chars because membership is checked per position
    assert len(grams) == 44

    inp = tmp_path / "docs"
    inp.mkdir()
    dirty = "A3" * 20 + shared + "B3" * 20  # 212 chars, 132 blocked
    with open(inp / "batch0.json", "w") as f:
        f.write(_json.dumps({"doc_id": 10, "text": dirty}) + "\n")
        f.write(_json.dumps({"doc_id": 11, "text": "C4" * 60}) + "\n")
        f.write(_json.dumps({"doc_id": 12, "text": "tiny"}) + "\n")
    q = streaming_blocklist_scrub(
        spark, inp, tmp_path / "ckpt_scrub", grams, query_name="scrub_t"
    )
    q.awaitTermination()
    out = {r.doc_id: r for r in spark.sql("SELECT * FROM scrub_t").collect()}
    assert set(out) == {10, 11, 12}
    assert (out[10].blocked_chars, out[10].keep) == (132, False)
    assert out[10].blocked_frac == round(132 / len(dirty), 6)
    assert (out[11].blocked_chars, out[11].keep) == (0, True)
    assert (out[12].blocked_chars, out[12].keep) == (0, True)  # < span_len
