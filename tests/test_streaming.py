"""Structured Streaming micro-batch analog of the page loop: drain a file
drop with availableNow and verify batch-equivalent results + windowed agg."""

import json
import math

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


def _psi_of_counts(counts: list[int], ref_probs: list[float]) -> float:
    """Plain-Python mirror of streaming_value_psi's projection."""
    n, total, k = sum(counts), sum(ref_probs), len(counts)
    out = 0.0
    for c, r in zip(counts, ref_probs):
        p = (c + 0.5) / (n + 0.5 * k)
        r_s = ((r / total) * n + 0.5) / (n + 0.5 * k)
        out += (p - r_s) * (math.log(p) - math.log(r_s))
    return round(out, 6)


def test_streaming_value_psi_flags_shifted_window(spark, tmp_path):
    """Two event-time windows: hour 0 matches the uniform reference,
    hour 1 is concentrated in one bin → its PSI must be much larger;
    both values must equal the plain-Python mirror of the projection."""
    from shifts_etl_spark.streaming.drift import N_BINS, streaming_value_psi

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

    ref = [1.0 / N_BINS] * N_BINS
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
    assert abs(got[0].psi - _psi_of_counts([1] * 10, ref)) < 1e-9
    assert abs(got[1].psi - _psi_of_counts([10] + [0] * 9, ref)) < 1e-9


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
