"""Structured Streaming micro-batch analog of the page loop: drain a file
drop with availableNow and verify batch-equivalent results and
exactly-once epochs."""

import json

import pytest
from pyspark.errors import StreamingQueryException

from shifts_etl_spark.operators import quality
from shifts_etl_spark.sinks.staged import StagedWriter
from shifts_etl_spark.sources.generator import generate_shift_docs
from shifts_etl_spark.streaming import _epoch_batch_id, _stream_identity, stream_etl


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


def test_stream_etl_fresh_checkpoint_does_not_swallow_epochs(spark, tmp_path):
    """A new checkpoint restarts epoch numbering at 0; its batches must
    land in the existing output dir rather than being skipped as replays
    of the first stream's epoch 0."""
    docs = generate_shift_docs(days=8)
    out = tmp_path / "out"
    for n, (lo, hi) in enumerate([(0, 4), (4, 8)]):
        inp = tmp_path / f"in{n}"
        inp.mkdir()
        with open(inp / "page0.json", "w") as f:
            for d in docs[lo:hi]:
                f.write(json.dumps(d) + "\n")
        stream_etl(spark, inp, out, tmp_path / f"ckpt{n}", available_now=True)
    w = StagedWriter(out)
    assert len(w.commits()) == 2  # one commit per stream, none swallowed
    shifts = w.read_table(spark, "shifts")
    assert shifts.count() == 8
    assert shifts.select("shift_id").distinct().count() == 8


def test_checkpoint_gets_namespaced_ids(tmp_path):
    """Every checkpoint gets its own batch-id namespace, kept across
    restarts — also one that holds Spark offset state but no identity
    file."""
    fresh = tmp_path / "fresh"
    sid = _stream_identity(fresh)
    assert sid and _epoch_batch_id(sid, 3) == f"{sid}-epoch000003"
    assert _stream_identity(fresh) == sid

    ckpt = tmp_path / "ckpt"
    (ckpt / "offsets").mkdir(parents=True)
    (ckpt / "offsets" / "0").write_text("{}")
    sid2 = _stream_identity(ckpt)
    assert sid2 and sid2 != sid
    assert _epoch_batch_id(sid2, 3) == f"{sid2}-epoch000003"
    assert _stream_identity(ckpt) == sid2
