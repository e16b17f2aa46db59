"""Compaction, time travel, replace commits, and streaming-vs-batch KPI
equivalence."""

import json

import pytest

from pyspark.sql import Row, functions as F

from shifts_etl_spark.pipeline import run_etl
from shifts_etl_spark.sinks.staged import StagedWriter
from shifts_etl_spark.sources.generator import generate_shift_docs, paginate
from shifts_etl_spark.streaming import stream_etl


def test_compaction(spark, tmp_path):
    out = tmp_path / "c"
    # 4 pages → 1 batch each? no: run_etl writes one batch per run; run twice
    run_etl(spark, pages=paginate(generate_shift_docs(days=4), 2), output_dir=out,
            anchor_date="2023-02-01")
    run_etl(spark, pages=paginate(generate_shift_docs(days=4, seed=7), 2),
            output_dir=out, anchor_date="2023-02-01")
    w = StagedWriter(out)
    n_before = w.read_table(spark, "breaks").count()
    removed = w.compact(spark, "breaks")
    assert removed >= 2
    assert len(list((w.root / "breaks").glob("batch=*"))) == 1
    assert w.read_table(spark, "breaks").count() == n_before


def test_streaming_kpis_equal_batch(spark, tmp_path):
    """The streaming pipeline with per-epoch KPI refresh converges to
    exactly the batch pipeline's KPI values on the same input."""
    docs = generate_shift_docs(days=16)

    batch_out = tmp_path / "batch"
    run_etl(spark, pages=paginate(docs, 8), output_dir=batch_out,
            anchor_date="2023-02-01")
    batch_kpis = {
        r.kpi_name: r.kpi_value
        for r in StagedWriter(batch_out).read_table(spark, "kpis").collect()
    }

    inp = tmp_path / "in"
    inp.mkdir()
    for i in range(0, 16, 4):
        with open(inp / f"p{i}.json", "w") as f:
            for d in docs[i : i + 4]:
                f.write(json.dumps(d) + "\n")
    stream_out = tmp_path / "stream"
    stream_etl(spark, inp, stream_out, tmp_path / "ck", available_now=True,
               refresh_kpis=True, anchor_date="2023-02-01")
    stream_kpis = {
        r.kpi_name: r.kpi_value
        for r in StagedWriter(stream_out).read_table(spark, "kpis").collect()
    }
    assert stream_kpis == batch_kpis


def test_streaming_kpis_survive_replayed_epoch(spark, tmp_path):
    """A KPI refresh epoch replayed after its checkpoint commit was lost
    (crash between the sink commit and the checkpoint's) keeps the six
    KPI values: the replayed replace commit is skipped, nothing deleted."""
    docs = generate_shift_docs(days=16)
    batch_out = tmp_path / "batch"
    run_etl(spark, pages=paginate(docs, 8), output_dir=batch_out,
            anchor_date="2023-02-01")
    batch_kpis = {
        r.kpi_name: r.kpi_value
        for r in StagedWriter(batch_out).read_table(spark, "kpis").collect()
    }

    inp = tmp_path / "in"
    inp.mkdir()
    for i in range(0, 16, 4):
        with open(inp / f"p{i}.json", "w") as f:
            for d in docs[i : i + 4]:
                f.write(json.dumps(d) + "\n")
    out, ck = tmp_path / "stream", tmp_path / "ck"
    stream_etl(spark, inp, out, ck, available_now=True, refresh_kpis=True,
               anchor_date="2023-02-01")
    n_commits = len(StagedWriter(out).commits())
    for f in (ck / "commits").iterdir():
        f.unlink()
    stream_etl(spark, inp, out, ck, available_now=True, refresh_kpis=True,
               anchor_date="2023-02-01")
    w = StagedWriter(out)
    assert len(w.commits()) == n_commits  # the replay committed nothing
    stream_kpis = {r.kpi_name: r.kpi_value for r in w.read_table(spark, "kpis").collect()}
    assert len(stream_kpis) == 6
    assert stream_kpis == batch_kpis


def test_time_travel_snapshots(spark, tmp_path):
    from pyspark.sql import Row

    w = StagedWriter(tmp_path / "tt")
    b1 = w.write_batch(
        {"kpis": spark.createDataFrame([Row(kpi_name="a", kpi_date="d", kpi_value=1.0)])}
    )
    b2 = w.write_batch(
        {"kpis": spark.createDataFrame([Row(kpi_name="b", kpi_date="d", kpi_value=2.0)])}
    )
    assert [c[0] for c in w.commits()] == [b1, b2]
    assert w.read_table(spark, "kpis", as_of=b1).count() == 1
    assert w.read_table(spark, "kpis", as_of=b2).count() == 2
    assert w.read_table(spark, "kpis").count() == 2
    with pytest.raises(ValueError, match="unknown commit"):
        w.read_table(spark, "kpis", as_of="nope")


def test_write_batch_idempotent_replay(spark, tmp_path):
    """A streaming epoch replayed after a crash must not double-write or
    wedge: (a) a batch_id already in _commits.log is a no-op; (b) an orphan
    batch dir from a crash BEFORE the log append is replaced, not ENOTEMPTY."""
    from pyspark.sql import Row

    w = StagedWriter(tmp_path / "idem")
    df = spark.createDataFrame([Row(kpi_name="a", kpi_date="d", kpi_value=1.0)])
    w.write_batch({"kpis": df}, batch_id="epoch000001")
    # (a) committed replay: no new rows, no new commit entry
    w.write_batch({"kpis": df}, batch_id="epoch000001")
    assert w.read_table(spark, "kpis").count() == 1
    assert [c[0] for c in w.commits()] == ["epoch000001"]
    # (b) orphan promotion without a log entry (simulated crash), then replay
    orphan = tmp_path / "idem" / "kpis" / "batch=epoch000002"
    orphan.mkdir(parents=True)
    (orphan / "leftover.parquet").write_text("partial")
    w.write_batch({"kpis": df}, batch_id="epoch000002")
    assert w.read_table(spark, "kpis").count() == 2
    assert not (orphan / "leftover.parquet").exists()


def test_time_travel_vacuumed_by_compaction(spark, tmp_path):
    from pyspark.sql import Row

    w = StagedWriter(tmp_path / "ttc")
    b1 = w.write_batch(
        {"kpis": spark.createDataFrame([Row(kpi_name="a", kpi_date="d", kpi_value=1.0)])}
    )
    w.write_batch(
        {"kpis": spark.createDataFrame([Row(kpi_name="b", kpi_date="d", kpi_value=2.0)])}
    )
    w.compact(spark, "kpis")
    assert w.read_table(spark, "kpis").count() == 2  # current state intact
    with pytest.raises(ValueError, match="vacuumed"):
        w.read_table(spark, "kpis", as_of=b1)
    compact_commit = w.commits()[-1][0]
    assert sorted(w.read_table(spark, "kpis", as_of=compact_commit).collect()) \
        == sorted(w.read_table(spark, "kpis").collect())


def test_promote_failure_commits_nothing(spark, tmp_path, monkeypatch):
    """A crash on the third of four promotes (after two tables were
    renamed into place) leaves no table showing the batch, and a later
    run_etl into the same directory commits cleanly."""
    from pathlib import Path

    from shifts_etl_spark.operators import flatten
    from shifts_etl_spark.sources.pages import docs_from_pages

    out = tmp_path / "crash"
    docs = generate_shift_docs(days=6)
    tables = flatten.flatten_all(docs_from_pages(spark, paginate(docs, 3)))
    assert len(tables) == 4
    rename, promotes = Path.rename, []

    def failing_rename(self, target):
        if Path(target).name.startswith("batch="):
            promotes.append(target)
            if len(promotes) == 3:
                raise OSError("injected promote failure")
        return rename(self, target)

    w = StagedWriter(out)
    monkeypatch.setattr(Path, "rename", failing_rename)
    with pytest.raises(OSError, match="injected"):
        w.write_batch(tables, batch_id="crashed")
    monkeypatch.undo()
    assert len(promotes) == 3
    assert w.commits() == []
    assert not any(w.table_exists(t) for t in tables)
    assert all(w.read_table(spark, t).count() == 0 for t in tables)

    counts = run_etl(spark, pages=paginate(docs, 3), output_dir=out,
                     anchor_date="2023-02-01")
    assert counts == {t: df.count() for t, df in tables.items()} | {"kpis": 6}


def test_scd2_from_changelog_collapses_runs(spark):
    from shifts_etl_spark.operators.merge import scd2_from_changelog

    log = spark.createDataFrame(
        [
            # key 1: A,A,B,A -> three intervals (A re-opens after B)
            (1, "2024-01-01", "A", 1),
            (1, "2024-01-05", "A", 2),
            (1, "2024-02-01", "B", 3),
            (1, "2024-03-01", "A", 4),
            # key 2: single state, always-open interval
            (2, "2024-01-10", "Z", 5),
        ],
        "k long, d string, s string, seq long",
    ).select("k", F.to_date("d").alias("d"), "s", "seq")
    got = sorted(
        scd2_from_changelog(log, "k", "d", "s", tiebreak_col="seq").collect(),
        key=lambda r: (r.k, r.valid_from),
    )
    rows = [(r.k, r.state, str(r.valid_from), str(r.valid_to), r.n_changes)
            for r in got]
    assert rows == [
        (1, "A", "2024-01-01", "2024-02-01", 2),
        (1, "B", "2024-02-01", "2024-03-01", 1),
        (1, "A", "2024-03-01", "None", 1),
        (2, "Z", "2024-01-10", "None", 1),
    ]


def test_snapshot_diff_between_commits(spark, tmp_path):
    """Inserts appear as _op=insert in forward diff; reversing the
    snapshot order flips them to deletes; identical snapshots diff
    empty; duplicate rows diff by multiset count."""
    from shifts_etl_spark.sinks.staged import snapshot_diff

    w = StagedWriter(tmp_path / "sd")
    b1 = w.write_batch(
        {"kpis": spark.createDataFrame(
            [Row(kpi_name="a", kpi_date="d", kpi_value=1.0),
             Row(kpi_name="a", kpi_date="d", kpi_value=1.0)]  # dup on purpose
        )}
    )
    b2 = w.write_batch(
        {"kpis": spark.createDataFrame(
            [Row(kpi_name="b", kpi_date="d", kpi_value=2.0)]
        )}
    )
    fwd = snapshot_diff(spark, w, "kpis", b1, b2).collect()
    assert [(r.kpi_name, r._op) for r in fwd] == [("b", "insert")]
    rev = snapshot_diff(spark, w, "kpis", b2, b1).collect()
    assert [(r.kpi_name, r._op) for r in rev] == [("b", "delete")]
    assert snapshot_diff(spark, w, "kpis", b1, b1).count() == 0
    # multiset: the duplicate 'a' row is not cancelled by a single copy
    fwd_all = snapshot_diff(spark, w, "kpis", b2, b2).count()
    assert fwd_all == 0


def _assert_logged_counts_are_scans(spark, w, tables, as_of=None):
    for t in tables:
        assert w.row_count(t, as_of) == w.read_table(spark, t, as_of).count(), (t, as_of)


def test_logged_counts_equal_scans_in_every_writer_path(spark, tmp_path):
    """The row counts the commit log holds sum to what a scan of the
    resolved batches returns after appends, a replayed batch id, an empty
    and a zero-partition batch, compaction and a replace commit."""
    import threading

    from shifts_etl_spark.pipeline import OUTPUT_TABLES

    out = tmp_path / "out"
    w = StagedWriter(out)
    first = run_etl(spark, pages=paginate(generate_shift_docs(days=6), 3), output_dir=out,
                    anchor_date="2023-02-01")
    counts = run_etl(spark, pages=paginate(generate_shift_docs(days=5, seed=7), 2),
                     output_dir=out, anchor_date="2023-02-01")
    assert counts == {t: w.read_table(spark, t).count() for t in OUTPUT_TABLES}
    assert counts["kpis"] == first["kpis"] * 2 == 12
    first_batch = w.commits()[0][0]
    _assert_logged_counts_are_scans(spark, w, OUTPUT_TABLES, as_of=first_batch)
    assert w.row_count("shifts", first_batch) == first["shifts"]

    shifts = w.read_table(spark, "shifts")
    w.write_batch({"shifts": shifts}, batch_id=first_batch)  # replay: no new rows
    assert w.row_count("shifts") == counts["shifts"]

    w.write_batch({"shifts": spark.createDataFrame([], shifts.schema)})
    # no partition at all: the write's observation still reports 0, not a hang
    no_parts = spark.createDataFrame(spark.sparkContext.emptyRDD(), shifts.schema)
    done = threading.Thread(target=w.write_batch, args=({"shifts": no_parts},), daemon=True)
    done.start()
    done.join(120)
    assert not done.is_alive()
    assert len(w.commits()) == 6
    assert w.row_count("shifts") == counts["shifts"]
    _assert_logged_counts_are_scans(spark, w, ["shifts"])

    assert w.compact(spark, "breaks") == 2
    _assert_logged_counts_are_scans(spark, w, ["breaks"])

    updates = shifts.limit(2).withColumn("shift_id", F.concat("shift_id", F.lit("-new")))
    replaced = w.write_batch({"shifts": shifts.unionByName(updates)}, replace=True)
    assert w.row_count("shifts") == counts["shifts"] + 2
    _assert_logged_counts_are_scans(spark, w, OUTPUT_TABLES)
    assert sorted(w.read_table(spark, "shifts", as_of=replaced).collect()) \
        == sorted(w.read_table(spark, "shifts").collect())


def test_logged_counts_equal_scans_after_stream_epochs(spark, tmp_path):
    """Two stream_etl epochs (4 files, then 2) append four tables each and
    replace the KPI batch: the logged counts still equal the scans."""
    from shifts_etl_spark.pipeline import OUTPUT_TABLES

    docs = generate_shift_docs(days=12)
    inp = tmp_path / "in"
    inp.mkdir()
    for i in range(0, 12, 2):
        with open(inp / f"p{i:02d}.json", "w") as f:
            for d in docs[i : i + 2]:
                f.write(json.dumps(d) + "\n")
    out = tmp_path / "stream"
    stream_etl(spark, inp, out, tmp_path / "ck", available_now=True, refresh_kpis=True,
               anchor_date="2023-02-01")
    w = StagedWriter(out)
    assert len(w.commits()) == 4  # two epochs, each a load and a KPI replace
    assert w.row_count("shifts") == 12 and w.row_count("kpis") == 6
    _assert_logged_counts_are_scans(spark, w, OUTPUT_TABLES)
