"""Online admission pipeline (streaming counterpart of pipeline.curate):
blocklist scrub + quality gate + incremental exact dedup vs the cumulative
admitted sink, exactly-once per epoch via StagedWriter batch ids.
"""

from __future__ import annotations

import hashlib
import json

from shifts_etl_spark.sinks.staged import StagedWriter
from shifts_etl_spark.streaming.micro_batch import (
    _admitted_hashes,
    _epoch_batch_id,
    _stream_identity,
    streaming_curation_admit,
)

GOOD = (
    "the quick brown fox jumps over the lazy dog while many other common "
    "words keep the quality score of this document comfortably high today"
)
GOOD2 = (
    "another perfectly reasonable document with plenty of ordinary words "
    "and the usual stopwords that any quality heuristic should accept"
)
BOILER = "COPYRIGHT NOTICE ALL RIGHTS RESERVED FORBIDDEN TO COPY OK! " * 3


def _windows_md5(text: str, span_len: int = 40) -> list[str]:
    return sorted(
        {
            hashlib.md5(text[i : i + span_len].encode()).hexdigest()
            for i in range(len(text) - span_len + 1)
        }
    )


def _drop(input_dir, name, rows):
    with open(f"{input_dir}/{name}", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_streaming_admission_end_to_end(spark, tmp_path):
    input_dir = tmp_path / "in"
    input_dir.mkdir()
    ckpt = tmp_path / "ckpt"
    out = tmp_path / "out"
    hashes = _windows_md5(BOILER + BOILER)

    def run():
        q = streaming_curation_admit(
            spark,
            input_dir,
            ckpt,
            out,
            gram_hashes=hashes,
            max_blocked_frac=0.5,
            min_quality=0.5,
        )
        q.awaitTermination()

    # epoch 1: one good doc, a junk-quality doc, a blocklisted doc, and
    # an in-batch duplicate of the good doc
    _drop(input_dir, "e1.json", [
        {"doc_id": 1, "source": "s0", "text": GOOD},
        {"doc_id": 2, "source": "s0", "text": "9" * 400},
        {"doc_id": 3, "source": "s0", "text": BOILER + BOILER},
        {"doc_id": 4, "source": "s1", "text": GOOD},
    ])
    run()
    w = StagedWriter(out)
    ids = {r.doc_id for r in w.read_table(spark, "admitted").collect()}
    assert ids == {1}

    # epoch 2: a cross-epoch duplicate of doc 1 (rejected against the
    # admitted sink) and a fresh good doc (admitted)
    _drop(input_dir, "e2.json", [
        {"doc_id": 5, "source": "s2", "text": GOOD},
        {"doc_id": 6, "source": "s2", "text": GOOD2},
    ])
    run()
    ids = {r.doc_id for r in w.read_table(spark, "admitted").collect()}
    assert ids == {1, 6}

    # restart with nothing new: checkpoint replays nothing, sink unchanged
    run()
    ids = {r.doc_id for r in w.read_table(spark, "admitted").collect()}
    assert ids == {1, 6}
    # two commits, one per epoch — replay never duplicated a batch
    assert len(w.commits()) == 2

    # 100 TB contract: the per-epoch dedup history is the hashes-only
    # sidecar — its scan reads ONE 32-hex column, never admitted text
    history = _admitted_hashes(spark, w)
    assert history.columns == ["content_hash"]
    plan = history._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<content_hash:string>" in plan
    assert "text" not in plan
    # sidecar content is exactly the admitted docs' normalized hashes
    assert history.count() == 2 and history.distinct().count() == 2


def test_sidecar_compaction_keeps_dedup_correct(spark, tmp_path):
    """compact_every folds the sidecar's per-epoch batch dirs into one
    without changing dedup semantics: cross-epoch duplicates are still
    rejected after compaction, and the sidecar's dir count stays 1."""
    input_dir = tmp_path / "in"
    input_dir.mkdir()
    ckpt = tmp_path / "ckpt"
    out = tmp_path / "out"

    def run():
        q = streaming_curation_admit(spark, input_dir, ckpt, out,
                                     compact_every=1)
        q.awaitTermination()

    _drop(input_dir, "e1.json", [{"doc_id": 1, "source": "s0", "text": GOOD}])
    run()
    _drop(input_dir, "e2.json", [
        {"doc_id": 2, "source": "s1", "text": GOOD},   # dup vs epoch 1
        {"doc_id": 3, "source": "s1", "text": GOOD2},  # fresh
    ])
    run()
    w = StagedWriter(out)
    ids = {r.doc_id for r in w.read_table(spark, "admitted").collect()}
    assert ids == {1, 3}
    # each compaction leaves exactly one sidecar batch dir behind
    assert len(list((out / "admitted_hashes").glob("batch=*"))) == 1
    assert _admitted_hashes(spark, w).count() == 2


def test_sidecar_file_count_bounded_across_3n_epochs(spark, tmp_path):
    """The long-run guarantee (VERDICT r7 #6 done-criterion): with
    compact_every=N, the sidecar's batch-dir count stays bounded by
    N across 3N epochs (one per-epoch file set would otherwise
    accumulate forever), cross-epoch dedup keeps working through every
    compaction boundary, and a replay with the same checkpoint and no
    new input commits nothing."""
    input_dir = tmp_path / "in"
    input_dir.mkdir()
    ckpt = tmp_path / "ckpt"
    out = tmp_path / "out"
    n = 2  # compact_every

    def run():
        q = streaming_curation_admit(spark, input_dir, ckpt, out,
                                     compact_every=n)
        q.awaitTermination()

    texts = [GOOD, GOOD2,
             GOOD + " with a small unique suffix epoch three",
             GOOD2 + " with a small unique suffix epoch four",
             GOOD + " with a different unique suffix epoch five",
             GOOD2 + " with a different unique suffix epoch six"]
    w = StagedWriter(out)
    for epoch in range(3 * n):  # 6 epochs, one file each
        rows = [
            {"doc_id": 100 * epoch + 1, "source": "s", "text": texts[epoch]},
            # every epoch also re-offers epoch 0's doc — must stay dropped
            # no matter how many compactions the sidecar has been through
            {"doc_id": 100 * epoch + 2, "source": "s", "text": GOOD},
        ] if epoch else [
            {"doc_id": 1, "source": "s", "text": texts[0]},
        ]
        _drop(input_dir, f"e{epoch}.json", rows)
        run()
        dirs = len(list((out / "admitted_hashes").glob("batch=*")))
        assert dirs <= n, f"epoch {epoch}: {dirs} sidecar dirs > {n}"

    admitted = {r.doc_id for r in w.read_table(spark, "admitted").collect()}
    assert admitted == {1, 101, 201, 301, 401, 501}
    assert _admitted_hashes(spark, w).count() == 6
    # replay idempotency: same checkpoint, no new files -> no new commits
    n_commits = len(list(w.commits()))
    run()
    assert len(list(w.commits())) == n_commits
    assert {r.doc_id for r in w.read_table(spark, "admitted").collect()} \
        == admitted


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


def test_pii_bearing_boilerplate_is_blocked(spark, tmp_path):
    """Blocklist matching must run on RAW text: boilerplate containing an
    email would hash differently after the PII scrub and slip through if
    matching ran post-scrub."""
    input_dir = tmp_path / "in"
    input_dir.mkdir()
    pii_boiler = (
        "FOR PERMISSIONS CONTACT legal@example.com ALL RIGHTS RESERVED "
        "AND FORBIDDEN TO REPRODUCE WITHOUT WRITTEN CONSENT TODAY OK "
    ) * 2
    hashes = _windows_md5(pii_boiler)
    _drop(input_dir, "e1.json", [
        {"doc_id": 1, "source": "s0", "text": pii_boiler},
        {"doc_id": 2, "source": "s0", "text": GOOD},
    ])
    q = streaming_curation_admit(
        spark, input_dir, tmp_path / "ckpt", tmp_path / "out",
        gram_hashes=hashes, max_blocked_frac=0.5,
    )
    q.awaitTermination()
    ids = {
        r.doc_id
        for r in StagedWriter(tmp_path / "out")
        .read_table(spark, "admitted")
        .collect()
    }
    assert ids == {2}


def test_fresh_checkpoint_does_not_swallow_epochs(spark, tmp_path):
    """A new checkpoint restarts epoch numbering at 0; its batches must
    land in the existing output dir rather than being skipped as replays
    of the first stream's epoch 0."""
    out = tmp_path / "out"
    in1 = tmp_path / "in1"
    in1.mkdir()
    _drop(in1, "e1.json", [{"doc_id": 1, "source": "s0", "text": GOOD}])
    q = streaming_curation_admit(spark, in1, tmp_path / "ckpt1", out)
    q.awaitTermination()

    in2 = tmp_path / "in2"
    in2.mkdir()
    _drop(in2, "e1.json", [{"doc_id": 2, "source": "s1", "text": GOOD2}])
    q = streaming_curation_admit(spark, in2, tmp_path / "ckpt2", out)
    q.awaitTermination()

    w = StagedWriter(out)
    ids = {r.doc_id for r in w.read_table(spark, "admitted").collect()}
    assert ids == {1, 2}
    assert len(w.commits()) == 2  # one commit per stream, none swallowed


GOOD_NEAR = GOOD.replace("lazy", "sleepy")      # near-copy, not exact
GOOD2_NEAR = GOOD2.replace("ordinary", "usual")  # near-copy of GOOD2


def test_streaming_neardup_admission(spark, tmp_path):
    """Online NEAR-dup admission (neardup_threshold): a cross-epoch
    near-copy — one word changed, so the exact hash sidecar alone would
    ADMIT it — is rejected against the signature sidecar; an unrelated
    doc passes; of two batch-mate near-copies only the min-id one is
    admitted. compact_every also folds the sigs sidecar."""
    input_dir = tmp_path / "in"
    input_dir.mkdir()
    ckpt = tmp_path / "ckpt"
    out = tmp_path / "out"

    def run():
        q = streaming_curation_admit(
            spark, input_dir, ckpt, out,
            neardup_threshold=0.5, compact_every=1,
        )
        q.awaitTermination()

    _drop(input_dir, "e1.json", [{"doc_id": 1, "source": "s", "text": GOOD}])
    run()
    _drop(input_dir, "e2.json", [
        {"doc_id": 2, "source": "s", "text": GOOD_NEAR},   # near hist -> drop
        {"doc_id": 3, "source": "s", "text": GOOD2},       # fresh -> keep
        {"doc_id": 4, "source": "s", "text": GOOD2_NEAR},  # near mate -> drop
    ])
    run()
    w = StagedWriter(out)
    ids = {r.doc_id for r in w.read_table(spark, "admitted").collect()}
    assert ids == {1, 3}
    sigs = w.read_table(spark, "admitted_sigs").collect()
    assert {r.doc_id for r in sigs} == {1, 3}
    assert all(len(r.sig) == 64 for r in sigs)
    # compact_every folded both sidecars to one batch dir each
    assert len(list((out / "admitted_sigs").glob("batch=*"))) == 1
    assert len(list((out / "admitted_hashes").glob("batch=*"))) == 1


def test_streaming_neardup_sidecar_backfill(spark, tmp_path):
    """An output dir admitted to BEFORE near-dup mode existed upgrades
    lazily: the first near-dup epoch derives admitted_sigs from the
    admitted table once (fixed batch id), and a near-copy of the
    PRE-upgrade history is then rejected."""
    input_dir = tmp_path / "in"
    input_dir.mkdir()
    ckpt = tmp_path / "ckpt"
    out = tmp_path / "out"

    _drop(input_dir, "e1.json", [{"doc_id": 1, "source": "s", "text": GOOD}])
    q = streaming_curation_admit(spark, input_dir, ckpt, out)  # exact-only era
    q.awaitTermination()
    w = StagedWriter(out)
    assert not w.table_exists("admitted_sigs")

    _drop(input_dir, "e2.json", [
        {"doc_id": 2, "source": "s", "text": GOOD_NEAR},
        {"doc_id": 3, "source": "s", "text": GOOD2},
    ])
    q = streaming_curation_admit(
        spark, input_dir, ckpt, out, neardup_threshold=0.5
    )
    q.awaitTermination()
    ids = {r.doc_id for r in w.read_table(spark, "admitted").collect()}
    assert ids == {1, 3}
    assert sum(1 for bid, _ in w.commits() if bid == "sigs-backfill") == 1
