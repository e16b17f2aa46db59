"""Stateful streaming sessionization."""

import json

from shifts_etl_spark.streaming.stateful import run_streaming_sessionize


def test_streaming_sessionize(spark, tmp_path):
    """Two users; user 1 has two sessions split by a >30min gap. The second
    file advances the watermark far enough to time out and emit all."""
    inp = tmp_path / "ev"
    inp.mkdir()

    def ev(eid, ts, uid, v):
        return {"event_id": eid, "ts": ts, "user_id": uid,
                "event_type": "click", "value": v, "props": "{}"}

    batch1 = [
        ev(1, "2024-01-01T10:00:00.000Z", 1, 1.0),
        ev(2, "2024-01-01T10:10:00.000Z", 1, 2.0),
        ev(3, "2024-01-01T11:00:00.000Z", 1, 4.0),   # >30min gap → session 2
        ev(4, "2024-01-01T10:05:00.000Z", 2, 8.0),
    ]
    with open(inp / "b1.json", "w") as f:
        for r in batch1:
            f.write(json.dumps(r) + "\n")
    # watermark pusher: far-future event so open sessions time out
    with open(inp / "b2.json", "w") as f:
        f.write(json.dumps(ev(9, "2024-01-02T12:00:00.000Z", 99, 0.0)) + "\n")

    q = run_streaming_sessionize(spark, inp, tmp_path / "ck", gap_minutes=30,
                                 query_name="sessions_t")
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM sessions_t").collect()
    got = {(r.user_id, r.n_events, r.sum_value) for r in rows}
    assert (1, 2, 3.0) in got, f"user1 session1 wrong: {got}"
    assert (1, 1, 4.0) in got, f"user1 session2 wrong: {got}"
    assert (2, 1, 8.0) in got, f"user2 session wrong: {got}"

