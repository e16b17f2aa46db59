"""Declarative expectations (operators/expectations.py): all rules in one
aggregate pass; violation counts."""

import pytest
from pyspark.sql import Row

from shifts_etl_spark.operators.expectations import Expect, check_expectations


@pytest.fixture(scope="module")
def frame(spark):
    return spark.createDataFrame(
        [
            Row(id=1, status="ok", score=0.5, email="a@b.co"),
            Row(id=2, status="ok", score=1.5, email="nope"),
            Row(id=2, status="bad", score=None, email=None),
            Row(id=4, status=None, score=0.1, email="c@d.eu"),
        ]
    )


RULES = [
    Expect("id", "unique"),
    Expect("id", "not_null"),
    Expect("status", "not_null"),
    Expect("status", "in_set", ("ok", "retry")),
    Expect("score", "between", (0.0, 1.0)),
    Expect("email", "matches", (r"^[^@]+@[^@]+\.[^@]+$",)),
]


def test_violation_counts(spark, frame):
    got = {r["rule"]: r["violations"] for r in check_expectations(frame, RULES).collect()}
    assert got == {
        "id:unique": 1,
        "id:not_null": 0,
        "status:not_null": 1,
        "status:in_set": 1,
        "score:between": 1,
        "email:matches": 1,
    }


def test_single_pass_plan(spark, frame):
    plan = (
        check_expectations(frame, RULES)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # one scan of the source: no join, no union of per-rule subplans
    assert "Join" not in plan and "Union" not in plan


def test_empty_frame_passes(spark, frame):
    got = check_expectations(frame.where("id < 0"), RULES).collect()
    assert len(got) == len(RULES)
    assert all(r["passed"] and r["violations"] == 0 for r in got)
