"""The pinned testdata schemas (schemas.TESTDATA_SCHEMAS) against what a
footer-inferring read of the same files gives, on every data source the
catalog is run over: the three testdata scales, perfbench's generator and
a scale_smoke replica written by Spark."""

import importlib.util
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from shifts_etl_spark.schemas import TESTDATA_SCHEMAS, TESTDATA_TABLES
from shifts_etl_spark.sources.tables import load_table

ROOT = Path(__file__).resolve().parent.parent
TESTDATA = Path("/root/testdata")


def _module(path: Path):
    spec = importlib.util.spec_from_file_location(path.stem, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _inferred(spark, sf_dir, name):
    """The read load_table made before the schemas were pinned: footer
    inference, then events.ts cast to TIMESTAMP where it reads as NTZ."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes)["ts"] == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _assert_pinned_equals_inferred(spark, sf_dir):
    for t in TESTDATA_TABLES:
        assert _inferred(spark, sf_dir, t).schema == TESTDATA_SCHEMAS[t], t
        assert load_table(spark, sf_dir, t).schema == TESTDATA_SCHEMAS[t], t


def _same_rows(a, b) -> bool:
    return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_pinned_schemas_equal_inferred(spark, sf):
    _assert_pinned_equals_inferred(spark, TESTDATA / sf)


def test_pinned_events_ts_equals_cast(spark):
    """events.ts read straight as TIMESTAMP holds the values of the old
    NTZ read cast to TIMESTAMP (the session zone is UTC)."""
    sf_dir = TESTDATA / "sf0.01"
    assert _same_rows(
        load_table(spark, sf_dir, "events").select("event_id", "ts"),
        _inferred(spark, sf_dir, "events").select("event_id", "ts"),
    )


def test_pinned_schemas_equal_inferred_on_perfbench_data(spark, tmp_path):
    datagen = _module(ROOT / "perfbench" / "datagen.py")
    datagen.generate(tmp_path, 0.001, 7)
    _assert_pinned_equals_inferred(spark, tmp_path)


def test_pinned_schemas_read_scale_smoke_replica(spark, tmp_path):
    """A replica Spark wrote stores events.ts UTC-adjusted (inferred as
    TIMESTAMP, no cast); the pinned read gives the same values as the
    source's."""
    smoke = _module(ROOT / "tools" / "scale_smoke.py")
    smoke.materialize(spark, 2, tmp_path)
    _assert_pinned_equals_inferred(spark, tmp_path)

    src = _inferred(spark, smoke.BASE, "events").select("event_id", "ts")
    rep = load_table(spark, tmp_path, "events").select(
        (F.col("event_id") % smoke.OFFSET).alias("event_id"), "ts"
    )
    assert _same_rows(rep, src.unionAll(src))


def test_unknown_table_raises_key_error(spark):
    with pytest.raises(KeyError):
        load_table(spark, TESTDATA / "sf0.001", "no_such_table")
