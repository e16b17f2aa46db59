"""JDBC sink (K1/K2/K4 via .format("jdbc")) against the embedded Derby
that ships with Spark — a real JDBC round-trip, same code path a Postgres
URL would take. Asserts the reference's load contract (reference
etl/app/shift_data_processor.py:123-183): batched inserts, multi-table
atomic publish, rollback leaves targets untouched, cascade clear."""

import pytest
from pyspark.sql import Row, functions as F

from shifts_etl_spark.operators import flatten
from shifts_etl_spark.pipeline import load_batch
from shifts_etl_spark.sinks.jdbc import JdbcWriter
from shifts_etl_spark.sinks.staged import StagedWriter
from shifts_etl_spark.sources.generator import generate_shift_docs, paginate
from shifts_etl_spark.sources.pages import docs_from_pages

DERBY_DRIVER = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
FLAT_TABLES = ["shifts", "breaks", "allowances", "award_interpretations"]


@pytest.fixture()
def writer(spark, tmp_path):
    url = f"jdbc:derby:{tmp_path}/db;create=true"
    return JdbcWriter(spark, url, batchsize=100)


def test_jdbc_write_batch_golden_counts(spark, writer, tmp_path):
    """``load_batch`` into JDBC: the four tables land with the reference's
    golden counts, survive a read back through spark.read.jdbc, and the
    KPIs over them equal those of the same load through StagedWriter."""
    docs = docs_from_pages(spark, paginate(generate_shift_docs(360), 50))
    batch, kpis = load_batch(spark, docs, writer, batch_id="page0", anchor_date="2023-02-01")
    assert batch == "page0"
    got = {t: writer.read_table(spark, t).count() for t in FLAT_TABLES}
    assert got == {
        "shifts": 360,
        "breaks": 242,
        "allowances": 538,
        "award_interpretations": 582,
    }
    # values, not just counts: one shift row survives the round-trip intact
    src = flatten.flatten_all(docs)["shifts"].orderBy("shift_id").first()
    back = writer.read_table(spark, "shifts").orderBy("shift_id").first()
    assert back == src
    _, staged = load_batch(spark, docs, StagedWriter(tmp_path / "out"), anchor_date="2023-02-01")
    assert sorted(kpis.collect()) == sorted(staged.collect())


def test_jdbc_failed_batch_leaves_targets_untouched(spark, writer):
    """K2: a failure while staging the SECOND table of a batch must leave
    every target exactly as before — the multi-table rollback."""
    ok = spark.createDataFrame([Row(kpi_name="a", kpi_date="d", kpi_value=1.0)])
    writer.write_batch({"kpis": ok}, batch_id="b1")

    poison = ok.withColumn(
        "kpi_value", F.assert_true(F.lit(False)).cast("double")
    )
    with pytest.raises(Exception):
        writer.write_batch({"kpis": ok, "kpis2": poison}, batch_id="b2")

    assert writer.read_table(spark, "kpis").count() == 1
    assert [c[0] for c in writer.commits()] == ["b1"]


def test_jdbc_replay_is_idempotent(spark, writer):
    """A batch_id already in etl_commits is a no-op (streaming replay)."""
    df = spark.createDataFrame([Row(kpi_name="a", kpi_date="d", kpi_value=1.0)])
    writer.write_batch({"kpis": df}, batch_id="epoch1")
    writer.write_batch({"kpis": df}, batch_id="epoch1")
    assert writer.read_table(spark, "kpis").count() == 1


def test_jdbc_clear_cascades(spark, writer):
    """K4: clear() empties all tables + the commit log in one transaction."""
    df = spark.createDataFrame([Row(kpi_name="a", kpi_date="d", kpi_value=1.0)])
    writer.write_batch({"kpis": df}, batch_id="b1")
    writer.clear(["kpis"])
    assert writer.read_table(spark, "kpis").count() == 0
    assert writer.commits() == []
    # and the writer still works after a wipe
    writer.write_batch({"kpis": df}, batch_id="b2")
    assert writer.read_table(spark, "kpis").count() == 1
