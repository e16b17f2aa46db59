"""Parquet testdata registry (S5 — driver contract tables, TESTDATA.md)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..schemas import TESTDATA_SCHEMAS


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan ``<sf_dir>/<name>.parquet`` with the table's contract schema:
    no footer-inference job runs. An unknown name raises ``KeyError``."""
    return spark.read.schema(TESTDATA_SCHEMAS[name]).parquet(f"{sf_dir}/{name}.parquet")
