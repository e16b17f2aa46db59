"""Parquet testdata registry (S5 — driver contract tables, TESTDATA.md)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..schemas import TESTDATA_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TESTDATA_TABLES:
        raise KeyError(f"unknown testdata table {name!r}")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "timestamp_ntz":
        # µs-precision parquet without UTC adjustment reads as
        # TIMESTAMP_NTZ, which Spark refuses to cast to numeric
        # (epoch-seconds arithmetic in range/session operators needs
        # that). The session TZ is pinned to UTC, so reinterpreting as
        # TIMESTAMP keeps every value identical and matches DuckDB's
        # naive-timestamp semantics.
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    return tuple(load_table(spark, sf_dir, n) for n in names)
