"""Explicit schemas — never inferred on the ingest path.

The reference declares its source schema with Pydantic models
(reference api/app/models.py:12-44) and its sink schema as SQL DDL
(reference initdb.sql:3-46); the mapping between them is an explicit rename
dict (reference etl/app/shift_data_processor.py:105-115). This module is the
single Spark-side source of truth for both.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --------------------------------------------------------------------------
# Raw nested shift document (ingest schema; FIXTURES.md §1)
# start/finish are epoch MILLISECONDS (reference api/app/models.py:35-36).
# --------------------------------------------------------------------------

BREAK_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("start", T.LongType(), True),
        T.StructField("finish", T.LongType(), True),
        T.StructField("paid", T.BooleanType(), False),
    ]
)

ALLOWANCE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("value", T.DoubleType(), False),
        T.StructField("cost", T.DoubleType(), False),
    ]
)

AWARD_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("date", T.StringType(), False),
        T.StructField("units", T.DoubleType(), False),
        T.StructField("cost", T.DoubleType(), False),
    ]
)

SHIFT_DOC_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("date", T.StringType(), False),
        T.StructField("start", T.LongType(), True),
        T.StructField("finish", T.LongType(), True),
        T.StructField("breaks", T.ArrayType(BREAK_SCHEMA), False),
        T.StructField("allowances", T.ArrayType(ALLOWANCE_SCHEMA), False),
        T.StructField("award_interpretations", T.ArrayType(AWARD_SCHEMA), False),
    ]
)

# --------------------------------------------------------------------------
# Flattened relational tables (sink schema; reference initdb.sql:3-46)
# --------------------------------------------------------------------------

SHIFTS_SCHEMA = T.StructType(
    [
        T.StructField("shift_id", T.StringType(), False),
        T.StructField("shift_date", T.DateType(), False),
        T.StructField("shift_start", T.TimestampType(), True),
        T.StructField("shift_finish", T.TimestampType(), True),
        T.StructField("shift_cost", T.DecimalType(13, 4), True),
    ]
)

BREAKS_SCHEMA = T.StructType(
    [
        T.StructField("break_id", T.StringType(), False),
        T.StructField("shift_id", T.StringType(), False),
        T.StructField("break_start", T.TimestampType(), True),
        T.StructField("break_finish", T.TimestampType(), True),
        T.StructField("is_paid", T.BooleanType(), False),
    ]
)

ALLOWANCES_SCHEMA = T.StructType(
    [
        T.StructField("allowance_id", T.StringType(), False),
        T.StructField("shift_id", T.StringType(), False),
        T.StructField("allowance_value", T.DoubleType(), False),
        T.StructField("allowance_cost", T.DecimalType(13, 4), True),
    ]
)

AWARDS_SCHEMA = T.StructType(
    [
        T.StructField("award_id", T.StringType(), False),
        T.StructField("shift_id", T.StringType(), False),
        T.StructField("award_date", T.DateType(), False),
        T.StructField("award_units", T.DoubleType(), False),
        T.StructField("award_cost", T.DecimalType(13, 4), True),
    ]
)

KPIS_SCHEMA = T.StructType(
    [
        T.StructField("kpi_name", T.StringType(), False),
        T.StructField("kpi_date", T.DateType(), False),
        T.StructField("kpi_value", T.DecimalType(8, 2), True),
    ]
)

TABLE_SCHEMAS = {
    "shifts": SHIFTS_SCHEMA,
    "breaks": BREAKS_SCHEMA,
    "allowances": ALLOWANCES_SCHEMA,
    "award_interpretations": AWARDS_SCHEMA,
    "kpis": KPIS_SCHEMA,
}

# Primary keys / foreign keys (reference initdb.sql) — Spark enforces nothing,
# so these drive the pre-write validation pass in operators/quality.py.
PRIMARY_KEYS = {
    "shifts": "shift_id",
    "breaks": "break_id",
    "allowances": "allowance_id",
    "award_interpretations": "award_id",
}
FOREIGN_KEYS = {  # child -> (key, parent)
    "breaks": ("shift_id", "shifts"),
    "allowances": ("shift_id", "shifts"),
    "award_interpretations": ("shift_id", "shifts"),
}

# --------------------------------------------------------------------------
# Driver testdata tables (TESTDATA.md / FIXTURES.md §6). load_table reads
# them with these schemas, so no scan infers one from the parquet footers.
# All fields are nullable, as a file scan reports them. Timestamps are
# stored as µs without UTC adjustment: o_orderdate and l_shipdate read as
# TIMESTAMP_NTZ, as inferred; events.ts reads as TIMESTAMP, because the
# range/session operators do epoch-seconds arithmetic on it and NTZ does
# not cast to numeric. The session time zone is UTC, so that reading holds
# the stored naive values.
# --------------------------------------------------------------------------


def _nullable(*cols: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(n, t, True) for n, t in cols])


_INT, _LONG, _DOUBLE, _STR = T.IntegerType(), T.LongType(), T.DoubleType(), T.StringType()

TESTDATA_SCHEMAS = {
    "region": _nullable(("r_regionkey", _INT), ("r_name", _STR)),
    "nation": _nullable(("n_nationkey", _INT), ("n_name", _STR), ("n_regionkey", _INT)),
    "customer": _nullable(
        ("c_custkey", _LONG),
        ("c_name", _STR),
        ("c_nationkey", _INT),
        ("c_acctbal", _DOUBLE),
        ("c_mktsegment", _STR),
    ),
    "supplier": _nullable(
        ("s_suppkey", _LONG), ("s_name", _STR), ("s_nationkey", _INT), ("s_acctbal", _DOUBLE)
    ),
    "part": _nullable(
        ("p_partkey", _LONG),
        ("p_name", _STR),
        ("p_brand", _STR),
        ("p_type", _STR),
        ("p_size", _INT),
        ("p_retailprice", _DOUBLE),
    ),
    "orders": _nullable(
        ("o_orderkey", _LONG),
        ("o_custkey", _LONG),
        ("o_orderstatus", _STR),
        ("o_totalprice", _DOUBLE),
        ("o_orderdate", T.TimestampNTZType()),
        ("o_orderpriority", _STR),
    ),
    "lineitem": _nullable(
        ("l_orderkey", _LONG),
        ("l_partkey", _LONG),
        ("l_suppkey", _LONG),
        ("l_linenumber", _INT),
        ("l_quantity", _DOUBLE),
        ("l_extendedprice", _DOUBLE),
        ("l_discount", _DOUBLE),
        ("l_tax", _DOUBLE),
        ("l_returnflag", _STR),
        ("l_linestatus", _STR),
        ("l_shipdate", T.TimestampNTZType()),
    ),
    "events": _nullable(
        ("event_id", _LONG),
        ("ts", T.TimestampType()),
        ("user_id", _LONG),
        ("event_type", _STR),
        ("value", _DOUBLE),
        ("props", _STR),
    ),
    "documents": _nullable(
        ("doc_id", _LONG), ("text", _STR), ("lang", _STR), ("source", _STR), ("n_chars", _LONG)
    ),
    "embeddings": _nullable(
        ("vec_id", _LONG), ("embedding", T.ArrayType(T.FloatType(), True)), ("label", _INT)
    ),
}
TESTDATA_TABLES = tuple(TESTDATA_SCHEMAS)
