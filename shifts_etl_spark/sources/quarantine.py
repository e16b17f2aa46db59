"""Corrupt-record quarantine — ingest hygiene for untrusted feeds.

At 100 TB a single malformed line must neither kill the job (FAILFAST)
nor silently vanish (DROPMALFORMED). The PERMISSIVE + corrupt-column
pattern keeps every byte: rows that parse land in the clean frame, rows
that don't land in a quarantine frame with their raw text preserved for
replay after the producer is fixed.

The split is two filters over ONE scan definition — Spark evaluates the
parse once per file read; quarantined raw text is written as its own
table so reprocessing is a plain re-read of that directory.

Caveat (Spark semantics): Spark refuses a raw-file query that selects
ONLY the corrupt column — it must parse the full schema alongside it.
`read_json_with_quarantine` guarantees that with a lazy local checkpoint
of the full-width read: the first action parses each file once, both
filters read the checkpointed rows, and the blocks go when the frames
do (no cache handle to release).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

CORRUPT_COL = "_corrupt_record"


def read_json_with_quarantine(
    spark: SparkSession, path: str, schema: T.StructType
) -> tuple[DataFrame, DataFrame]:
    """(clean, quarantined) frames from a JSONL directory.

    clean: rows matching ``schema``. quarantined: (raw) — the verbatim
    unparseable lines. Both derive from one PERMISSIVE read.
    """
    full = T.StructType(
        schema.fields + [T.StructField(CORRUPT_COL, T.StringType())]
    )
    raw = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
        .localCheckpoint(eager=False)  # one parse feeds both filters
    )
    clean = raw.where(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = raw.where(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("raw")
    )
    return clean, bad
