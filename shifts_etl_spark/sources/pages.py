"""Paginated JSON source (S1/S2 — SURVEY.md §2.1).

The reference pulls pages of ≤30 nested shift docs over HTTP, following
``links.next`` until absent (reference etl/app/shift_data_processor.py:32-43,
146-152, 185-215). Here the page loop stays driver-side (it is control flow,
not data flow); the docs of every page in a batch become ONE Arrow-built
local relation with the explicit ingest schema — no JSON inference ever
(SURVEY.md §1.1).

One relation, not one per page, sized by its bytes: every partition costs
a task in each downstream stage, integrity check and write, and a parquet
part file per child table. A union of per-page frames would have
parallelism × pages partitions, and even one relation is split by
``LocalTableScanExec`` into one partition per row, up to defaultParallelism.
So the batch is coalesced to the partition count Spark's file scans would
give the same bytes (``session.split_partitions``, the rule that also sizes
``operators/windows.scalable_running_sum``'s buckets): one partition up to
``spark.sql.files.openCostInBytes`` (4 MB), defaultParallelism above
(defaultParallelism - 1) × that. A 28-doc batch (9 KB) runs a warm
``run_etl`` in 19 tasks instead of 101.

Arrow, not Python rows: every doc is first checked by the same type
verifier ``createDataFrame`` runs on Python rows (a NULL ``id`` or an int
where the schema has a double raises the same error), then the docs become
one Arrow table. Below ``spark.sql.execution.arrow.localRelationThreshold``
(48 MB) Spark plans it as a ``LocalRelation`` held in the JVM, so the
flatten, the checks, the writes and the KPIs re-scan it without repeating
any Python-side conversion, and the batch needs no cache. Above the
threshold it becomes an RDD of Arrow batches, decoded in the JVM on each
scan.

For big ingests the driver should touch no page bodies at all:
``spark.read.format("shifts_api")`` (sources/api_source.py) plans one
partition per page, so executors pull the pages in parallel.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterable, Iterator
from urllib.parse import urljoin, urlparse

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _make_type_verifier

from ..schemas import SHIFT_DOC_SCHEMA
from ..session import split_partitions

_verify_doc = _make_type_verifier(SHIFT_DOC_SCHEMA)
_ARROW_DOC_SCHEMA = to_arrow_schema(SHIFT_DOC_SCHEMA)


def base_url(url: str) -> str:
    p = urlparse(url)
    return f"{p.scheme}://{p.netloc}{p.path}"


def next_url(page: dict, base: str) -> str | None:
    nxt = (page.get("links") or {}).get("next")
    return urljoin(base, nxt) if nxt else None


def iter_http_pages(
    url: str, fetch: Callable[[str], dict | None] | None = None
) -> Iterator[dict]:
    """S2 — follow links.next until absent. ``fetch`` is injectable for tests
    (the reference's tests mock requests.get the same way). A fetch failure
    stops the pipeline with ValueError, matching reference
    etl/app/shift_data_processor.py:202-204."""
    if fetch is None:  # pragma: no cover - network path
        import urllib.request

        def fetch(u: str) -> dict | None:
            try:
                with urllib.request.urlopen(u) as r:
                    return json.loads(r.read())
            except Exception:
                return None

    base = base_url(url)
    current: str | None = url
    while current:
        page = fetch(current)
        if page is None:
            raise ValueError("Failed to fetch data for the page.")
        yield page
        current = next_url(page, base)


def docs_from_pages(spark: SparkSession, pages: Iterable[dict]) -> DataFrame:
    """S1 — all page bodies of a batch → one DataFrame of nested shift docs
    (explicit schema). ``pages`` is drained once, page by page (an
    ``iter_http_pages`` generator fetches as it goes); each doc is checked
    against the schema, then all docs form a single Arrow-built local
    relation (one plan leaf, a ``LocalRelation`` below 48 MB), coalesced to
    ``session.split_partitions`` of its Arrow bytes: its partition count
    follows its size, not its page count or the core count."""
    docs = [d for p in pages for d in p["results"]]
    for d in docs:
        _verify_doc(d)
    table = pa.Table.from_pylist(docs, schema=_ARROW_DOC_SCHEMA)
    df = spark.createDataFrame(table, SHIFT_DOC_SCHEMA)
    return df.coalesce(split_partitions(spark, table.nbytes))

