"""CLI control surface — the engine analog of the reference's two FastAPI
endpoints (reference etl/app/main.py:31-67) plus local utilities:

  python -m shifts_etl_spark run-etl   [--days N] [--batch-size 1..30]
                                       [--output DIR] [--api-url URL]
  python -m shifts_etl_spark clear-data [--output DIR]
  python -m shifts_etl_spark show-kpis  [--output DIR]
  python -m shifts_etl_spark curate     --input DOCS.parquet [--output DIR]
                                        [--budget-docs N] [--min-quality Q]
                                        [--eval-input EVAL.parquet]
  python -m shifts_etl_spark prepare    --input DOCS.parquet [--output DIR]
                                        [--min-jaccard J] [--chunk-tokens N]
                                        [--overlap N] [--budget-tokens N]
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="shifts_etl_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    run = sub.add_parser("run-etl", help="ingest → flatten → validate → load → KPIs")
    run.add_argument("--days", type=int, default=360, help="synthetic generator days")
    run.add_argument("--batch-size", type=int, default=7, help="page size 1..30")
    run.add_argument("--output", default="/tmp/shifts_etl_spark_out")
    run.add_argument("--api-url", default=None, help="paginated JSON API (else generator)")
    run.add_argument("--anchor-date", default=None, help="YYYY-MM-DD (default: today)")

    clear = sub.add_parser("clear-data", help="drop all five output tables")
    clear.add_argument("--output", default="/tmp/shifts_etl_spark_out")

    show = sub.add_parser("show-kpis", help="print the kpis table")
    show.add_argument("--output", default="/tmp/shifts_etl_spark_out")

    cu = sub.add_parser(
        "curate",
        help="composed curation run: dedup → scrub → quality → mixture → split",
    )
    cu.add_argument("--input", required=True, help="documents parquet (doc_id, source, text)")
    cu.add_argument("--output", default=None, help="StagedWriter dir for curated + ledger")
    cu.add_argument("--budget-docs", type=int, default=1000)
    cu.add_argument("--temperature", type=float, default=0.7)
    cu.add_argument("--min-quality", type=float, default=0.5)
    cu.add_argument("--eval-input", default=None, help="eval parquet for decontamination")
    cu.add_argument("--no-pii-scrub", action="store_true")

    pr = sub.add_parser(
        "prepare",
        help="training-shard run: quality → scrub → dedup → chunk/pack → split",
    )
    pr.add_argument("--input", required=True, help="documents parquet (doc_id, text)")
    pr.add_argument("--output", default=None, help="StagedWriter dir for the 5 stage tables")
    pr.add_argument("--min-jaccard", type=float, default=0.5)
    pr.add_argument("--chunk-tokens", type=int, default=100)
    pr.add_argument("--overlap", type=int, default=20)
    pr.add_argument("--budget-tokens", type=int, default=512)

    args = p.parse_args(argv)

    if args.cmd == "run-etl" and not 1 <= args.batch_size <= 30:
        # same bound as the reference API's validation (api/app/main.py:84-90)
        print("batch-size must be in [1, 30]", file=sys.stderr)
        return 2

    if args.cmd == "clear-data":
        from .pipeline import clear_data

        clear_data(args.output)
        print(f"cleared {args.output}")
        return 0

    from .session import get_spark

    spark = get_spark(app_name=f"shifts_etl_spark.{args.cmd}")

    if args.cmd == "show-kpis":
        from .sinks.staged import StagedWriter

        StagedWriter(args.output).read_table(spark, "kpis").show(100, False)
        return 0

    if args.cmd == "curate":
        from .pipeline import curate

        docs = spark.read.parquet(args.input)
        eval_docs = (
            spark.read.parquet(args.eval_input) if args.eval_input else None
        )
        _, ledger = curate(
            spark,
            docs,
            budget_docs=args.budget_docs,
            temperature=args.temperature,
            min_quality=args.min_quality,
            eval_docs=eval_docs,
            pii_scrub=not args.no_pii_scrub,
            output_dir=args.output,
        )
        for row in ledger:
            print(row)
        return 0

    if args.cmd == "prepare":
        from pyspark.sql import functions as F

        from . import caching
        from .pipeline import prepare_training_data

        with caching.scope():
            stages = prepare_training_data(
                spark,
                spark.read.parquet(args.input),
                output_dir=args.output,
                min_jaccard=args.min_jaccard,
                chunk_tokens=args.chunk_tokens,
                overlap=args.overlap,
                budget_tokens=args.budget_tokens,
            )
            if args.output:
                # write_batch already materialized every stage — count
                # the persisted tables instead of re-running the DAGs
                from .sinks.staged import StagedWriter

                w = StagedWriter(args.output)
                stages = {n: w.read_table(spark, n) for n in stages}
            counts = {
                "quality_keep": stages["quality"].where(F.col("keep")).count(),
                "deduped": stages["deduped"].count(),
                "chunks": stages["chunks"].count(),
                "packs": stages["packs"].select("pack_id").distinct().count(),
                "split": stages["split"].count(),
            }
        print(counts)
        return 0

    # run-etl
    from .pipeline import run_etl

    if args.api_url:
        counts = run_etl(
            spark,
            api_url=args.api_url,
            output_dir=args.output,
            anchor_date=args.anchor_date,
        )
    else:
        from .sources.generator import generate_shift_docs, paginate

        pages = paginate(generate_shift_docs(days=args.days), limit=args.batch_size)
        counts = run_etl(
            spark, pages=pages, output_dir=args.output, anchor_date=args.anchor_date
        )
    print({"status": "ETL job completed successfully", "rows": counts})
    return 0


if __name__ == "__main__":
    sys.exit(main())
