"""CLI entry point — the operational parity surface.

The reference is operated as ``python3 export.py`` on a daily cron
(install.sh:12,70) plus ``CALL get_*(...)`` in MySQL. The engine's
equivalents:

    python -m nessus_client_etl_scripts_spark export \
        --scan-docs DIR --run-docs DIR --lake-root DIR \
        --deployment-id UUID [--mode watermark|lookback] [--lookback-days 30]

    python -m nessus_client_etl_scripts_spark normalize \
        --run-docs DIR --silver-root DIR

    python -m nessus_client_etl_scripts_spark query \
        --silver-root DIR scan-stats --scan-id 7 [--offset 0]
        (also: scan-results / folder-stats / folder-results
         [--plugin-id N])

Document inputs are directories of JSON (the landed lake shape) read
with the declared bronze schemas — the REST transport is wired in
deployments via sources.rest; files keep the CLI hermetic.
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import SparkSession


def _spark() -> SparkSession:
    from .session import get_spark

    return get_spark("nessus-etl-cli")


def _read_docs(spark: SparkSession, path: str, schema):
    return spark.read.schema(schema).option("multiLine", "true").json(path)


def cmd_export(args) -> int:
    from .pipeline.export_pipeline import run_export
    from .sources.nessus_schemas import SCAN_DOC_SCHEMA, SCAN_RUN_DOC_SCHEMA

    spark = _spark()
    written = run_export(
        spark,
        _read_docs(spark, args.scan_docs, SCAN_DOC_SCHEMA),
        _read_docs(spark, args.run_docs, SCAN_RUN_DOC_SCHEMA),
        args.lake_root,
        args.deployment_id,
        mode=args.mode,
        lookback_days=args.lookback_days,
    )
    print(written)
    return 0


def cmd_normalize(args) -> int:
    from .pipeline.normalize import normalize_scan_runs, read_silver, write_silver
    from .sources.nessus_schemas import (
        FOLDER_DOC_SCHEMA,
        SCAN_DOC_SCHEMA,
        SCAN_RUN_DOC_SCHEMA,
    )

    spark = _spark()
    docs = _read_docs(spark, args.run_docs, SCAN_RUN_DOC_SCHEMA)
    scan_docs = (
        _read_docs(spark, args.scan_docs, SCAN_DOC_SCHEMA)
        if args.scan_docs
        else None
    )
    folder_docs = (
        _read_docs(spark, args.folder_docs, FOLDER_DOC_SCHEMA)
        if args.folder_docs
        else None
    )
    tables = normalize_scan_runs(
        docs, folder_docs=folder_docs, scan_docs=scan_docs, id_mode=args.id_mode
    )
    write_silver(tables, args.silver_root)
    # count the written tables: counting `tables` would re-run the whole
    # JSON-read-and-explode lineage of every table
    written = read_silver(spark, args.silver_root, names=list(tables))
    print({name: df.count() for name, df in written.items()})
    return 0


def cmd_query(args) -> int:
    from .pipeline.normalize import read_silver
    from .plans import nessus_api as api

    spark = _spark()
    tables = read_silver(spark, args.silver_root)
    if args.which == "scan-stats":
        df = api.get_scan_stats(tables, args.scan_id, args.offset)
    elif args.which == "scan-results":
        df = api.get_scan_results(tables, args.scan_id, args.offset)
    elif args.which == "folder-stats":
        df = api.get_folder_stats(tables, args.folder_id, args.offset)
    else:
        df = api.get_folder_results(
            tables, args.folder_id, args.plugin_id, args.offset
        )
    df.show(args.limit, truncate=False)
    print(f"rows: {df.count()}")
    return 0


def cmd_compact(args) -> int:
    from .pipeline.maintenance import compact_parquet

    report = compact_parquet(
        _spark(),
        args.src,
        args.dst,
        target_mb=args.target_mb,
        partition_cols=tuple(args.partition_cols or ()),
    )
    print(report)
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="nessus_client_etl_scripts_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    e = sub.add_parser("export", help="incremental export (daily-cron shape)")
    e.add_argument("--scan-docs", required=True)
    e.add_argument("--run-docs", required=True)
    e.add_argument("--lake-root", required=True)
    e.add_argument("--deployment-id", required=True)
    e.add_argument("--mode", choices=("watermark", "lookback"), default="watermark")
    e.add_argument("--lookback-days", type=int, default=30)
    e.set_defaults(fn=cmd_export)

    n = sub.add_parser("normalize", help="bronze documents → 7 silver tables")
    n.add_argument("--run-docs", required=True)
    n.add_argument("--silver-root", required=True)
    n.add_argument("--scan-docs", default=None, help="scan snapshot JSON dir")
    n.add_argument("--folder-docs", default=None, help="folder snapshot JSON dir")
    n.add_argument("--id-mode", choices=("monotonic", "hash"), default="monotonic")
    n.set_defaults(fn=cmd_normalize)

    q = sub.add_parser("query", help="the four stored-procedure analogues")
    q.add_argument("--silver-root", required=True)
    q.add_argument("--limit", type=int, default=20)
    qs = q.add_subparsers(dest="which", required=True)
    for name, needs in (
        ("scan-stats", "scan"),
        ("scan-results", "scan"),
        ("folder-stats", "folder"),
        ("folder-results", "folder"),
    ):
        s = qs.add_parser(name)
        if needs == "scan":
            s.add_argument("--scan-id", type=int, required=True)
        else:
            s.add_argument("--folder-id", type=int, required=True)
        if name == "folder-results":
            s.add_argument("--plugin-id", type=int, default=None)
        s.add_argument("--offset", type=int, default=0)
    q.set_defaults(fn=cmd_query)

    c = sub.add_parser(
        "compact", help="rewrite a parquet dataset into target-sized files"
    )
    c.add_argument("--src", required=True)
    c.add_argument("--dst", required=True)
    c.add_argument("--target-mb", type=int, default=128)
    c.add_argument("--partition-cols", nargs="*", default=None)
    c.set_defaults(fn=cmd_compact)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
