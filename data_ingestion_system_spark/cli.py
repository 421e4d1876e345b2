"""Command-line entry points — the engine's analog of the reference's
three CLIs (SURVEY.md §3): `src.database.cli` (query/stats/search),
`src.ingestion.cli` (continuous/one-shot ingestion), `src.labeling.cli`
(export). One module, argparse subcommands, JSONL to stdout.

    python -m data_ingestion_system_spark.cli query --returnflag R --limit 5
    python -m data_ingestion_system_spark.cli stats
    python -m data_ingestion_system_spark.cli search --phrase "spark join"
    python -m data_ingestion_system_spark.cli run --name app_stats
    python -m data_ingestion_system_spark.cli ingest --source DIR --workdir DIR
    python -m data_ingestion_system_spark.cli export --out DIR
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _json_default(o):
    return str(o)


def _emit(df, limit: int | None = None) -> None:
    # `limit is not None`: --limit 0 means zero rows, not unlimited
    rows = df.limit(limit).collect() if limit is not None else df.collect()
    for r in rows:
        print(json.dumps(r.asDict(recursive=True), default=_json_default))


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="data_ingestion_system_spark")
    p.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    sub = p.add_subparsers(dest="cmd", required=True)

    q = sub.add_parser("query", help="dynamic filtered lineitem query (P1)")
    q.add_argument("--returnflag")
    q.add_argument("--min-quantity", type=float)
    q.add_argument("--max-quantity", type=float)
    q.add_argument(
        "--has-discount",
        action=argparse.BooleanOptionalAction,
        default=None,
        help="tri-state: --has-discount / --no-has-discount / absent",
    )
    q.add_argument("--min-price", type=float)
    q.add_argument("--limit", type=int, default=20)
    q.add_argument("--offset", type=int, default=0)

    sub.add_parser("stats", help="flagship per-group stats (A1)")

    s = sub.add_parser("search", help="inverted-index phrase search (P5)")
    s.add_argument("--phrase", required=True)
    s.add_argument("--limit", type=int, default=20)

    r = sub.add_parser("run", help="run any registered catalog query")
    r.add_argument("--name", required=True)
    r.add_argument("--limit", type=int, default=100)

    i = sub.add_parser("ingest", help="one-shot dedup ingestion over a landing dir (T1-T5)")
    i.add_argument("--source", required=True)
    i.add_argument("--workdir", required=True)
    i.add_argument("--key", default="event_id")

    e = sub.add_parser("export", help="stratified training-data export (M3/S11-S13)")
    e.add_argument("--out", required=True)

    lp = sub.add_parser(
        "label-populate", help="seed the labeling queue from the review fixture (M6)"
    )
    lp.add_argument("--workdir", required=True)
    lp.add_argument("--quota", type=int, default=10, help="per-tier quota")
    lp.add_argument("--reviews", type=int, default=2000, help="fixture size")

    ls = sub.add_parser(
        "label-session",
        help="interactive labeling session over the queue (session.py parity); "
        "commands on stdin: '<sentiment> [confidence] [notes]' | skip | quit",
    )
    ls.add_argument("--workdir", required=True)
    ls.add_argument("--annotator", required=True)
    ls.add_argument("--batch-size", type=int, default=5)
    ls.add_argument("--reviews", type=int, default=2000)

    args = p.parse_args(argv)

    from data_ingestion_system_spark.registry import load_all
    from data_ingestion_system_spark.session import get_spark
    from data_ingestion_system_spark.tables import has_parquet, load_table

    # a mistyped query name fails before the JVM starts, not after
    if args.cmd == "run" and args.name not in load_all():
        print(f"unknown query {args.name!r}; known: {sorted(load_all())}", file=sys.stderr)
        return 2

    spark = get_spark(app_name=f"dis-cli-{args.cmd}")
    spark.sparkContext.setLogLevel("ERROR")

    if args.cmd == "query":
        from data_ingestion_system_spark.operators.filters import get_lineitems

        li = load_table(spark, args.sf_dir, "lineitem")
        _emit(
            get_lineitems(
                li,
                returnflag=args.returnflag,
                min_quantity=args.min_quantity,
                max_quantity=args.max_quantity,
                has_discount=args.has_discount,
                min_price=args.min_price,
                limit=args.limit,
                offset=args.offset,
            )
        )
    elif args.cmd == "stats":
        _emit(load_all()["app_stats"].spark(spark, args.sf_dir))
    elif args.cmd == "search":
        from data_ingestion_system_spark.text.search import build_postings, phrase_search

        docs = load_table(spark, args.sf_dir, "documents")
        result = phrase_search(docs, build_postings(docs), args.phrase)
        _emit(result.orderBy("doc_id"), args.limit)
    elif args.cmd == "run":
        _emit(load_all()[args.name].spark(spark, args.sf_dir), args.limit)
    elif args.cmd == "ingest":
        from data_ingestion_system_spark.schemas import TESTDATA_SCHEMAS
        from data_ingestion_system_spark.streaming.ingest import IngestPaths, run_file_ingestion

        paths = IngestPaths(
            source_dir=args.source,
            target_dir=os.path.join(args.workdir, "target"),
            audit_dir=os.path.join(args.workdir, "audit"),
            provenance_dir=os.path.join(args.workdir, "provenance"),
            checkpoint_dir=os.path.join(args.workdir, "checkpoint"),
        )
        run_file_ingestion(spark, paths, TESTDATA_SCHEMAS["events"], key_col=args.key)
        if has_parquet(paths.audit_dir):
            _emit(spark.read.parquet(paths.audit_dir).orderBy("batch_id"))
        else:  # empty landing dir: zero batches ran — report, don't crash
            print(json.dumps({"batches": 0, "fetched": 0, "inserted": 0}))
    elif args.cmd == "export":
        from pyspark.sql import functions as F

        from data_ingestion_system_spark.operators.sampling import assign_split
        from data_ingestion_system_spark.sources.filesinks import export_training_data

        docs = load_table(spark, args.sf_dir, "documents").select(
            "doc_id", "text", F.col("lang").alias("label")
        )
        meta = export_training_data(
            assign_split(docs, class_col="label", key_col="doc_id"), args.out, label_col="label"
        )
        print(json.dumps(meta, sort_keys=True))
    elif args.cmd == "label-populate":
        from data_ingestion_system_spark.fixtures import generate_reviews
        from data_ingestion_system_spark.labeling_session import populate_queue

        n = populate_queue(
            spark,
            generate_reviews(spark, args.reviews),
            args.workdir,
            {t: args.quota for t in (1, 2, 3, 4)},
        )
        print(json.dumps({"queued": n}))
    elif args.cmd == "label-session":
        from data_ingestion_system_spark.fixtures import generate_reviews
        from data_ingestion_system_spark.labeling_session import run_session

        try:
            summary = run_session(
                spark,
                args.workdir,
                generate_reviews(spark, args.reviews),
                args.annotator,
                args.batch_size,
                commands=sys.stdin,
            )
        except ValueError as e:
            # a mistyped command is user error, not an engine crash: no
            # traceback, clean exit code; the item stays 'assigned' and
            # the next session's abandoned-reset reclaims it
            print(f"error: {e}", file=sys.stderr)
            return 2
        print(json.dumps(summary, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
