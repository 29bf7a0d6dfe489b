"""Command-line entry point — the batch equivalent of the reference's
HTTP API (`POST /migration`, reference server/index.js:33-43): a SQL dump
(or a directory of parquet tables) plus an optional query log in, JSON
document collections out.

    python -m relational_to_doc_oriented_nosql_migrator_spark.cli \
        --dump northwind.sql --log queries.log --dialect mysql --out out/

Prints one JSON summary line: a run id, the output directory, the wall
seconds per stage, the log's kept statements (`statements`) and the DML
refs naming no catalog table (`unmatched_refs`), the tables the planner
referenced to keep documents under MongoDB's 16 MiB limit
(`size_referenced`) and the documents written per collection — the CLI
twin of the reference's zip download (server/WriteToFile.js:27-35) and
of the service's per-request record. A dump migrates on the driver
without Spark (dump_migration.migrate_dump_on_driver; stages `parse`,
`workload`, `plan`, `build`, `write`); parquet tables run on Spark
(stages `workload` and `plan`, both within `migrate`, and `write`).
"""

from __future__ import annotations

import argparse
import json
import sys
import uuid

from relational_to_doc_oriented_nosql_migrator_spark.dump_migration import (
    migrate_dump_on_driver,
    timed_stage,
)
from relational_to_doc_oriented_nosql_migrator_spark.sinks.documents import (
    write_documents,
)
from relational_to_doc_oriented_nosql_migrator_spark.workload import DIALECTS


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="relational_to_doc_oriented_nosql_migrator_spark",
        description="Workload-driven relational -> document migration on "
        "Spark: SQL dump or parquet tables in, JSON collections out.",
    )
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--dump", help="SQL dump file (MySQL/Postgres dialect)")
    src.add_argument(
        "--tables",
        help="directory of <table>.parquet inputs (TPC-H-style catalog)",
    )
    p.add_argument("--log", help="query log file for workload GAF/UAF stats")
    p.add_argument(
        "--dialect", default="mysql", choices=DIALECTS,
        help="query-log dialect (default mysql)",
    )
    p.add_argument("--out", required=True, help="output directory")
    p.add_argument(
        "--zip", dest="zip_path",
        help="also pack the output directory into this zip (reference "
        "results/collections.zip parity)",
    )
    p.add_argument(
        "--single-file", action="store_true",
        help="one JSON array per collection (reference byte-parity mode; "
        "with --tables it collects to the driver — small outputs only)",
    )
    p.add_argument(
        "--no-normalize-dates", action="store_true",
        help="keep raw date/timestamp values instead of the reference's "
        "yyyy-MM-dd local-time strings",
    )
    p.add_argument(
        "--master", default=None,
        help="Spark master override for --tables (default: "
        "local[$SPARK_GRAFT_CPUS])",
    )
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    stages: dict[str, float] = {}
    summary = {"id": uuid.uuid4().hex, "out": args.out, "stages": stages}
    log_content = None
    # Files are read as POST /migration reads an upload: line ends stay
    # as written (newline=""), so a raw \r inside a literal is data.
    if args.log:
        with open(args.log, encoding="utf-8", errors="replace",
                  newline="") as fh:
            log_content = fh.read()

    if args.dump:
        # A dump is parsed and migrated on the driver: no Spark session
        # starts.
        with open(args.dump, encoding="utf-8", errors="replace",
                  newline="") as fh:
            chunks, _catalog, _plan = migrate_dump_on_driver(
                fh.read(),
                log_content=log_content,
                log_dialect=args.dialect,
                normalize_dates=not args.no_normalize_dates,
                record=summary,
            )
        # the documents are built as they are written: `build` is the
        # chunks' share of the loop, `write` the rest
        with timed_stage(stages, "write"):
            summary["collections"] = write_documents(
                chunks, args.out, single_file=args.single_file,
                zip_path=args.zip_path,
            )
        stages["write"] = round(stages["write"] - stages["build"], 6)
        print(json.dumps(summary))
        return 0

    from relational_to_doc_oriented_nosql_migrator_spark.engine import (
        migrate_streamed,
    )
    from relational_to_doc_oriented_nosql_migrator_spark.session import (
        get_spark,
    )
    from relational_to_doc_oriented_nosql_migrator_spark.sinks import (
        write_json_collections,
    )

    spark = get_spark(app_name="rdnm-cli", master=args.master)
    with timed_stage(stages, "migrate"):
        collections, _streamed = migrate_streamed(
            spark,
            args.tables,
            log_content=log_content,
            log_dialect=args.dialect,
            normalize_dates=not args.no_normalize_dates,
            record=summary,
        )

    # Doc counts are write-time byproducts of the sink (an observe()
    # metric on each write job): no NDJSON re-read, no re-execution of
    # each collection's plan for a .count().
    counts: dict[str, int] = {}
    with timed_stage(stages, "write"):
        write_json_collections(
            collections,
            args.out,
            single_file=args.single_file,
            zip_path=args.zip_path,
            counts=counts,
        )
    summary["collections"] = counts
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
