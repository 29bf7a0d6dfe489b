"""End-to-end migration pipeline (the reference's `migrate`, Spark-first).

Reference lifecycle (server/DBMigration.js:14-182):
  load dump -> introspect schema -> workload stats from query log ->
  convert schema (embed/reference planning) -> materialize nested docs ->
  write JSON collections.

Here: parquet tables + out-of-band FK metadata -> optional query-log
workload -> driver-side planning (plans/planner.py) -> Catalyst-executed
nesting DAG (plans/nesting.py) -> JSON sink (sinks/). A SQL dump, already
Python columns on the driver, takes the same catalog -> workload -> plan
steps and then the driver-side document builder (plans/documents.py) in
dump_migration.py, which starts no Spark session.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from relational_to_doc_oriented_nosql_migrator_spark.plans import (
    Catalog,
    convert_schema,
)
from relational_to_doc_oriented_nosql_migrator_spark.plans.nesting import (
    materialize,
)
from relational_to_doc_oriented_nosql_migrator_spark.sources.parquet import (
    parquet_catalog,
    scan,
)
from relational_to_doc_oriented_nosql_migrator_spark import workload as workload_mod
from relational_to_doc_oriented_nosql_migrator_spark.dump_migration import (
    timed_stage,
)


def build_testdata_catalog(
    spark: SparkSession, sf_dir: str
) -> tuple[Catalog, dict[str, DataFrame]]:
    """Catalog and lazy frames for a directory of parquet tables, both
    from the parquet footers (sources.parquet.parquet_catalog): no Spark job
    runs, neither to infer a schema nor to count rows (`agg_count_star`
    remains the query-surface equivalent)."""
    catalog, footers = parquet_catalog(sf_dir)
    return catalog, {name: scan(spark, t) for name, t in footers.items()}


def _plan_and_materialize(
    tables: dict[str, DataFrame],
    catalog: Catalog,
    log_content: str | None,
    log_dialect: str,
    normalize_dates: bool,
    record: dict | None = None,
):
    """The tail every source shares: fold the query log into the catalog,
    plan, and build the nested collections. Returns (plan, collections).
    record, when given, receives the wall seconds of `workload` and
    `plan` (in `stages`), the log's `statements` and `unmatched_refs` and
    the planner's `size_referenced`. The calls resolve `convert_schema`,
    `materialize` and `workload_mod.apply_workload` as module attributes
    at call time, so a tracer that patches those names
    (perfbench/spans.py) sees each call."""
    stages = None if record is None else record.setdefault("stages", {})
    with timed_stage(stages, "workload"):
        counts = workload_mod.apply_workload(catalog, log_content,
                                             log_dialect)
    with timed_stage(stages, "plan"):
        plan = convert_schema(catalog)
    if record is not None:
        record.update(counts, size_referenced=plan.size_referenced)
    return plan, materialize(tables, catalog, plan,
                             normalize_dates=normalize_dates)


def migrate(
    spark: SparkSession,
    sf_dir: str,
    log_content: str | None = None,
    log_dialect: str = "mysql",
    normalize_dates: bool = True,
    record: dict | None = None,
) -> dict[str, DataFrame]:
    """Full pipeline: returns {root collection name: nested DataFrame}.
    record, when given, receives what _plan_and_materialize puts in it."""
    catalog, tables = build_testdata_catalog(spark, sf_dir)
    _plan, collections = _plan_and_materialize(
        tables, catalog, log_content, log_dialect, normalize_dates, record)
    return collections


def migrate_streamed(spark: SparkSession, sf_dir: str, **kwargs):
    """(migrate(spark, sf_dir, **kwargs), {}): the CLI's entry, kept for
    perfbench/spans.py, which traces this name, nests its noop execution
    of the collections inside it and skips the collections named in the
    second element (none: one nesting path serves every input)."""
    return migrate(spark, sf_dir, **kwargs), {}


def migrate_from_dump(
    spark: SparkSession,
    sql_text: str,
    log_content: str | None = None,
    log_dialect: str = "mysql",
    normalize_dates: bool = True,
):
    """The reference's actual entry point (`POST /migration`, reference
    server/index.js:33-43 -> DBMigration.migrate): a SQL dump plus an
    optional query log in, nested document collections out. Schema, FK
    graph, and row counts come from the dump itself (sources/sqldump.py);
    the query log folds GAF/UAF workload stats into the embed-vs-reference
    decision exactly as the parquet path does. Returns (collections,
    catalog, plan), like dump_migration.migrate_dump_on_driver."""
    from relational_to_doc_oriented_nosql_migrator_spark.sources.sqldump import (
        import_sql_dump,
    )

    _db, tables, catalog = import_sql_dump(spark, sql_text)
    plan, collections = _plan_and_materialize(
        tables, catalog, log_content, log_dialect, normalize_dates)
    return collections, catalog, plan
