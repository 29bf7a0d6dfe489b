"""Parquet sources (operator `src_full_scan`, SURVEY §2.1).

The reference's `getAllDatas` is `SELECT * FROM t` shipped over TCP per call
(reference server/MySQLDBManager.js:254-282). Here a "full scan" is a lazy
parquet DataFrame: Catalyst prunes columns and pushes predicates into the
scan, so downstream operators never pay for `SELECT *` unless they use it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Relational star schema (FK graph in plans/catalog.py).
TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
)
# Extension tables for stream/text/vector operators.
ALL_TABLES = TPCH_TABLES + ("events", "documents", "embeddings")


def ensure_runtime_confs(spark: SparkSession) -> None:
    """Runtime confs the engine depends on, set here (not only in our session
    factory) because the driver calls `entry()`/`queries()` with its own
    vanilla SparkSession:

    - nanosAsLong: the testdata stores TIMESTAMP(NANOS), which Spark 4.1
      reads as correct TIMESTAMP_NTZ under this flag and rejects outright
      without it.
    - AQE + partition coalescing: the nesting DAG chains several joins and
      groupBys; with a static 200-partition shuffle on a vanilla session the
      task count dwarfs the data at small SF and under-parallelizes at large
      SF. AQE right-sizes every exchange at runtime.
    - InferFiltersFromGenerate excluded: the rule infers a
      `size(arr) > 0` filter below every explode, and predicate pushdown
      then SUBSTITUTES the generator's full expression tree into that
      filter down at the scan — for the shingle/token explodes this
      re-evaluates tokenize+shingle per row at the scan, with the
      split() inlined INSIDE the transform() lambda, i.e. re-tokenizing
      once per shingle position (interpreted, no common-subexpression
      elimination inside lambdas). Measured on the 100x dataset:
      dedup_dup_rate 515s -> 37s from this exclusion alone. The inferred
      filter only pre-skips rows whose exploded array is empty — the
      Generate drops those rows anyway, so plans are value-identical.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    # APPEND to any exclusions the embedding application already set —
    # this runs on every table load, so a blind overwrite would
    # permanently clobber user-configured rule exclusions (r05 ADVICE).
    _infer = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    _existing = [
        r.strip()
        for r in (spark.conf.get("spark.sql.optimizer.excludedRules", "")
                  or "").split(",")
        if r.strip()
    ]
    if _infer not in _existing:
        spark.conf.set(
            "spark.sql.optimizer.excludedRules",
            ",".join(_existing + [_infer]),
        )
    # Timestamp semantics must not depend on the driver machine's zone.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Huge-method codegen fallback for JVMs without the factory's JIT
    # flag (see session.ensure_codegen_confs) — hooked here, the one
    # conf site every path that reads a table crosses (registry ops via
    # operators.common.t, the migrate/entry pipeline via load_tables).
    from relational_to_doc_oriented_nosql_migrator_spark.session import (
        ensure_codegen_confs,
    )

    ensure_codegen_confs(spark)


def _nanos_timestamp_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS): under nanosAsLong Spark
    surfaces them as LONG nanos-since-epoch; detect from the footer so we
    can restore proper (micros) timestamps. ms/us timestamp columns are
    unaffected and read natively.

    Accepts a single file, a directory of part files (the production
    layout), or a glob — the footer is read from the first data file."""
    try:
        import glob as _glob
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq

        if os.path.isdir(path):
            candidates = sorted(
                p
                for p in _glob.glob(os.path.join(path, "**", "*"),
                                    recursive=True)
                if os.path.isfile(p) and not os.path.basename(p).startswith(
                    ("_", ".")
                )
            )
        elif any(ch in path for ch in "*?["):
            candidates = sorted(_glob.glob(path))
        else:
            candidates = [path]
        if not candidates:
            return []
        schema = pq.read_schema(candidates[0])
        return [
            f.name
            for f in schema
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
        ]
    except Exception:
        return []


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """`src_full_scan`: lazy full-table scan of one parquet table."""
    ensure_runtime_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    for col in _nanos_timestamp_columns(path):
        # long nanos -> micros TIMESTAMP_NTZ (naive, like the source data
        # and the DuckDB oracle, which truncates nanos to micros the same
        # way). Session tz is pinned UTC so the LTZ->NTZ cast is identity.
        df = df.withColumn(
            col,
            F.expr(f"timestamp_micros({col} div 1000)").cast("timestamp_ntz"),
        )
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = ALL_TABLES
) -> dict[str, DataFrame]:
    """Load all tables concurrently: each spark.read.parquet is a driver
    round trip for schema discovery (~250ms), so a serial loop costs
    len(names) x that latency before any query runs."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(8, len(names))) as pool:
        futures = {
            name: pool.submit(load_table, spark, sf_dir, name)
            for name in names
        }
        return {name: f.result() for name, f in futures.items()}

