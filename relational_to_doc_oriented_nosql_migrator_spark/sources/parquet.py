"""Parquet sources (operator `src_full_scan`, SURVEY §2.1).

The reference's `getAllDatas` is `SELECT * FROM t` shipped over TCP per call
(reference server/MySQLDBManager.js:254-282). Here a "full scan" is a lazy
parquet DataFrame: Catalyst prunes columns and pushes predicates into the
scan, so downstream operators never pay for `SELECT *` unless they use it.

This module owns a parquet table. Like the reference, which reads table
metadata from INFORMATION_SCHEMA (server/DBMigration.js:30-91), it never
scans data to learn a schema: one footer read per data file gives the
Spark schema, the row count and the TIMESTAMP(NANOS) columns, and the
scan is built with that schema, so Spark runs no inference or count job.
"""

from __future__ import annotations

import datetime as _dt
import glob
import os
from typing import NamedTuple

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_type

from relational_to_doc_oriented_nosql_migrator_spark.plans.catalog import (
    TPCH_FOREIGN_KEYS,
    Catalog,
    tpch_catalog,
)


def ensure_runtime_confs(spark: SparkSession) -> None:
    """Runtime confs the engine depends on, set here (not only in our session
    factory) because the driver calls `entry()`/`queries()` with its own
    vanilla SparkSession:

    - nanosAsLong: parquet TIMESTAMP(NANOS) (pandas' default, and the
      encoding of early testdata) reads as long nanos under this flag,
      which `scan` turns into micros TIMESTAMP_NTZ; Spark 4.1 rejects the
      column outright without it.
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
    # operators.common.t, the migrate/entry pipeline via scan).
    from relational_to_doc_oriented_nosql_migrator_spark.session import (
        ensure_codegen_confs,
    )

    ensure_codegen_confs(spark)


def parquet_files(path: str) -> list[str]:
    """The data files behind a parquet path: a file, a directory of
    part-*.parquet files (the layout Spark and the scale generator
    write), or a glob over either. The one copy of this layout rule.
    Raises FileNotFoundError when there are none."""
    files: list[str] = []
    for p in sorted(glob.glob(path)):
        files += (sorted(glob.glob(os.path.join(p, "*.parquet")))
                  if os.path.isdir(p) else [p])
    if not files:
        raise FileNotFoundError(
            f"no parquet at {path} (expected a file, a directory of"
            " part-*.parquet files, or a glob over either)"
        )
    return files


def _table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def parquet_paths(sf_dir: str, name: str) -> list[str]:
    """Data files of table `name` under `sf_dir` (see parquet_files)."""
    return parquet_files(_table_path(sf_dir, name))


# Spark's parquet reader widens unsigned integers, and reads arrow's
# all-null type (stored as INT32) as int.
_READ_AS = {
    pa.uint8(): T.ShortType(),
    pa.uint16(): T.IntegerType(),
    pa.uint32(): T.LongType(),
    pa.uint64(): T.DecimalType(20, 0),
    pa.null(): T.IntegerType(),
}


def _read_type(at: pa.DataType) -> T.DataType:
    """The type Spark's parquet reader gives an arrow footer type, with
    every field nullable at every depth, as Spark reads a file."""
    if pa.types.is_duration(at) or (
            pa.types.is_timestamp(at) and at.unit == "ns"):
        # TIMESTAMP(NANOS) under nanosAsLong; a duration is arrow's own
        # type over a plain INT64.
        return T.LongType()
    if pa.types.is_struct(at):
        return T.StructType(
            [T.StructField(f.name, _read_type(f.type)) for f in at])
    if (pa.types.is_list(at) or pa.types.is_large_list(at)
            or pa.types.is_fixed_size_list(at)):
        return T.ArrayType(_read_type(at.value_type))
    if pa.types.is_map(at):
        return T.MapType(_read_type(at.key_type), _read_type(at.item_type))
    return _READ_AS.get(at) or from_arrow_type(at, prefer_timestamp_ntz=True)


class ParquetTable(NamedTuple):
    """What one footer read tells about a parquet table."""

    path: str  # what the reader is given: file, directory or glob
    schema: T.StructType  # Spark's read schema (nanos columns as long)
    num_rows: int  # summed over the part files
    nanos_columns: tuple[str, ...]  # top-level TIMESTAMP(NANOS) columns
    # top-level column -> its values' bytes, summed over the part files'
    # row groups (see _column_bytes)
    column_bytes: dict[str, int]


def footer_schema(md: pq.FileMetaData) -> tuple[T.StructType, tuple[str, ...]]:
    """(Spark read schema, top-level TIMESTAMP(NANOS) columns) of one
    parquet footer. INT96 (the legacy timestamp Spark itself writes)
    surfaces in arrow as timestamp[ns] but reads as TIMESTAMP."""
    int96 = {
        md.schema.column(i).path for i in range(md.num_columns)
        if md.schema.column(i).physical_type == "INT96"
    }
    fields, nanos = [], []
    for f in md.schema.to_arrow_schema():
        if f.name in int96:
            fields.append(T.StructField(f.name, T.TimestampType()))
            continue
        fields.append(T.StructField(f.name, _read_type(f.type)))
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns":
            nanos.append(f.name)
    return T.StructType(fields), tuple(nanos)


def _value_width(stats: pq.Statistics) -> float:
    """JSON bytes of a typical value of a column chunk, from its
    statistics' extremes: a string's mean length plus its quotes, a date
    as its quoted `yyyy-MM-dd`, a timestamp as the sink writes it under
    --no-normalize-dates (`"1998-06-22T00:00:00.000"`, the wider of its
    renderings), any other value as the wider of the two."""
    lo, hi = stats.min, stats.max
    if isinstance(lo, (str, bytes)):
        return (len(lo) + len(hi)) / 2 + 2
    if isinstance(lo, _dt.datetime):
        return 25
    if isinstance(lo, _dt.date):
        return 12
    return max(len(str(lo)), len(str(hi)))


def _column_bytes(metas: list[pq.FileMetaData]) -> dict[str, int]:
    """Each top-level column's value bytes, summed over every row group
    of every footer: the width the planner's document size rule reads
    (plans/planner.py). A chunk counts the larger of its
    `total_uncompressed_size` and its non-null values times the width
    of its statistics' extremes: a dictionary-encoded chunk stores each
    repeated value once, so its size alone undercounts the text."""
    out: dict[str, int] = {}
    for md in metas:
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for j in range(rg.num_columns):
                chunk = rg.column(j)
                size = chunk.total_uncompressed_size
                stats = chunk.statistics
                if stats is not None and stats.has_min_max:
                    size = max(size, (stats.num_values - stats.null_count)
                               * _value_width(stats))
                name = chunk.path_in_schema.split(".", 1)[0]
                out[name] = out.get(name, 0) + int(size)
    return out


def read_footer(sf_dir: str, name: str) -> ParquetTable:
    """Table `name` under `sf_dir` from one footer read per data file (see
    parquet_files): the schema from the first, the row count and column
    widths summed over all. No Spark job."""
    path = _table_path(sf_dir, name)
    metas = [pq.read_metadata(f) for f in parquet_files(path)]
    schema, nanos = footer_schema(metas[0])
    return ParquetTable(path, schema, sum(m.num_rows for m in metas), nanos,
                        _column_bytes(metas))


def scan(spark: SparkSession, table: ParquetTable) -> DataFrame:
    """Lazy scan of `table` with its footer schema, so Spark runs no
    schema-inference job. TIMESTAMP(NANOS) columns (long nanos under
    nanosAsLong) become micros TIMESTAMP_NTZ: naive, like the source data
    and the DuckDB oracle, which truncates nanos to micros the same way.
    The session time zone is pinned to UTC, so the LTZ->NTZ cast is the
    identity."""
    ensure_runtime_confs(spark)
    df = spark.read.schema(table.schema).parquet(table.path)
    for col in table.nanos_columns:
        df = df.withColumn(
            col,
            F.expr(f"timestamp_micros({col} div 1000)").cast("timestamp_ntz"),
        )
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """`src_full_scan`: lazy full-table scan of one parquet table, typed
    from its footer (no Spark job)."""
    return scan(spark, read_footer(sf_dir, name))


def parquet_catalog(sf_dir: str) -> tuple[Catalog, dict[str, ParquetTable]]:
    """The catalog of every table of plans/catalog.py's TPCH_FOREIGN_KEYS
    under `sf_dir`, and each table's footer: columns, row counts and
    column widths from one footer read per data file, no Spark job; the
    FK graph from plans/catalog.py."""
    footers = {
        name: read_footer(sf_dir, name) for name in TPCH_FOREIGN_KEYS
    }
    catalog = tpch_catalog(
        {name: t.schema.names for name, t in footers.items()},
        {name: t.num_rows for name, t in footers.items()},
        {name: t.column_bytes for name, t in footers.items()},
    )
    return catalog, footers
