"""The parquet source reads each table from its footer: one layout rule
(`sources.parquet.parquet_files`), one footer read per data file for the
schema, the row count and the TIMESTAMP(NANOS) columns, and a scan with
that schema, so Spark runs neither a schema-inference nor a count job.
These tests pin the footer schema and rows to what Spark's own inference
reads, and the catalog to the footers."""

import datetime
import decimal
import os
import uuid

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from relational_to_doc_oriented_nosql_migrator_spark.engine import (
    build_testdata_catalog,
)
from relational_to_doc_oriented_nosql_migrator_spark.operators import planops
from relational_to_doc_oriented_nosql_migrator_spark.plans.catalog import (
    TPCH_FOREIGN_KEYS,
)
from relational_to_doc_oriented_nosql_migrator_spark.sources.parquet import (
    load_table,
    parquet_paths,
)
from tests.conftest import SF0001


def _type_matrix() -> pa.Table:
    return pa.table({
        "d": pa.array([datetime.date(2024, 1, 2), None], pa.date32()),
        "dec": pa.array([decimal.Decimal("1.25"), None],
                        pa.decimal128(10, 2)),
        "b": pa.array([True, None]),
        "ts_utc": pa.array([1_700_000_000_000_000, None],
                           pa.timestamp("us", tz="UTC")),
        "ts_ms": pa.array([1_700_000_000_000, None], pa.timestamp("ms")),
        "bin": pa.array([b"\x00\x01", None]),
        "li": pa.array([[1, None], None], pa.list_(pa.int32())),
        "i8": pa.array([1, None], pa.int8()),
        "i16": pa.array([2, None], pa.int16()),
        "f32": pa.array([1.5, None], pa.float32()),
        "st": pa.array([{"a": 1, "s": "x"}, None]),
        "u32": pa.array([7, None], pa.uint32()),
        "dur": pa.array([5, None], pa.duration("us")),
        "nul": pa.array([None, None], pa.null()),
    })


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    """A type matrix as a file and as a part-file directory, and a pandas
    nanosecond file."""
    d = str(tmp_path_factory.mktemp("parquet_inputs"))
    matrix = _type_matrix()
    pq.write_table(matrix, os.path.join(d, "matrix.parquet"))
    os.makedirs(os.path.join(d, "matrixdir.parquet"))
    for i in range(2):
        pq.write_table(matrix.slice(i, 1), os.path.join(
            d, "matrixdir.parquet", f"part-0000{i}.parquet"))
    pd.DataFrame({
        "id": [1, 2],
        "ts": pd.to_datetime(["2024-01-01 00:00:00.123456789",
                              "2024-06-01 12:00:00.000000001"]),
    }).to_parquet(os.path.join(d, "nanos.parquet"))
    return d


def _rows(df):
    return sorted(map(str, df.collect()))


@pytest.mark.parametrize("name", ["matrix", "matrixdir"])
def test_footer_schema_and_rows_equal_inference(spark, inputs, name):
    inferred = spark.read.parquet(os.path.join(inputs, f"{name}.parquet"))
    df = load_table(spark, inputs, name)
    assert df.schema == inferred.schema
    assert _rows(df) == _rows(inferred)


def test_nanos_file_reads_as_micros_ntz(spark, inputs):
    inferred = spark.read.parquet(os.path.join(inputs, "nanos.parquet"))
    expected = inferred.withColumn(
        "ts", F.expr("timestamp_micros(ts div 1000)").cast("timestamp_ntz"))
    df = load_table(spark, inputs, "nanos")
    assert df.schema == expected.schema
    assert _rows(df) == _rows(expected)
    assert df.orderBy("id").first()["ts"] == datetime.datetime(
        2024, 1, 1, 0, 0, 0, 123456)


def test_spark_written_int96_timestamps_read_as_timestamp(spark, tmp_path):
    # Spark writes TimestampType as INT96, which arrow reports as
    # timestamp[ns]; it is a timestamp, not a nanosecond long.
    d = str(tmp_path)
    spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 1, 12))], "id int, ts timestamp"
    ).coalesce(1).write.parquet(os.path.join(d, "t.parquet"))
    inferred = spark.read.parquet(os.path.join(d, "t.parquet"))
    df = load_table(spark, d, "t")
    assert df.schema == inferred.schema
    assert _rows(df) == _rows(inferred)


@pytest.fixture(scope="module")
def part_dir_copy(tmp_path_factory):
    """sf0.001 with every table as a directory of two part files: the
    layout Spark and tools/gen_scale_data.py write."""
    d = str(tmp_path_factory.mktemp("sf0001_parts"))
    for name in TPCH_FOREIGN_KEYS:
        table = pq.read_table(os.path.join(SF0001, f"{name}.parquet"))
        os.makedirs(os.path.join(d, f"{name}.parquet"))
        half = table.num_rows // 2
        for i, part in enumerate((table.slice(0, half), table.slice(half))):
            pq.write_table(part, os.path.join(
                d, f"{name}.parquet", f"part-0000{i}.parquet"))
    return d


def test_catalog_on_part_file_directories_runs_no_job(spark, part_dir_copy):
    sc = spark.sparkContext
    group = f"catalog-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "build_testdata_catalog")
    try:
        catalog, tables = build_testdata_catalog(spark, part_dir_copy)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == []
    for name in TPCH_FOREIGN_KEYS:
        paths = parquet_paths(part_dir_copy, name)
        assert len(paths) == 2
        assert catalog.get_table(name).num_rows == sum(
            pq.read_metadata(p).num_rows for p in paths)
        assert catalog.get_table(name).columns == tables[name].columns
    assert catalog.get_table("lineitem").num_rows == 6000


def test_planner_scenario_catalog_is_the_engine_catalog(spark):
    engine_catalog, _tables = build_testdata_catalog(spark, SF0001)
    scenario = planops._scenarios(SF0001)["tpch"]
    assert list(scenario.tables.values()) == list(
        engine_catalog.tables.values())


def test_column_bytes_counts_timestamps_as_the_sink_writes_them(tmp_path):
    """A timestamp counts at its width under --no-normalize-dates, the
    wider of its two renderings; a date at its quoted yyyy-MM-dd. One
    repeated value is dictionary-encoded, so the values' width, not the
    chunk's size, decides."""
    from relational_to_doc_oriented_nosql_migrator_spark.sources.parquet import (
        _column_bytes,
    )

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({
        "ts": pa.array([datetime.datetime(1998, 6, 22)] * 10_000,
                       pa.timestamp("us")),
        "d": pa.array([datetime.date(1998, 6, 22)] * 10_000, pa.date32()),
    }), path)
    widths = _column_bytes([pq.read_metadata(path)])
    assert widths == {"ts": 10_000 * len('"1998-06-22T00:00:00.000"'),
                      "d": 10_000 * len('"1998-06-22"')}
