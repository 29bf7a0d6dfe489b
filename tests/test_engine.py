"""End-to-end engine tests on the sf0.001 testdata."""

import pyspark.sql.types as T
import pytest

from relational_to_doc_oriented_nosql_migrator_spark.engine import migrate

from tests.conftest import SF0001


@pytest.fixture(scope="module")
def collections(spark):
    return migrate(spark, SF0001)


def test_root_collections(collections):
    assert set(collections) == {"region", "part", "events", "documents",
                                "embeddings", "lineitem"}


def test_multilevel_nesting_schema(collections):
    region = collections["region"]
    schema = region.schema
    assert [f.name for f in schema.fields] == ["r_regionkey", "r_name",
                                               "nation"]
    nation_type = schema["nation"].dataType
    assert isinstance(nation_type, T.ArrayType)
    nation_struct = nation_type.elementType
    names = [f.name for f in nation_struct.fields]
    assert names == ["n_nationkey", "n_name", "customer", "supplier"]
    customer_struct = nation_struct["customer"].dataType.elementType
    assert [f.name for f in customer_struct.fields] == [
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment", "orders",
    ]


def test_nested_counts_match_flat(spark, collections):
    region = collections["region"].cache()
    assert region.count() == 5
    from pyspark.sql import functions as F

    exploded = (
        region.select(F.explode("nation").alias("n"))
        .select(F.explode("n.customer").alias("c"))
        .select(F.explode(F.coalesce("c.orders", F.array())).alias("o"))
    )
    orders = spark.read.parquet(f"{SF0001}/orders.parquet")
    # Every order whose customer exists lands in exactly one nested array.
    customer = spark.read.parquet(f"{SF0001}/customer.parquet")
    expected = orders.join(
        customer, orders.o_custkey == customer.c_custkey, "inner"
    ).count()
    assert exploded.count() == expected


def test_referencing_collection_renames(collections):
    lineitem = collections["lineitem"]
    cols = lineitem.columns
    assert "l_orderkey_REF" in cols and "l_partkey_REF" in cols
    assert "l_orderkey" not in cols
    assert lineitem.count() == 6000


def test_date_normalization(collections):
    region = collections["region"]
    from pyspark.sql import functions as F

    row = (
        region.select(F.explode("nation").alias("n"))
        .select(F.explode("n.customer").alias("c"))
        .select(F.explode("c.orders").alias("o"))
        .select("o.o_orderdate")
        .first()
    )
    assert isinstance(row["o_orderdate"], str)
    assert len(row["o_orderdate"]) == 10  # yyyy-MM-dd


def test_materialize_drops_null_docs_and_bangkok_dates(spark):
    """Tiny in-memory dept <- emp catalog through the real planner and
    materializer: a root row whose mapped attributes are all NULL yields
    no document, and timestamps render as Asia/Bangkok dates (18:30 UTC
    on Jan 1 is already Jan 2 in UTC+7) at the root and in embedded
    arrays alike, and through functions.date_normalize."""
    import json

    from relational_to_doc_oriented_nosql_migrator_spark.functions import (
        date_normalize,
    )
    from relational_to_doc_oriented_nosql_migrator_spark.plans import (
        Catalog,
        ForeignKey,
        TableMeta,
        convert_schema,
        materialize,
    )

    dept = spark.sql(
        "SELECT * FROM VALUES"
        " (1, 'Sales', TIMESTAMP '2024-01-01 18:30:00'),"
        " (2, 'Ops', TIMESTAMP '2024-01-01 10:00:00'),"
        " (CAST(NULL AS INT), CAST(NULL AS STRING), CAST(NULL AS TIMESTAMP))"
        " AS t(deptId, deptName, founded)"
    )
    emp = spark.sql(
        "SELECT * FROM VALUES"
        " (10, 'Ann', TIMESTAMP '2024-01-01 18:30:00', 1),"
        " (11, 'Bob', TIMESTAMP '2024-01-01 16:59:59', 1)"
        " AS t(empId, empName, hired, deptId)"
    )
    catalog = Catalog([
        TableMeta("dept", 3, ["deptId", "deptName", "founded"], ["deptId"]),
        TableMeta("emp", 2, ["empId", "empName", "hired", "deptId"],
                  ["empId"], [ForeignKey("deptId", "dept", "deptId")]),
    ])
    out = materialize({"dept": dept, "emp": emp}, catalog,
                      convert_schema(catalog))

    assert set(out) == {"dept"}
    docs = sorted((json.loads(j) for j in out["dept"].toJSON().collect()),
                  key=lambda d: d["deptId"])
    assert docs == [
        {"deptId": 1, "deptName": "Sales", "founded": "2024-01-02",
         "emp": [{"empId": 10, "empName": "Ann", "hired": "2024-01-02"},
                 {"empId": 11, "empName": "Bob", "hired": "2024-01-01"}]},
        {"deptId": 2, "deptName": "Ops", "founded": "2024-01-01"},
    ]
    ts = spark.sql("SELECT TIMESTAMP '2024-01-01 18:30:00' AS ts")
    assert ts.select(date_normalize("ts")).first()[0] == "2024-01-02"


def test_schema_templates():
    """Client-parity skeletons (reference NoSqlCollection.js:14-29): empty
    strings for scalars, one-element arrays for embedded collections,
    nested to full depth."""
    from relational_to_doc_oriented_nosql_migrator_spark.functions import (
        document_template,
    )
    from relational_to_doc_oriented_nosql_migrator_spark.plans import (
        convert_schema,
    )
    from relational_to_doc_oriented_nosql_migrator_spark.sources import (
        parquet_catalog,
    )

    plan = convert_schema(parquet_catalog(SF0001)[0])
    region = document_template(
        next(c for c in plan.collections if c.name == "region"))
    assert region["r_name"] == ""
    nation = region["nation"][0]
    assert nation["n_name"] == ""
    customer = nation["customer"][0]
    assert isinstance(customer["orders"], list)
    assert customer["orders"][0]["o_orderkey"] == ""


def test_hot_workload_flips_design(spark):
    """A write-heavy query log must flip hot tables from embedding to
    referencing through the REAL pipeline (log parse -> gaf/uaf -> maf ->
    plan -> materialize), reproducing reference DBMigration.js:354-386."""
    log = "\n".join(
        f"240807 10:15:{i:02d}\t   42 Query\tUPDATE orders SET"
        f" o_orderstatus = 'F' WHERE o_orderkey = {i}"
        for i in range(10)
    ) + "\n"
    collections = migrate(spark, SF0001, log_content=log)
    # orders: uaf >> maf -> referencing root with *_REF renames.
    assert "orders" in collections
    assert "o_custkey_REF" in collections["orders"].columns
    # customer is referenced by hot orders -> also a referencing root, and
    # the region tree no longer embeds it.
    assert "customer" in collections
    assert "c_nationkey_REF" in collections["customer"].columns
    region_fields = collections["region"].schema.simpleString()
    assert "customer" not in region_fields
