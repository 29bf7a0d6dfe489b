"""Two-way embedding materialization on a tiny in-memory schema
(category <- product -> supplier, the golden artifact's shape)."""

import pytest

from relational_to_doc_oriented_nosql_migrator_spark.plans import (
    Catalog,
    ForeignKey,
    TableMeta,
    convert_schema,
)
from relational_to_doc_oriented_nosql_migrator_spark.plans.nesting import (
    materialize,
)


@pytest.fixture(scope="module")
def setup(spark):
    category = spark.createDataFrame(
        [(1, "Beverages"), (2, "Condiments")],
        "categoryId int, categoryName string",
    )
    supplier = spark.createDataFrame(
        [(10, "Acme", "NYC"), (20, "Globex", "LA")],
        "supplierId int, companyName string, city string",
    )
    product = spark.createDataFrame(
        [
            (100, "Chai", 10, 1),
            (101, "Chang", 10, 1),
            (102, "Aniseed", 20, 2),
        ],
        "productId int, productName string, supplierId int, categoryId int",
    )
    tables = {"category": category, "supplier": supplier, "product": product}
    catalog = Catalog(
        [
            TableMeta("category", 2, ["categoryId", "categoryName"],
                      ["categoryId"], []),
            TableMeta("supplier", 2, ["supplierId", "companyName", "city"],
                      ["supplierId"], []),
            TableMeta(
                "product", 3,
                ["productId", "productName", "supplierId", "categoryId"],
                ["productId"],
                [ForeignKey("supplierId", "supplier", "supplierId"),
                 ForeignKey("categoryId", "category", "categoryId")],
            ),
        ]
    )
    plan = convert_schema(catalog)
    return materialize(tables, catalog, plan)


def test_two_way_both_endpoints(setup):
    assert set(setup) == {"category", "supplier"}


def test_denormalized_attributes(setup):
    cat = {r["categoryId"]: r for r in setup["category"].collect()}
    beverages = cat[1]
    products = beverages["product"]
    assert len(products) == 2
    first = products[0].asDict()
    # Junction attrs minus both FKs, plus supplier attrs minus supplierId.
    assert set(first) == {"productId", "productName", "companyName", "city"}
    assert first["companyName"] == "Acme"

    sup = {r["supplierId"]: r for r in setup["supplier"].collect()}
    globex = sup[20]
    prods = globex["product"]
    assert len(prods) == 1
    d = prods[0].asDict()
    assert set(d) == {"productId", "productName", "categoryName"}
    assert d["categoryName"] == "Condiments"


def test_parent_without_children_gets_null(spark):
    parent = spark.createDataFrame([(1, "a"), (2, "b")], "pid int, name string")
    child = spark.createDataFrame([(10, "x", 1)], "cid int, val string, pid int")
    tables = {"parent": parent, "child": child}
    catalog = Catalog(
        [
            TableMeta("parent", 2, ["pid", "name"], ["pid"], []),
            TableMeta("child", 1, ["cid", "val", "pid"], ["cid"],
                      [ForeignKey("pid", "parent", "pid")]),
        ]
    )
    plan = convert_schema(catalog)
    out = materialize(tables, catalog, plan)["parent"]
    rows = {r["pid"]: r for r in out.collect()}
    assert rows[1]["child"][0]["val"] == "x"
    assert rows[2]["child"] is None  # JSON writer omits the key
