"""Value-level golden parity: materialize the Northwind fixture through the
engine's nesting DAG and compare actual document VALUES against the
reference's checked-in output (collections.zip) — ALL SEVEN collections:
two-way embeds from both endpoints (category/supplier x product,
customer/shipper x salesorder, employee x employeeterritory), multi-level
nest with embed-into-embedded (region), and referencing (orderdetail).

The plan is pinned to the archived artifact rather than re-derived
(tests/northwind_golden.artifact_plan, itself checked without the
archive). Plan-structure parity is tested separately
(tests/test_planner.py); this test isolates the MATERIALIZER's document
values. Divergences
normalized per SURVEY §7.4: array order (sorted both sides), null-vs-absent
keys, date normalization disabled (golden keeps raw ISO timestamps).
"""

import pytest

from relational_to_doc_oriented_nosql_migrator_spark.engine import (
    migrate_from_dump,
)
from relational_to_doc_oriented_nosql_migrator_spark.plans import (
    northwind_catalog,
)
from relational_to_doc_oriented_nosql_migrator_spark.plans.nesting import (
    materialize,
)
from tests.northwind_golden import (
    artifact_plan,
    collections_to_docs,
    invert_golden,
    load_golden,
    normalize_doc,
    northwind_dump,
    spark_tables,
)


@pytest.fixture(scope="module")
def golden():
    return load_golden()


@pytest.fixture(scope="module")
def materialized(spark, golden):
    base = invert_golden(golden)
    tables = spark_tables(spark, base)
    catalog = northwind_catalog({k: len(v) for k, v in base.items()})
    out = materialize(tables, catalog, artifact_plan(catalog),
                      normalize_dates=False)
    return {
        name: sorted(
            (normalize_doc(r.asDict(recursive=True)) for r in df.collect()),
            key=lambda d: str(sorted(d.items())),
        )
        for name, df in out.items()
    }


def test_artifact_plan_pins_the_archived_layout():
    """The pinned plan itself, checked without the golden archive."""
    plan = artifact_plan(northwind_catalog())
    et = plan.get_collection("employee").embedded[0]
    assert et.name == "employeeterritory"
    assert "regionId" not in et.attributes
    orderdetail = plan.collections[-1]
    assert orderdetail.name == "orderdetail" and orderdetail.link is None
    assert orderdetail.attributes == [
        "orderDetailId", "orderId_REF", "productId_REF", "unitPrice",
        "quantity", "discount"]
    assert plan.get_collection("orderdetail") is orderdetail
    stack = [e for root in plan.collections for e in root.embedded]
    assert stack
    while stack:
        emb = stack.pop()
        assert emb.link is not None, emb.name
        stack.extend(emb.embedded)


def _golden_norm(docs):
    return sorted(
        (normalize_doc(d) for d in docs),
        key=lambda d: str(sorted(d.items())),
    )


def test_collection1_category_two_way_values(materialized, golden):
    assert materialized["category"] == _golden_norm(golden[1])


def test_collection4_region_multilevel_values(materialized, golden):
    assert materialized["region"] == _golden_norm(golden[4])


def test_collection7_orderdetail_referencing_values(materialized, golden):
    assert materialized["orderdetail"] == _golden_norm(golden[7])


def test_collection2_customer_two_way_salesorder_values(materialized, golden):
    assert materialized["customer"] == _golden_norm(golden[2])


def test_collection3_employee_two_way_et_values(materialized, golden):
    assert materialized["employee"] == _golden_norm(golden[3])


def test_collection5_shipper_two_way_salesorder_values(materialized, golden):
    assert materialized["shipper"] == _golden_norm(golden[5])


def test_collection6_supplier_two_way_product_values(materialized, golden):
    assert materialized["supplier"] == _golden_norm(golden[6])


def test_dump_text_parses_and_migrates(spark, tmp_path):
    """A MySQL dump generated from the fixture drives the reference's dump
    entry point end to end through the single-file JSON sink."""
    collections, _catalog, _plan = migrate_from_dump(
        spark, northwind_dump(), normalize_dates=False)
    docs = collections_to_docs(collections, str(tmp_path / "a"))
    # The normative planner fully embeds the child tables: the roots are
    # the six reference-free tables, one doc per base row.
    expected = {
        "category": 8, "customer": 91, "employee": 9,
        "region": 4, "shipper": 3, "supplier": 29,
    }
    assert {k: len(v) for k, v in docs.items()} == expected
