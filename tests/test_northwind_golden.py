"""Value-level golden parity: materialize the Northwind fixture through the
engine's nesting DAG and compare actual document VALUES against the
reference's checked-in output (collections.zip) — ALL SEVEN collections:
two-way embeds from both endpoints (category/supplier x product,
customer/shipper x salesorder, employee x employeeterritory), multi-level
nest with embed-into-embedded (region), and referencing (orderdetail).

The plan is pinned to the archived artifact rather than re-derived: the
archived run had orderdetail update-hot WITHOUT the normative parent-chain
flip (salesorder/product stayed embedded — FIXTURES.md §1.2 quirk notes),
so the normative planner cannot reproduce the artifact's exact collection
set. Plan-structure parity is tested separately (tests/test_planner.py);
this test isolates the MATERIALIZER's document values. Divergences
normalized per SURVEY §7.4: array order (sorted both sides), null-vs-absent
keys, date normalization disabled (golden keeps raw ISO timestamps).
"""

import pytest

from relational_to_doc_oriented_nosql_migrator_spark.engine import (
    migrate_from_dump,
)
from relational_to_doc_oriented_nosql_migrator_spark.plans import (
    Collection,
    NoSQLPlan,
    convert_schema,
    northwind_catalog,
)
from relational_to_doc_oriented_nosql_migrator_spark.plans.nesting import (
    materialize,
)
from tests.northwind_golden import (
    collections_to_docs,
    invert_golden,
    load_golden,
    normalize_doc,
    northwind_dump,
    spark_tables,
)


def _prune(col: Collection, name: str) -> None:
    """Remove an embedded collection (artifact divergence pinning)."""
    col.embedded = [c for c in col.embedded if c.name != name]
    for c in col.embedded:
        _prune(c, name)


@pytest.fixture(scope="module")
def golden():
    return load_golden()


@pytest.fixture(scope="module")
def materialized(spark, golden):
    base = invert_golden(golden)
    tables = spark_tables(spark, base)
    catalog = northwind_catalog({k: len(v) for k, v in base.items()})

    idle = convert_schema(catalog)
    roots = {c.name: c for c in idle.collections}
    # Archived artifact: orderdetail was referencing, but product stayed
    # embedded — prune orderdetail from the embedded trees and add the flat
    # referencing root by hand (its shape is golden-tested in test_planner).
    keep = ["category", "customer", "employee", "region", "shipper",
            "supplier"]
    for name in keep:
        _prune(roots[name], "orderdetail")
    # Artifact quirk (FIXTURES.md §1.2): the archived run's two-way embed
    # dropped the OTHER ENDPOINT's foreign-key columns too (collection3's
    # employeeterritory docs carry territorydescription but not territory's
    # regionId), while the current reference code
    # (server/DBMigration.js:304-309) filters only the referenced PK.
    # Pin the attribute list to the artifact.
    et = roots["employee"].embedded[0]
    assert et.name == "employeeterritory"
    et.attributes = [a for a in et.attributes if a != "regionId"]
    orderdetail = Collection(
        "orderdetail",
        ["orderDetailId", "orderId_REF", "productId_REF", "unitPrice",
         "quantity", "discount"],
    )
    plan = NoSQLPlan(
        "northwind_artifact", [roots[n] for n in keep] + [orderdetail]
    )
    out = materialize(tables, catalog, plan, normalize_dates=False)
    return {
        name: sorted(
            (normalize_doc(r.asDict(recursive=True)) for r in df.collect()),
            key=lambda d: str(sorted(d.items())),
        )
        for name, df in out.items()
    }


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
