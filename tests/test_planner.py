"""Golden-structure tests for the schema-conversion planner (SURVEY §5.2).

The rule text of reference server/DBMigration.js:335-392 is normative
(FIXTURES.md §1.2); scenarios cover both the idle-workload tree and the
hot-update referencing flips, then the one rule of our own: the 16 MiB
document size rule.
"""

from relational_to_doc_oriented_nosql_migrator_spark.plans import (
    convert_schema,
    create_table_queue,
    northwind_catalog,
    tpch_catalog,
)
from relational_to_doc_oriented_nosql_migrator_spark.plans.catalog import (
    TPCH_FOREIGN_KEYS,
    Catalog,
    ForeignKey,
    TableMeta,
)
from relational_to_doc_oriented_nosql_migrator_spark.plans.planner import (
    MAX_DOCUMENT_BYTES,
    classify_tables,
)

TPCH_COLUMNS = {
    "region": ["r_regionkey", "r_name"],
    "nation": ["n_nationkey", "n_name", "n_regionkey"],
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal",
                 "c_mktsegment"],
    "supplier": ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    "part": ["p_partkey", "p_name", "p_brand", "p_type", "p_size",
             "p_retailprice"],
    "orders": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                 "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus", "l_shipdate"],
    "events": ["event_id", "ts", "user_id", "event_type", "value", "props"],
    "documents": ["doc_id", "text", "lang", "source", "n_chars"],
    "embeddings": ["vec_id", "embedding", "label"],
}
TPCH_ROWS = {
    "region": 5, "nation": 25, "customer": 150, "supplier": 10, "part": 200,
    "orders": 1500, "lineitem": 6000, "events": 1000, "documents": 500,
    "embeddings": 500,
}


def _tpch():
    return tpch_catalog(TPCH_COLUMNS, TPCH_ROWS)


def test_topo_queue_tpch():
    order = [t.name for t in create_table_queue(_tpch())]
    # Seeds are the 0-FK tables in insertion order; every table is admitted.
    assert order[:5] == ["region", "part", "events", "documents", "embeddings"]
    assert set(order) == set(TPCH_FOREIGN_KEYS)
    # Referenced-before-referencing invariant.
    pos = {name: i for i, name in enumerate(order)}
    for table, fks in TPCH_FOREIGN_KEYS.items():
        for _col, ref, _refcol in fks:
            assert pos[ref] < pos[table]


def test_tpch_idle_workload_tree():
    plan = convert_schema(_tpch())
    roots = {c.name: c for c in plan.collections}
    assert set(roots) == {"region", "part", "events", "documents",
                          "embeddings", "lineitem"}

    region = roots["region"]
    nation = region.find("nation")
    assert nation is not None
    assert nation.attributes == ["n_nationkey", "n_name"]  # FK col dropped
    customer = nation.find("customer")
    supplier = nation.find("supplier")
    assert customer.attributes == ["c_custkey", "c_name", "c_acctbal",
                                   "c_mktsegment"]
    assert supplier.attributes == ["s_suppkey", "s_name", "s_acctbal"]
    orders = customer.find("orders")
    assert orders.attributes == ["o_orderkey", "o_orderstatus",
                                 "o_totalprice", "o_orderdate",
                                 "o_orderpriority"]

    # lineitem: 3 FKs -> referencing with *_REF renames.
    lineitem = roots["lineitem"]
    assert lineitem.attributes[:3] == ["l_orderkey_REF", "l_partkey_REF",
                                       "l_suppkey_REF"]
    assert "l_quantity" in lineitem.attributes


def test_tpch_hot_orders_flips_to_referencing():
    catalog = _tpch()
    # Give every table some read traffic, then make orders update-hot.
    for t in catalog.tables.values():
        t.gaf = t.num_rows * 10
    catalog.get_table("orders").uaf = catalog.get_table("orders").num_rows * 50
    assert catalog.get_table("orders").uaf > catalog.maf

    plan = convert_schema(catalog)
    roots = {c.name: c for c in plan.collections}
    # orders itself flips; customer (referenced by hot orders) flips too.
    assert "orders" in roots
    assert roots["orders"].attributes[1] == "o_custkey_REF"
    assert "customer" in roots
    assert roots["customer"].attributes[2] == "c_nationkey_REF"
    # nation still embeds (its referencing tables customer/supplier are cold).
    assert roots["region"].find("nation") is not None
    assert roots["region"].find("nation").find("supplier") is not None


NW_ATTRS_PRODUCT_JUNCTION = [
    "productId", "productName", "quantityPerUnit", "unitPrice",
    "unitsInStock", "unitsOnOrder", "reorderLevel", "discontinued",
]


def test_northwind_idle_tree_matches_golden():
    plan = convert_schema(northwind_catalog())
    roots = {c.name: c for c in plan.collections}
    assert set(roots) == {"category", "supplier", "customer", "employee",
                          "shipper", "region"}

    # category > product[] two-way embedded, denormalizing supplier attrs.
    product_in_cat = roots["category"].find("product")
    assert product_in_cat.embedded_attributes_from == "supplier"
    assert product_in_cat.attributes[: len(NW_ATTRS_PRODUCT_JUNCTION)] == (
        NW_ATTRS_PRODUCT_JUNCTION
    )
    assert "companyName" in product_in_cat.attributes
    assert "supplierId" not in product_in_cat.attributes

    # supplier > product[] other side, denormalizing category attrs.
    product_in_sup = roots["supplier"].find("product")
    assert product_in_sup.embedded_attributes_from == "category"
    assert "categoryName" in product_in_sup.attributes

    # customer > salesorder[] / shipper > salesorder[] two-way.
    so_in_cust = roots["customer"].find("salesorder")
    assert so_in_cust.embedded_attributes_from == "shipper"
    assert "employeeId" in so_in_cust.attributes  # undeclared FK stays
    assert "custId" not in so_in_cust.attributes
    so_in_ship = roots["shipper"].find("salesorder")
    assert so_in_ship.embedded_attributes_from == "customer"

    # employee > employeeterritory[] (junction attrs empty; territory attrs
    # minus territoryId denormalized; rule text is normative so regionId is
    # included even though the archived artifact omits it).
    et_in_emp = roots["employee"].find("employeeterritory")
    assert et_in_emp.embedded_attributes_from == "territory"
    assert et_in_emp.attributes == ["territorydescription", "regionId"]

    # region > territory[] one-way, with employeeterritory two-way embedded
    # into the *embedded* territory (BFS lookup).
    territory = roots["region"].find("territory")
    assert territory.attributes == ["territoryId", "territorydescription"]
    et_in_ter = territory.find("employeeterritory")
    assert et_in_ter is not None
    assert et_in_ter.embedded_attributes_from == "employee"

    # orderdetail: idle workload -> two-way embedded, NOT a root... unless
    # update-hot (separate scenario below). Idle: embedded into salesorder
    # and product.
    assert "orderdetail" not in {c.name for c in roots["customer"].embedded}
    od_in_so = roots["customer"].find("orderdetail")
    assert od_in_so is not None  # nested under salesorder inside customer


def test_northwind_hot_orderdetail_flips_chain():
    catalog = northwind_catalog()
    for t in catalog.tables.values():
        t.gaf = 1000
    od = catalog.get_table("orderdetail")
    od.uaf = 10_000
    assert od.uaf > catalog.maf

    plan = convert_schema(catalog)
    roots = {c.name: c for c in plan.collections}
    # orderdetail flat with _REF renames (the golden artifact's collection7).
    assert roots["orderdetail"].attributes == [
        "orderDetailId", "orderId_REF", "productId_REF", "unitPrice",
        "quantity", "discount",
    ]
    # Per the normative rules, tables referenced by the hot orderdetail
    # (salesorder, product) also flip to referencing.
    assert "salesorder" in roots
    assert "product" in roots


def test_plan_golden_fixture_not_stale():
    """operators/plan_golden.json (the frozen plan_* oracle literals) must
    match what the live planner produces — regenerate via
    tests/gen_plan_golden.py after intentional rule changes."""
    from relational_to_doc_oriented_nosql_migrator_spark.operators import planops
    from tests.conftest import SF001
    from tests.gen_plan_golden import build

    assert planops.GOLDEN, "plan_golden.json missing — run gen_plan_golden.py"
    live = {k: [tuple(r) for r in v] for k, v in build(SF001).items()}
    assert live == planops.GOLDEN


# ---------------------------------------------------------------------------
# The document size rule: an embed that would push its root's estimated
# mean document past MongoDB's 16 MiB limit is referenced instead.
# ---------------------------------------------------------------------------

MAX = MAX_DOCUMENT_BYTES


def _one_parent(payload_bytes, rows=16, widths=True):
    """r (1 row) <- c (`rows` rows). r's document is estimated at
    2 + len('"rid":,') + 1 = 10 bytes, and each c element at
    2 + len('"cid":,') + len('"payload":,') + 1 = 21 bytes plus its share
    of payload_bytes, so the root's mean is 10 + 21 * rows +
    payload_bytes."""
    def w(d):
        return d if widths else None

    return Catalog([
        TableMeta("r", 1, ["rid"], ["rid"], column_bytes=w({"rid": 1})),
        TableMeta("c", rows, ["cid", "rfk", "payload"], ["cid"],
                  [ForeignKey("rfk", "r", "rid")],
                  column_bytes=w({"cid": rows, "rfk": rows,
                                  "payload": payload_bytes})),
    ])


def test_size_rule_keeps_a_child_just_under_the_limit():
    plan = convert_schema(_one_parent(MAX - 10 - 21 * 16))
    assert [c.name for c in plan.collections] == ["r"]
    assert plan.collections[0].find("c").attributes == ["cid", "payload"]
    assert plan.size_referenced == []


def test_size_rule_references_a_child_just_over_the_limit():
    catalog = _one_parent(MAX - 10 - 21 * 16 + 1)
    plan = convert_schema(catalog)
    roots = {c.name: c for c in plan.collections}
    assert set(roots) == {"r", "c"} and roots["r"].embedded == []
    assert roots["c"].attributes == ["cid", "rfk_REF", "payload"]
    assert plan.size_referenced == ["c"]
    assert [d for _t, d in classify_tables(catalog)] == ["root",
                                                         "reference_size"]


def _chain(customer_bytes, orders_bytes):
    """n (1 row) <- customer (10 rows) <- orders (100 rows)."""
    return Catalog([
        TableMeta("n", 1, ["n_key"], ["n_key"], column_bytes={"n_key": 1}),
        TableMeta("customer", 10, ["c_key", "c_n", "c_blob"], ["c_key"],
                  [ForeignKey("c_n", "n", "n_key")],
                  column_bytes={"c_key": 20, "c_n": 10,
                                "c_blob": customer_bytes}),
        TableMeta("orders", 100, ["o_key", "o_c", "o_blob"], ["o_key"],
                  [ForeignKey("o_c", "customer", "c_key")],
                  column_bytes={"o_key": 300, "o_c": 200,
                                "o_blob": orders_bytes}),
    ])


def test_size_rule_adds_up_across_levels():
    """customer fits under n, and orders alone would fit too, but orders
    under customer tips the same root: orders is referenced."""
    six_tenths = int(MAX * 0.6)
    alone = convert_schema(_chain(0, six_tenths))
    assert alone.size_referenced == []
    assert alone.collections[0].find("orders") is not None

    plan = convert_schema(_chain(six_tenths, six_tenths))
    roots = {c.name: c for c in plan.collections}
    assert roots["n"].find("customer") is not None
    assert roots["n"].find("orders") is None
    assert roots["orders"].attributes == ["o_key", "o_c_REF", "o_blob"]
    assert plan.size_referenced == ["orders"]


def test_size_rule_counts_a_two_way_junction_into_both_endpoints():
    """j embeds into a and into b; each endpoint's other one-row child
    would fit alone, but on top of j's copy it tips its root."""
    six_tenths = int(MAX * 0.6)

    def child(name, parent):
        return TableMeta(name, 1, [f"{name}_key", f"{name}_fk",
                                   f"{name}_blob"], [f"{name}_key"],
                         [ForeignKey(f"{name}_fk", parent, f"{parent}_key")],
                         column_bytes={f"{name}_blob": six_tenths})

    def catalog(junction_bytes):
        return Catalog([
            TableMeta("a", 1, ["a_key"], ["a_key"], column_bytes={}),
            TableMeta("b", 1, ["b_key"], ["b_key"], column_bytes={}),
            TableMeta("j", 1, ["ja", "jb", "j_blob"], [],
                      [ForeignKey("ja", "a", "a_key"),
                       ForeignKey("jb", "b", "b_key")],
                      column_bytes={"j_blob": junction_bytes}),
            child("x", "a"),
            child("y", "b"),
        ])

    light = convert_schema(catalog(0))
    assert light.size_referenced == []

    plan = convert_schema(catalog(six_tenths))
    roots = {c.name: c for c in plan.collections}
    assert roots["a"].find("j").embedded_attributes_from == "b"
    assert roots["b"].find("j").embedded_attributes_from == "a"
    assert sorted(plan.size_referenced) == ["x", "y"]
    assert roots["x"].attributes == ["x_key", "x_fk_REF", "x_blob"]


def _tree(coll):
    return (coll.name, tuple(coll.attributes), coll.embedded_attributes_from,
            tuple(_tree(e) for e in coll.embedded))


def test_catalog_without_widths_plans_as_before():
    """No table of a fixture catalog carries widths, so the rule never
    fires, whatever the row counts: the plan is the reference rules'."""
    small = convert_schema(_tpch())
    huge_rows = {name: n * 10**9 for name, n in TPCH_ROWS.items()}
    huge = convert_schema(tpch_catalog(TPCH_COLUMNS, huge_rows))
    assert [_tree(c) for c in huge.collections] == [
        _tree(c) for c in small.collections]
    assert huge.size_referenced == []
    assert convert_schema(_one_parent(10 * MAX, widths=False)
                          ).size_referenced == []
    northwind = northwind_catalog({"orderdetail": 10**12})
    assert "reference_size" not in {d for _t, d in classify_tables(northwind)}


def test_readers_measure_every_column():
    """The parquet footers and the dump text give every column a width;
    a dump column's width is the length of its values as written."""
    from relational_to_doc_oriented_nosql_migrator_spark.sources.parquet import (
        parquet_catalog,
    )
    from relational_to_doc_oriented_nosql_migrator_spark.sources.sqldump import (
        read_dump,
    )
    from tests.conftest import SF0001

    catalog, _footers = parquet_catalog(SF0001)
    for table in catalog.tables.values():
        assert set(table.column_bytes) == set(table.columns), table.name
        assert all(b > 0 for b in table.column_bytes.values()), table.name

    _db, _defs, dumped = read_dump(
        "CREATE TABLE t (id INT, name VARCHAR(9));\n"
        "INSERT INTO t VALUES (1, 'ab'), (22, NULL);\n"
        "INSERT INTO t (name) VALUES ('xyz');\n")
    assert dumped.get_table("t").column_bytes == {"id": 3, "name": 13}
