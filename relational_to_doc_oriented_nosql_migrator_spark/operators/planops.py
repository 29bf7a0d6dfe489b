"""Planner-surface operators (SURVEY §2.9) exposed as registry queries.

The reference's schema-conversion "query planner" runs on metadata
(server/DBMigration.js:184-392); in this engine it is driver-side Python
(plans/planner.py). These queries run the REAL planner over four catalog
scenarios and return its decisions as DataFrames; the oracles are frozen
golden literals (`VALUES` SQL), so the correctness gate doubles as a
golden-structure test of the rule cascade:

- ``tpch``       — the driver-testdata FK graph, columns and row counts
                   from the sf_dir parquet footers (the migrator's own
                   `sources.parquet_catalog`), idle workload.
- ``tpch_hot``   — same graph with read traffic on every table and
                   update-hot ``orders`` (uaf = rows x 50): exercises the
                   workload branch of server/DBMigration.js:356-369.
- ``northwind``  — the Northwind-style fixture behind the reference's
                   checked-in golden output (FIXTURES.md §1).
- ``selfref``    — a minimal employee(mgrId -> employee) graph for the
                   self-reference branch (server/DBMigration.js:349-352).

``sink_http_response`` reproduces the reference's POST /migration response
payload — relational-table summaries plus document-template skeletons
(server/index.js:44-56; client/src/components/NoSqlCollection.js:14-29).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from relational_to_doc_oriented_nosql_migrator_spark.functions.template import (
    document_template,
)
from relational_to_doc_oriented_nosql_migrator_spark.plans.catalog import (
    Catalog,
    ForeignKey,
    TableMeta,
    northwind_catalog,
)
from relational_to_doc_oriented_nosql_migrator_spark.plans.planner import (
    classify_tables,
    convert_schema,
    create_table_queue,
    is_self_referencing,
)
from relational_to_doc_oriented_nosql_migrator_spark.sources.parquet import (
    parquet_catalog,
)

# ---------------------------------------------------------------------------
# Catalog scenarios
# ---------------------------------------------------------------------------


def _tpch_hot_catalog(sf_dir: str) -> Catalog:
    """Read traffic everywhere, update-hot orders: uaf/maf comparisons are
    row-count-*ratio* based, so the decisions are scale-factor-invariant."""
    catalog, _footers = parquet_catalog(sf_dir)
    for t in catalog.tables.values():
        t.gaf = t.num_rows * 10
    orders = catalog.get_table("orders")
    orders.uaf = orders.num_rows * 50
    return catalog


def _selfref_catalog() -> Catalog:
    return Catalog([
        TableMeta(
            name="employee",
            num_rows=100,
            columns=["employeeId", "name", "mgrId"],
            primary_keys=["employeeId"],
            foreign_keys=[ForeignKey("mgrId", "employee", "employeeId")],
        ),
    ])


def _scenarios(sf_dir: str) -> dict[str, Catalog]:
    return {
        "tpch": parquet_catalog(sf_dir)[0],
        "tpch_hot": _tpch_hot_catalog(sf_dir),
        "northwind": northwind_catalog(),
        "selfref": _selfref_catalog(),
    }


# ---------------------------------------------------------------------------
# Row builders (shared by the runtime queries and the golden generator)
# ---------------------------------------------------------------------------


def topo_rows(name: str, catalog: Catalog) -> list[tuple]:
    return [
        (name, i + 1, t.name)
        for i, t in enumerate(create_table_queue(catalog))
    ]


def selfref_rows(name: str, catalog: Catalog) -> list[tuple]:
    return [
        (name, t.name, is_self_referencing(t))
        for t in catalog.tables.values()
    ]


def decision_rows(name: str, catalog: Catalog) -> list[tuple]:
    return [(name, t.name, d) for t, d in classify_tables(catalog)]


def _walk_embeds(name: str, catalog: Catalog):
    """Yield (scenario, parent, child, attrs_from, attrs_csv) for every
    embedded collection in the scenario's plan tree."""
    plan = convert_schema(catalog)
    stack = [(root, None) for root in plan.collections]
    while stack:
        node, parent = stack.pop()
        if parent is not None:
            yield (
                name,
                parent.name,
                node.name,
                node.embedded_attributes_from,
                ",".join(node.attributes),
            )
        stack.extend((child, node) for child in node.embedded)


def one_way_rows(name: str, catalog: Catalog) -> list[tuple]:
    return sorted(
        (s, p, c, attrs)
        for s, p, c, frm, attrs in _walk_embeds(name, catalog)
        if frm is None
    )


def two_way_rows(name: str, catalog: Catalog) -> list[tuple]:
    return sorted(
        r for r in _walk_embeds(name, catalog) if r[3] is not None
    )


def referencing_rows(name: str, catalog: Catalog) -> list[tuple]:
    """Root collections produced by the referencing rules (FK cols renamed
    *_REF) — identified via the decision labels, attrs from the plan."""
    plan = convert_schema(catalog)
    out = []
    for table, decision in classify_tables(catalog):
        if decision.startswith("reference"):
            coll = plan.get_collection(table.name)
            out.append((name, table.name, ",".join(coll.attributes)))
    return sorted(out)


def http_response_rows(catalog: Catalog) -> list[tuple]:
    rows = []
    for t in catalog.tables.values():
        detail = (
            f"columns={','.join(t.columns)};pk={','.join(t.primary_keys)};"
            f"fk={','.join(f.column + '->' + f.referenced_table + '.' + f.referenced_column for f in t.foreign_keys)};"
            f"referenced_by={','.join(t.referencing_tables)}"
        )
        rows.append(("table", t.name, detail))
    for root in convert_schema(catalog).collections:
        rows.append(
            ("collection", root.name,
             json.dumps(document_template(root), separators=(",", ":")))
        )
    return rows


# ---------------------------------------------------------------------------
# Registry queries
# ---------------------------------------------------------------------------


def q_plan_topo_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    cats = _scenarios(sf_dir)
    rows = topo_rows("tpch", cats["tpch"]) + topo_rows(
        "northwind", cats["northwind"]
    )
    return spark.createDataFrame(
        rows, "catalog string, position int, table_name string"
    )


def q_plan_self_ref_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    cats = _scenarios(sf_dir)
    rows = (
        selfref_rows("tpch", cats["tpch"])
        + selfref_rows("northwind", cats["northwind"])
        + selfref_rows("selfref", cats["selfref"])
    )
    return spark.createDataFrame(
        rows, "catalog string, table_name string, is_self_referencing boolean"
    )


def q_plan_embed_or_reference(spark: SparkSession, sf_dir: str) -> DataFrame:
    cats = _scenarios(sf_dir)
    rows = [r for n, c in cats.items() for r in decision_rows(n, c)]
    return spark.createDataFrame(
        rows, "catalog string, table_name string, decision string"
    )


def q_plan_one_way_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    cats = _scenarios(sf_dir)
    rows = one_way_rows("tpch", cats["tpch"]) + one_way_rows(
        "northwind", cats["northwind"]
    )
    return spark.createDataFrame(
        rows,
        "catalog string, parent string, child string, attributes string",
    )


def q_plan_two_way_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = two_way_rows("northwind", northwind_catalog())
    return spark.createDataFrame(
        rows,
        "catalog string, endpoint string, junction string,"
        " attributes_from string, attributes string",
    )


def q_plan_referencing(spark: SparkSession, sf_dir: str) -> DataFrame:
    cats = _scenarios(sf_dir)
    rows = [r for n, c in cats.items() for r in referencing_rows(n, c)]
    return spark.createDataFrame(
        rows, "catalog string, collection string, attributes string"
    )


def q_sink_http_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = http_response_rows(parquet_catalog(sf_dir)[0])
    return spark.createDataFrame(
        rows, "side string, name string, detail string"
    )


# ---------------------------------------------------------------------------
# Frozen golden oracles (generated by tests/gen_plan_golden.py; the gate
# compares the live planner against these literals)
# ---------------------------------------------------------------------------


def _values_sql(rows: list[tuple], columns: str) -> str:
    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, int):
            return str(v)
        return "'" + str(v).replace("'", "''") + "'"

    body = ",\n".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
    return f"SELECT * FROM (VALUES\n{body}\n) AS t({columns})"


GOLDEN: dict[str, list[tuple]] = {}  # populated below


QUERIES = {
    "plan_topo_order": q_plan_topo_order,
    "plan_self_ref_detect": q_plan_self_ref_detect,
    "plan_embed_or_reference": q_plan_embed_or_reference,
    "plan_one_way_embed": q_plan_one_way_embed,
    "plan_two_way_embed": q_plan_two_way_embed,
    "plan_referencing": q_plan_referencing,
    "sink_http_response": q_sink_http_response,
}

_COLUMNS = {
    "plan_topo_order": "catalog, position, table_name",
    "plan_self_ref_detect": "catalog, table_name, is_self_referencing",
    "plan_embed_or_reference": "catalog, table_name, decision",
    "plan_one_way_embed": "catalog, parent, child, attributes",
    "plan_two_way_embed":
        "catalog, endpoint, junction, attributes_from, attributes",
    "plan_referencing": "catalog, collection, attributes",
    "sink_http_response": "side, name, detail",
}


def _load_golden() -> dict[str, list[tuple]]:
    here = os.path.dirname(__file__)
    path = os.path.join(here, "plan_golden.json")
    if not os.path.exists(path):  # pre-bootstrap (gen_plan_golden.py)
        return {}
    with open(path) as f:
        return {k: [tuple(r) for r in v] for k, v in json.load(f).items()}


GOLDEN = _load_golden()

ORACLES = {
    qid: _values_sql(GOLDEN[qid], _COLUMNS[qid])
    for qid in QUERIES
    if qid in GOLDEN
}
