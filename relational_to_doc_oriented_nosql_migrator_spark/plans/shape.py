"""Document shapes: what each collection's documents hold, from (catalog, plan).

One spec, two executors: the Catalyst nesting DAG (plans/nesting.py) and
the driver-side builder for dump inputs (plans/documents.py) both read a
collection's fields, embedded children and join columns from here, so
they cannot disagree on the document layout. Metadata only, no Spark.

A document is its fields in order (null fields omitted), then one array
per embedded child in plan order (absent when no child row matches).
With date normalization a timestamp becomes its date in BANGKOK_TZ.
"""

from __future__ import annotations

from dataclasses import dataclass

from relational_to_doc_oriented_nosql_migrator_spark.plans.catalog import (
    Catalog,
    ForeignKey,
)
from relational_to_doc_oriented_nosql_migrator_spark.plans.planner import (
    Collection,
    NoSQLPlan,
)

# The zone of the reference's date normalization (reference
# server/MySQLDBManager.js:268-276).
BANGKOK_TZ = "Asia/Bangkok"


@dataclass(frozen=True)
class Field:
    """An output key and the source column it reads; `other` columns come
    from a two-way junction's other endpoint."""

    name: str
    column: str
    other: bool = False


@dataclass(frozen=True)
class OtherEnd:
    """A two-way embedded junction's other endpoint (reference
    server/DBMigration.js:524-575): each junction row is inner-joined to
    the endpoint rows whose `key` equals the junction's `column`, and the
    endpoint's values replace the junction's, nulls included
    (server/DBMigration.js:559-569)."""

    table: str
    column: str
    key: str


@dataclass(frozen=True)
class Shape:
    """One collection's documents. `name` is the source table, the
    collection and, when embedded, the parent's array key. An embedded
    shape joins its `link` column (a link column that is not a field is
    dropped from the document) to the parent's `parent_key`; rows with a
    null link join nothing. A root drops documents whose fields are all
    null."""

    name: str
    fields: tuple[Field, ...]
    embedded: tuple["Shape", ...] = ()
    link: str | None = None
    parent_key: str | None = None
    other: OtherEnd | None = None


def _dedupe(names: list[str]) -> list[str]:
    return list(dict.fromkeys(names))


def _find_fk(catalog: Catalog, child: str, parent: str) -> ForeignKey:
    for fk in catalog.get_table(child).foreign_keys:
        if fk.referenced_table == parent:
            return fk
    raise ValueError(f"no FK from {child} to {parent}")


def _root_shape(catalog: Catalog, root: Collection) -> Shape:
    """An attribute matches a column by name or by name+'_REF' (reference
    server/DBMigration.js:441-447); an attribute matching neither is left
    out."""
    columns = set(catalog.get_table(root.name).columns)
    fields = []
    for attr in _dedupe(root.attributes):
        if attr in columns:
            fields.append(Field(attr, attr))
        elif attr.endswith("_REF") and attr[:-4] in columns:
            fields.append(Field(attr, attr[:-4]))
    return Shape(
        root.name, tuple(fields),
        tuple(embedded_shape(catalog, root.name, e) for e in root.embedded),
    )


def embedded_shape(catalog: Catalog, parent: str, emb: Collection) -> Shape:
    fk = _find_fk(catalog, emb.name, parent)
    other, other_columns = None, set()
    if emb.embedded_attributes_from:
        other_fk = _find_fk(catalog, emb.name, emb.embedded_attributes_from)
        other = OtherEnd(emb.embedded_attributes_from, other_fk.column,
                         other_fk.referenced_column)
        other_columns = set(catalog.get_table(other.table).columns)
        other_columns.discard(other.key)
    return Shape(
        emb.name,
        tuple(Field(a, a, a in other_columns)
              for a in _dedupe(emb.attributes)),
        tuple(embedded_shape(catalog, emb.name, e) for e in emb.embedded),
        link=fk.column,
        parent_key=fk.referenced_column,
        other=other,
    )


def document_shapes(catalog: Catalog, plan: NoSQLPlan) -> list[Shape]:
    """One shape per root collection, in plan order."""
    return [_root_shape(catalog, root) for root in plan.collections]
