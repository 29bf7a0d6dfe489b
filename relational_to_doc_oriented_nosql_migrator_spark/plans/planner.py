"""IR#2 — schema-conversion planner (the reference's "query planner").

Driver-side pure Python over metadata; decides the output document schema.
Reproduces, rule for rule, the reference's conversion logic:

- processing order (Kahn-style BFS seeded by 0-FK tables, with a
  self-referencing fallback): reference server/DBMigration.js:194-262
- self-reference detection: server/DBMigration.js:184-192
- embed-vs-reference decision: server/DBMigration.js:335-392
    0 FKs                      -> new root collection        (:343-346)
    self-referencing           -> referencing                (:349-352)
    >2 FKs                     -> referencing                (:383-386)
    <=2 FKs and (uaf > maf or a referencing table's uaf > maf)
                               -> referencing                (:356-369)
    else 2 FKs                 -> two-way embed              (:375-377)
    else 1 FK                  -> one-way embed              (:378-381)
- one-way embed (drop the FK column): server/DBMigration.js:265-280
- two-way embed (junction into both endpoints, denormalizing the other
  endpoint's attributes): server/DBMigration.js:283-317
- referencing (FK columns renamed *_REF): server/DBMigration.js:319-333
- embedding may target an already-embedded collection — BFS lookup:
  server/models/NoSQLDatabase.js:13-27

One rule beyond the reference's: an embed that would push its root's
estimated mean document past MongoDB's 16 MiB limit is referenced
instead (`reference_size`, see _plan).

The plan is the one owner of the document layout: each Collection holds
its fields (output key, source column, which side of a two-way junction
it reads), the FK it is embedded by (`link`) and, for a two-way copy,
the FK to the other endpoint (`other`). Both executors, the Catalyst
nesting DAG (plans/nesting.py) and the driver-side builder for dumps
(plans/documents.py), read these and nothing else, so they cannot
disagree on a document's layout.
"""

from __future__ import annotations

from collections import deque
from dataclasses import dataclass, field

from relational_to_doc_oriented_nosql_migrator_spark.plans.catalog import (
    Catalog,
    ForeignKey,
    TableMeta,
)


@dataclass(frozen=True)
class Field:
    """An output key and the source column it reads; an `other` field
    reads a two-way junction's other endpoint."""

    name: str
    column: str
    other: bool = False


@dataclass
class Collection:
    """A (possibly embedded) output collection and its document layout.

    A document is the collection's fields in order (null fields
    omitted), then one array per embedded child in plan order, keyed by
    the child's name (absent when no child row matches). An embedded
    collection joins its `link` FK column to the parent's referenced
    column; rows with a null link join nothing, and a link column that
    is not a field is left out of the document. A root drops documents
    whose fields are all null.

    A two-way embedded junction also carries `other`, its FK to the
    other endpoint (reference server/DBMigration.js:524-575): each
    junction row is inner-joined to the endpoint rows the FK references,
    and the endpoint's `other` fields replace the junction's, nulls
    included (server/DBMigration.js:559-569).
    """

    name: str
    fields: list[Field]
    embedded: list["Collection"] = field(default_factory=list)
    link: ForeignKey | None = None
    other: ForeignKey | None = None

    @property
    def attributes(self) -> list[str]:
        """The output keys in field order, repeats included (the
        reference's attribute list)."""
        return [f.name for f in self.fields]

    @property
    def embedded_attributes_from(self) -> str | None:
        """A two-way junction copy's other endpoint, whose attributes it
        denormalizes."""
        return self.other.referenced_table if self.other else None

    @property
    def document_fields(self) -> list[Field]:
        """The fields a document holds: a repeated key keeps its first
        position and reads the last field of that name (a two-way copy's
        other endpoint over the junction)."""
        return list({f.name: f for f in self.fields}.values())

    def find(self, name: str) -> "Collection | None":
        """BFS through nested embedded collections (reference
        server/models/NoSQLDatabase.js:13-27 does the same search)."""
        queue = deque([self])
        while queue:
            current = queue.popleft()
            if current.name == name:
                return current
            queue.extend(current.embedded)
        return None


@dataclass
class NoSQLPlan:
    """The root collections, and the tables the document size rule
    referenced (`size_referenced`, in processing order)."""

    name: str
    collections: list[Collection] = field(default_factory=list)
    size_referenced: list[str] = field(default_factory=list)

    def get_collection(self, name: str) -> Collection | None:
        for root in self.collections:
            found = root.find(name)
            if found is not None:
                return found
        return None


def is_self_referencing(table: TableMeta) -> bool:
    return any(fk.referenced_table == table.name for fk in table.foreign_keys)


def create_table_queue(catalog: Catalog) -> list[TableMeta]:
    """Processing order: seed with 0-FK tables (or, failing that,
    self-referencing 1-FK tables), then repeatedly admit referencing tables
    whose referenced tables have all been admitted (self-references exempt).

    Tables that never become admissible are *not* processed — matching the
    reference, which silently drops them from the output schema.
    """
    queue: list[TableMeta] = []
    remaining = list(catalog.tables.values())
    evaluation = deque()

    for table in list(remaining):
        if table.num_foreign_keys == 0:
            queue.append(table)
            evaluation.append(table)
            remaining.remove(table)

    if not queue:
        for table in list(remaining):
            if table.num_foreign_keys == 1 and is_self_referencing(table):
                queue.append(table)
                evaluation.append(table)
                remaining.remove(table)

    admitted = {t.name for t in queue}
    while evaluation:
        current = evaluation.popleft()
        if not current.is_referenced:
            continue
        for ref_name in current.referencing_tables:
            ref_table = catalog.get_table(ref_name)
            if ref_table is None or ref_table not in remaining:
                continue
            if ref_table.num_foreign_keys == 1:
                ready = True
            else:
                ready = all(
                    fk.referenced_table in admitted
                    or fk.referenced_table == ref_table.name
                    for fk in ref_table.foreign_keys
                )
            if ready:
                queue.append(ref_table)
                evaluation.append(ref_table)
                admitted.add(ref_table.name)
                remaining.remove(ref_table)

    return queue


# MongoDB refuses a document over 16 MiB (its BSON document size limit,
# https://www.mongodb.com/docs/manual/reference/limits/#mongodb-limit-BSON-Document-Size).
MAX_DOCUMENT_BYTES = 16 * 1024 * 1024


def _fields(columns, other: bool = False) -> list[Field]:
    return [Field(c, c, other) for c in columns]


def _one_way_embed(
    plan: NoSQLPlan, table: TableMeta
) -> list[tuple[Collection, Collection]]:
    fk = table.foreign_keys[0]
    parent = plan.get_collection(fk.referenced_table)
    fields = _fields(c for c in table.columns if c != fk.column)
    return [(parent, Collection(table.name, fields, link=fk))]


def _two_way_embed(
    catalog: Catalog, plan: NoSQLPlan, table: TableMeta
) -> list[tuple[Collection, Collection]]:
    fk1, fk2 = table.foreign_keys[0], table.foreign_keys[1]
    junction = _fields(
        c for c in table.columns if c != fk1.column and c != fk2.column)

    def copy(link: ForeignKey, other: ForeignKey) -> tuple[Collection,
                                                           Collection]:
        # Each copy denormalizes the OTHER endpoint's columns (minus the
        # column the junction references there).
        other_table = catalog.get_table(other.referenced_table)
        fields = junction + _fields(
            (c for c in other_table.columns if c != other.referenced_column),
            other=True)
        return (plan.get_collection(link.referenced_table),
                Collection(table.name, fields, link=link, other=other))

    return [copy(fk1, fk2), copy(fk2, fk1)]


def _referencing(table: TableMeta) -> Collection:
    fk_columns = {fk.column for fk in table.foreign_keys}
    return Collection(table.name, [
        Field(c + "_REF", c) if c in fk_columns else Field(c, c)
        for c in table.columns
    ])


def _reference_decision(catalog: Catalog, maf: float, table: TableMeta) -> str:
    """The reference's rule cascade (server/DBMigration.js:335-392)."""
    if table.num_foreign_keys == 0:
        return "root"
    if is_self_referencing(table):
        return "reference_self"
    if table.num_foreign_keys > 2:
        return "reference_many_fks"
    use_referencing = table.uaf > maf
    if table.is_referenced and not use_referencing:
        use_referencing = any(
            catalog.get_table(r).uaf > maf
            for r in table.referencing_tables
            if catalog.get_table(r) is not None
        )
    if use_referencing:
        return "reference_workload"
    if table.num_foreign_keys == 2:
        return "embed_two_way"
    return "embed_one_way"


def _document_bytes(catalog: Catalog, table: TableMeta,
                    coll: Collection) -> float:
    """Estimated JSON bytes of `table`'s rows as `coll` documents, without
    their embedded arrays: per row, the braces and each document field's
    `"key":` and separator, exactly, plus the mean bytes of the column it
    reads (a two-way junction's `other` fields read the other
    endpoint's). A table whose reader measured no widths counts 0."""
    if table.column_bytes is None:
        return 0.0
    other = (catalog.get_table(coll.other.referenced_table)
             if coll.other else None)
    per_row = 2.0
    for f in coll.document_fields:
        per_row += len(f.name.encode()) + 4  # two quotes, colon, comma
        owner = other if f.other else table
        if owner.column_bytes and owner.num_rows:
            per_row += owner.column_bytes.get(f.column, 0) / owner.num_rows
    return table.num_rows * per_row


def _mean_over_limit(catalog: Catalog, root: str, total: float) -> bool:
    """Whether `total` estimated bytes over the root's rows exceed
    MAX_DOCUMENT_BYTES; a root with no rows writes no documents."""
    rows = catalog.get_table(root).num_rows
    return bool(rows) and total / rows > MAX_DOCUMENT_BYTES


def _root_of(plan: NoSQLPlan, name: str) -> Collection:
    """The root whose documents hold collection `name` where
    `plan.get_collection` finds it."""
    return next(r for r in plan.collections if r.find(name) is not None)


def _plan(catalog: Catalog, name: str) -> tuple[NoSQLPlan,
                                                list[tuple[TableMeta, str]]]:
    """The plan and every table's decision, in processing order.

    After the reference's rules, one rule of our own: an embed that
    would push a root's estimated mean document past MAX_DOCUMENT_BYTES
    is referenced instead (`reference_size`). A root's estimate is the
    sum of _document_bytes over its embed tree (a two-way junction counts
    in both endpoints' roots), divided by the root's rows. It bounds the
    mean document, not the largest: a root row holding most of a child's
    rows can still exceed the limit."""
    plan = NoSQLPlan(name)
    maf = catalog.maf
    root_bytes: dict[str, float] = {}
    decisions: list[tuple[TableMeta, str]] = []
    for table in create_table_queue(catalog):
        decision = _reference_decision(catalog, maf, table)
        if decision == "embed_one_way":
            embeds = _one_way_embed(plan, table)
        elif decision == "embed_two_way":
            embeds = _two_way_embed(catalog, plan, table)
        else:
            embeds = []
        added: dict[str, float] = {}
        for parent, child in embeds:
            root = _root_of(plan, parent.name).name
            added[root] = (added.get(root, 0.0)
                           + _document_bytes(catalog, table, child))
        if any(extra and _mean_over_limit(catalog, root,
                                          root_bytes[root] + extra)
               for root, extra in added.items()):
            decision = "reference_size"
            plan.size_referenced.append(table.name)
        if decision.startswith("embed"):
            for parent, child in embeds:
                parent.embedded.append(child)
            for root, extra in added.items():
                root_bytes[root] += extra
        else:
            coll = (Collection(table.name, _fields(table.columns))
                    if decision == "root" else _referencing(table))
            plan.collections.append(coll)
            root_bytes[table.name] = _document_bytes(catalog, table, coll)
        decisions.append((table, decision))
    return plan, decisions


def classify_tables(catalog: Catalog) -> list[tuple[TableMeta, str]]:
    """Label every table in processing order with its embed-vs-reference
    decision (the rule cascade of server/DBMigration.js:335-392, then the
    document size rule). This is the single decision point —
    `convert_schema` builds the plan from the same pass, and the
    `plan_embed_or_reference` registry query exposes the labels.
    """
    return _plan(catalog, "db")[1]


def convert_schema(catalog: Catalog, name: str = "db") -> NoSQLPlan:
    """Run the embed-vs-reference rules over the processing queue."""
    return _plan(catalog, name)[0]
