"""Property-based checks of the schema-conversion planner over random
FK DAGs + random workloads (hypothesis). These verify structural invariants
with independent reimplementations, not by replaying the planner's code:

- admission fixpoint: the processing queue equals the closure of tables
  whose referenced tables are all admitted (reference DBMigration.js:194-262
  computes it by BFS; we recompute it by naive iteration)
- referenced-before-referencing order within the queue
- rule outcomes: 0-FK root, >2-FK referencing with *_REF renames,
  hot-table referencing, idle 1-FK one-way embed without the FK column,
  idle 2-FK junction embedded under BOTH endpoints with cross-marking
- links, also when two FKs reference one table: an embedded collection
  joins its parent by one of its own FKs, and a two-way junction's two
  copies by different ones, each denormalizing the other's endpoint
"""

from hypothesis import given, settings, strategies as st

from relational_to_doc_oriented_nosql_migrator_spark.plans.catalog import (
    Catalog,
    ForeignKey,
    TableMeta,
)
from relational_to_doc_oriented_nosql_migrator_spark.plans.planner import (
    Collection,
    convert_schema,
    create_table_queue,
)


def _meta(draw, name: str, fks: list[ForeignKey]) -> TableMeta:
    meta = TableMeta(
        name=name,
        num_rows=draw(st.integers(min_value=1, max_value=1000)),
        columns=[f"{name}_id", f"{name}_a"] + [fk.column for fk in fks],
        primary_keys=[f"{name}_id"],
        foreign_keys=fks,
    )
    meta.gaf = draw(st.integers(min_value=0, max_value=100_000))
    meta.uaf = draw(st.integers(min_value=0, max_value=meta.gaf))
    return meta


@st.composite
def catalogs(draw):
    n = draw(st.integers(min_value=2, max_value=8))
    metas = []
    for i in range(n):
        name = f"t{i}"
        n_fks = draw(st.integers(min_value=0, max_value=min(3, i)))
        targets = draw(
            st.lists(
                st.integers(min_value=0, max_value=i - 1),
                min_size=n_fks, max_size=n_fks, unique=True,
            )
        ) if n_fks else []
        fks = [ForeignKey(f"fk_{j}", f"t{j}", f"t{j}_id") for j in targets]
        metas.append(_meta(draw, name, fks))
    return Catalog(metas)


@st.composite
def catalogs_with_shared_targets(draw):
    """Like catalogs, but a table's FKs may reference one table more than
    once (a self-junction, a two-column composite FK)."""
    n = draw(st.integers(min_value=2, max_value=8))
    metas = []
    for i in range(1, n + 1):
        name = f"t{i}"
        targets = draw(st.lists(st.integers(min_value=0, max_value=i - 1),
                                max_size=min(3, i)))
        fks = [ForeignKey(f"fk{k}_t{j}", f"t{j}", f"t{j}_id")
               for k, j in enumerate(targets)]
        metas.append(_meta(draw, name, fks))
    return Catalog([_meta(draw, "t0", [])] + metas)


def _fixpoint_admissible(catalog: Catalog) -> set[str]:
    """Independent reimplementation of queue admission: 0-FK seeds, then
    repeatedly admit tables all of whose referenced tables are admitted
    (self-references exempt)."""
    admitted = {t.name for t in catalog.tables.values()
                if t.num_foreign_keys == 0}
    changed = True
    while changed:
        changed = False
        for t in catalog.tables.values():
            if t.name in admitted or t.num_foreign_keys == 0:
                continue
            if all(fk.referenced_table in admitted
                   or fk.referenced_table == t.name
                   for fk in t.foreign_keys):
                admitted.add(t.name)
                changed = True
    return admitted


def _all_collections(plan) -> list[Collection]:
    out = []
    stack = list(plan.collections)
    while stack:
        c = stack.pop()
        out.append(c)
        stack.extend(c.embedded)
    return out


@given(catalogs())
@settings(max_examples=200, deadline=None)
def test_queue_is_admission_fixpoint(catalog):
    queue = create_table_queue(catalog)
    names = [t.name for t in queue]
    assert len(names) == len(set(names))  # no table processed twice
    assert set(names) == _fixpoint_admissible(catalog)


@given(catalogs())
@settings(max_examples=200, deadline=None)
def test_queue_orders_referenced_first(catalog):
    queue = create_table_queue(catalog)
    pos = {t.name: i for i, t in enumerate(queue)}
    for t in queue:
        for fk in t.foreign_keys:
            if fk.referenced_table != t.name and fk.referenced_table in pos:
                assert pos[fk.referenced_table] < pos[t.name]


@given(catalogs())
@settings(max_examples=200, deadline=None)
def test_rule_outcomes(catalog):
    plan = convert_schema(catalog)  # must be total: never raises
    maf = catalog.maf
    roots = {c.name for c in plan.collections}
    colls = _all_collections(plan)
    by_name: dict[str, list[Collection]] = {}
    for c in colls:
        by_name.setdefault(c.name, []).append(c)

    for table in create_table_queue(catalog):
        occurrences = by_name.get(table.name, [])
        fk_cols = {fk.column for fk in table.foreign_keys}
        hot = table.uaf > maf or (
            table.is_referenced
            and any(
                catalog.get_table(r).uaf > maf
                for r in table.referencing_tables
                if catalog.get_table(r) is not None
            )
        )
        if table.num_foreign_keys == 0:
            assert table.name in roots
            assert occurrences[0].attributes == table.columns
        elif table.num_foreign_keys > 2 or hot:
            # Referencing root: FK columns renamed *_REF, others unchanged.
            assert table.name in roots
            expected = [
                c + "_REF" if c in fk_cols else c for c in table.columns
            ]
            root = next(c for c in plan.collections if c.name == table.name)
            assert root.attributes == expected
        elif table.num_foreign_keys == 1:
            # One-way embed: single copy, under the referenced collection,
            # without the FK column.
            assert len(occurrences) == 1
            emb = occurrences[0]
            assert table.foreign_keys[0].column not in emb.attributes
            parent = next(
                c for c in colls if any(e is emb for e in c.embedded)
            )
            ref_coll = plan.get_collection(
                table.foreign_keys[0].referenced_table
            )
            assert parent is ref_coll
        else:
            # Idle junction: embedded under BOTH endpoints, cross-marked
            # with the other endpoint's name.
            assert len(occurrences) == 2
            marks = {c.embedded_attributes_from for c in occurrences}
            endpoints = {
                plan.get_collection(fk.referenced_table).name
                for fk in table.foreign_keys
            }
            assert marks == endpoints


@given(st.one_of(catalogs(), catalogs_with_shared_targets()))
@settings(max_examples=200, deadline=None)
def test_links_are_own_fks_to_the_parent(catalog):
    plan = convert_schema(catalog)
    copies: dict[str, list[Collection]] = {}
    stack = [(None, root) for root in plan.collections]
    while stack:
        parent, coll = stack.pop()
        stack.extend((coll, e) for e in coll.embedded)
        if parent is None:
            assert coll.link is None and coll.other is None
            continue
        fks = catalog.get_table(coll.name).foreign_keys
        assert any(fk is coll.link for fk in fks)
        assert coll.link.referenced_table == parent.name
        if coll.other is not None:
            assert any(fk is coll.other for fk in fks)
            copies.setdefault(coll.name, []).append(coll)
    for name, (one, two) in copies.items():
        assert one.link is not two.link, name
        assert one.other is two.link and two.other is one.link, name
