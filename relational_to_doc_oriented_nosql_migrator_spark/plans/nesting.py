"""Nesting materializer — IR#2 plan -> Catalyst join/collect_list DAG.

The reference materializes documents with a nested-loop that re-scans the
entire child table once per parent row (reference server/DBMigration.js:
405-522 — O(parents x child-scan), one SQL round-trip per parent row), and
an index nested-loop point probe per junction row for two-way embedding
(server/DBMigration.js:524-575). Both are re-expressed as the canonical
Spark nesting idiom:

    child.groupBy(fk).agg(collect_list(struct(*fields)))  # one shuffle
         .join(parent, parent[ref] == child[fk], "left")  # hash/SMJ join

applied bottom-up over the nesting tree, so multi-level embedding (region >
territory[] > employeeterritory[], reference server/models/NoSQLDatabase.js:
13-27) rides along as already-nested array columns. Catalyst picks broadcast
vs sort-merge per side; AQE re-plans for skew at scale.

Scale notes (100 TB): every nesting edge is exactly ONE shuffle of the child
table keyed by its FK (map-side partial collect_list applies), versus the
reference's O(P) scans. Embedded arrays are sorted with array_sort for
deterministic output (the reference's array order is DB-arbitrary —
SURVEY §2.5 fidelity note).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from relational_to_doc_oriented_nosql_migrator_spark.functions.scalar import (
    date_normalize,
)
from relational_to_doc_oriented_nosql_migrator_spark.plans.catalog import Catalog
from relational_to_doc_oriented_nosql_migrator_spark.plans.planner import (
    Collection,
    NoSQLPlan,
)
from relational_to_doc_oriented_nosql_migrator_spark.plans.shape import (
    Field,
    Shape,
    document_shapes,
)

# When the parent table has only a handful of rows, each nesting group is
# a corpus-share-sized document (5 regions -> ~1/5 of everything under
# each), so every concurrently-running aggregation task pins one
# document-sized buffer in its heap. Packing >= this many groups per
# task caps the number of simultaneously-materialized giant documents at
# parent_rows / HEAVY_GROUPS_PER_TASK per executor heap (the sink's
# sort-based aggregation streams the groups within a task one at a
# time), which is what lets the full 10x migrate+sink run inside the
# sweep's 1 GB local-mode heap. Parents bigger than SMALL_PARENT_ROWS
# have proportionally small per-group documents and keep full fan-out.
HEAVY_GROUPS_PER_TASK = 4
SMALL_PARENT_ROWS = 256

# The nest aggregation holds one partition's document buffers in memory
# at a time, so per-task memory is (child rows per partition) x (bytes
# per row). A FIXED partition count therefore scales per-task memory
# linearly with the data — the 100x dataset OOMed an 8 GB local[32]
# heap with spark.sql.shuffle.partitions=32 (60M lineitem rows / 32 =
# 1.9M rows of struct buffers per task). Size the FK repartition by the
# child's catalog row count instead, counting the whole embedded
# subtree (an orders row attaching to customer already carries its
# lineitem array, so its true width is the subtree's, not the row's).
# At or below ~200k subtree rows per task the buffers stay tens of MB;
# small inputs keep the configured partition count unchanged.
TARGET_NEST_ROWS_PER_TASK = 200_000


# Per-root STREAMED ASSEMBLY threshold (r08 verdict #2). Materializing a
# root document as one row has an inherent heap floor: with a tiny root
# cardinality each document holds ~|subtree|/|roots| rows (a region at
# the 100x dataset embeds ~1/5 of the corpus — a ~420 MB single row,
# then a comparably-sized JSON string in ONE task at write time), and
# that floor grows linearly with scale under the same root count. Past
# this subtree-row bound the JSON sink assembles such roots in FILE
# space instead of row space: EVERY over-threshold embedded child is
# written as per-root sorted JSON fragments (one nesting level down —
# bounded by the LEVEL-2 document size, |subtree|/|level-2 groups|) and
# the root line is stitched by streaming concatenation, so no task ever
# holds a root-document-sized buffer. Below the bound nothing changes —
# the recorded sf0.1 bench and sf1.0 sweep plans are untouched.
#
# The trick applies RECURSIVELY (StreamedLevel): while a split-out
# child's own documents would still be row-materialization hazards
# (>= 1 embedded subtree past the threshold and the child cardinality
# SMALL_PARENT_ROWS-tiny), the child level splits again — its fragments
# carry only scalars + light sibling arrays (sortable struct segments
# around the heavy children's positions) and each heavy descendant
# becomes its own fragment dataset. At the 100x dataset that takes the
# largest executor-side row from a ~120 MB nation document (whose
# sorter-page copies were humongous G1 allocations — a 4 GB heap OOMed
# in the fragment sort) down to a ~KB customer document; the floor
# stops scaling with the corpus entirely.
#
# Measured under a 1 GB driver heap on 10x and 30x copies of the sf0.1
# tables: both paths complete at 10x with equal output, and at 30x the
# row path dies with OutOfMemoryError while the streamed one completes.
# The stream planners read this constant at call time (tests patch it).
HEAVY_ROOT_SUBTREE_ROWS = 5_000_000


@dataclass
class StreamedLevel:
    """One HEAVY embedded collection, split out of its parent's document
    rows into a per-parent-key fragment dataset. Exactly one of
    rows/fragments is set:

    - LEAF mode (rows): (__pk, __st) — one row per complete child
      DOCUMENT (its own nested arrays already attached), keyed by the
      canonical-encoded parent FK value (_stream_key). Struct-typed so
      the sink can sort by __st (field-by-field struct ordering ==
      array_sort's element comparator) before rendering with to_json.
    - SPLIT mode (fragments + children): this level's own documents are
      still row-materialization hazards (tiny cardinality, >= 1 embedded
      subtree past the threshold), so its heavy children recurse as
      StreamedLevels of their own and the fragment row carries only what
      remains: (__pk, __k0..__k{J-1}, __seg0..__segJ) — one canonical
      key per heavy child (NULL coalesced to NULL_KEY_SENTINEL) and the
      document's scalars + light sibling arrays as J+1 sortable struct
      segments around the heavy children's schema positions.

    The array order contract weakens only on exact scalar+light-array
    ties in SPLIT mode (array_sort would compare the split-out heavy
    arrays too); with unique leading keys — every planner catalog
    here — the orders are identical.
    """

    name: str
    rows: DataFrame | None = None
    fragments: DataFrame | None = None
    children: list["StreamedLevel"] = field(default_factory=list)


@dataclass
class StreamedRoot:
    """Pieces the JSON sink needs to assemble one heavy root collection
    by streaming (sinks/json_collections._write_streamed): roots is one
    row per root document — per heavy child i its canonical-encoded FK
    key __fk{i} (NULL keys stay NULL and simply get no child array) and
    the document's JSON split at the heavy children's schema positions
    (__seg0..__segN halves, to_json rendered with the same
    null-omission semantics as the distributed writer). children holds
    one StreamedLevel per heavy child, recursively (r09 verdict #4:
    EVERY over-threshold child streams, not just the heaviest)."""

    roots: DataFrame
    children: list[StreamedLevel]


def stream_plan(catalog: Catalog, plan: NoSQLPlan) -> dict[str, list[str]]:
    """root collection name -> ALL embedded children whose subtree has
    at least HEAVY_ROOT_SUBTREE_ROWS rows (plan order), for roots whose
    tiny cardinality (at most SMALL_PARENT_ROWS catalog rows) makes
    single-row documents a heap hazard. The cardinality gate also bounds
    the sink's streamed write at SMALL_PARENT_ROWS part files, one root
    each. Catalog-metadata only — no Spark job."""
    out: dict[str, list[str]] = {}
    for root in plan.collections:
        heavy = _heavy_children(catalog, root)
        if heavy:
            out[root.name] = [e.name for e in heavy]
    return out


def _heavy_children(catalog: Catalog, node: Collection | Shape) -> list:
    """The one streaming rule, for a root and for every streamed level
    below it: node's embedded children whose subtree has at least
    HEAVY_ROOT_SUBTREE_ROWS rows (plan order), or none unless node has
    1..SMALL_PARENT_ROWS catalog rows."""
    if not node.embedded:
        return []
    rows = catalog.get_table(node.name).num_rows or 0
    if not 0 < rows <= SMALL_PARENT_ROWS:
        return []
    return [e for e in node.embedded
            if _subtree_rows(catalog, e) >= HEAVY_ROOT_SUBTREE_ROWS]


def _stream_key(col: Column) -> Column:
    """Spark-side CANONICAL encoding of a streamed-assembly key: cast to
    string, URL-encode, prefix 'k'. Both the partition column and the
    collected lookup value go through this one expression (r09 deferred
    findings #1/#2), so: bool/decimal/timestamp keys can never mismatch
    a Python str() rendering (Spark casts both sides); an empty-string
    key stays a real non-empty partition value instead of falling into
    __HIVE_DEFAULT_PARTITION__ (where it would be indistinguishable
    from NULL); and the encoded text contains no tabs or control chars,
    making the two-level fragment line framing safe for any key value.
    The writer's escapePathName('%' -> '%25') is exactly reversed by
    the sink's single urllib unquote, restoring this encoded value."""
    return F.concat(F.lit("k"), F.url_encode(col.cast("string")))


# Fragment rows whose child key is NULL keep their line framing via this
# sentinel; its directory lookup misses, so the grandchild array is
# omitted — the same result the distributed path's null-key FK join
# produces.
NULL_KEY_SENTINEL = "__sg_null_key__"


def _split_segments(
    order: list[str], heavy_names: list[str], present: set[str]
) -> list[list[str]]:
    """Split a document's field order into the J+1 column segments
    around its J heavy children's positions (heavy_names in order
    order); columns absent from `present` are dropped (unmatched
    attributes)."""
    segs: list[list[str]] = []
    cur: list[str] = []
    heavy_set = set(heavy_names)
    for c in order:
        if c in heavy_set:
            segs.append(cur)
            cur = []
        elif c in present:
            cur.append(c)
    segs.append(cur)
    return segs


def materialize_streamed_root(
    tables: dict[str, DataFrame],
    catalog: Catalog,
    plan: NoSQLPlan,
    root_name: str,
    child_names: list[str] | str,
    normalize_dates: bool = True,
) -> StreamedRoot:
    """Build the streamed-assembly pieces for one heavy root: the root
    frame WITHOUT the heavy children (all other children attached as
    usual), split into JSON segments around the heavy children's schema
    positions, plus one recursive StreamedLevel per heavy child (each
    splits again while its own documents are still heap hazards — see
    _streamed_level). Field order and null-omission match the normal
    nested frame exactly, so the assembled NDJSON parses identically
    under the nested schema (pinned by tests/test_streamed_sink.py)."""
    if isinstance(child_names, str):
        child_names = [child_names]
    child_names = set(child_names)
    root = next(s for s in document_shapes(catalog, plan)
                if s.name == root_name)
    # Plan order, regardless of caller order:
    heavies = [e for e in root.embedded if e.name in child_names]
    missing = child_names - {e.name for e in root.embedded}
    if missing:
        raise ValueError(f"{root_name} has no embedded child {missing}")
    df = _root_frame(tables, root, normalize_dates)
    for emb in root.embedded:
        if emb.name in child_names:
            continue
        df = _attach_embedded(tables, catalog, df, root.name, emb,
                              normalize_dates)
    # Normal-mode column order is the fields, then embedded children in
    # plan order (each attach appends its array column): splice the
    # heavy children back at their positions.
    order = _field_names(root) + [e.name for e in root.embedded]
    segs = _split_segments(order, [e.name for e in heavies],
                           set(df.columns))
    cols = [
        _stream_key(F.col(e.parent_key)).alias(f"__fk{i}")
        for i, e in enumerate(heavies)
    ]
    for i, seg in enumerate(segs):
        cols.append(
            (
                F.to_json(F.struct(*[F.col(c) for c in seg]))
                if seg else F.lit("{}")
            ).alias(f"__seg{i}")
        )
    roots = df.select(*cols)
    children = [
        _streamed_level(tables, catalog, e, normalize_dates) for e in heavies
    ]
    return StreamedRoot(roots=roots, children=children)


def _streamed_level(
    tables: dict[str, DataFrame],
    catalog: Catalog,
    emb: Shape,
    normalize_dates: bool,
) -> StreamedLevel:
    """One heavy embedded collection as a streamed level. Recurses while
    the level's own documents are still heap hazards: >= 1 embedded
    subtree past the threshold AND this level's cardinality tiny enough
    that per-key fragment dirs stay metadata-scale. Then the level is
    fragments (scalars + light siblings as struct segments around the
    heavy children's positions) and each heavy child becomes its own
    level — executor-side row sizes drop one document level per split.

    NULL-keyed rows never join a parent in the distributed path (FK
    equality with NULL), so they are filtered; NULL heavy-child keys
    keep their fragment line framing via NULL_KEY_SENTINEL (the sink's
    directory lookup misses, omitting the array — same result as the
    distributed path's null-key FK join)."""
    heavy = _heavy_children(catalog, emb)
    if not heavy:
        df, fields, fk_col = _prepare_child(
            tables, catalog, emb, normalize_dates
        )
        rows = df.filter(F.col(fk_col).isNotNull()).select(
            _stream_key(F.col(fk_col)).alias("__pk"),
            F.struct(*[F.col(f_) for f_ in fields]).alias("__st"),
        )
        return StreamedLevel(name=emb.name, rows=rows)
    heavy_names = [n.name for n in heavy]
    frag_df, frag_fields, frag_fk = _prepare_child(
        tables, catalog, emb, normalize_dates,
        skip_children=set(heavy_names),
    )
    # frag_fields lacks the heavy children; their normal-mode positions
    # are the fields, then embedded in plan order.
    full_order = _field_names(emb) + [n.name for n in emb.embedded]
    segs = _split_segments(full_order, heavy_names, set(frag_fields))
    cols = [_stream_key(F.col(frag_fk)).alias("__pk")]
    for j, n in enumerate(heavy):
        cols.append(
            F.coalesce(
                _stream_key(F.col(n.parent_key)),
                F.lit(NULL_KEY_SENTINEL),
            ).alias(f"__k{j}")
        )
    for j, seg in enumerate(segs):
        cols.append(
            (
                F.struct(*[F.col(c) for c in seg]) if seg
                else F.struct(F.lit(None).alias("__none"))
            ).alias(f"__seg{j}")
        )
    fragments = frag_df.filter(F.col(frag_fk).isNotNull()).select(*cols)
    return StreamedLevel(
        name=emb.name,
        fragments=fragments,
        children=[
            _streamed_level(tables, catalog, n, normalize_dates)
            for n in heavy
        ],
    )


def normalize_date_columns(df: DataFrame) -> DataFrame:
    """`fn_date_normalize`: date/timestamp columns -> 'yyyy-MM-dd' strings in
    Asia/Bangkok local time.

    The reference value-sniffs every field (any Date, or any string
    Date.parse accepts, is rewritten — reference server/MySQLDBManager.js:
    268-276,314-319). We scope by column *type* instead: the sniffing is an
    artifact of the untyped driver rows, not a feature (SURVEY §1.1).
    """
    dates = {
        f_.name for f_ in df.schema.fields
        if isinstance(
            f_.dataType, (T.TimestampType, T.TimestampNTZType, T.DateType)
        )
    }
    if not dates:
        return df
    return df.select(*[
        date_normalize(F.col(c)).alias(c) if c in dates else F.col(c)
        for c in df.columns
    ])


def _field_names(shape: Shape) -> list[str]:
    return [f.name for f in shape.fields]


def _field_col(f: Field, prefix: str = "") -> Column:
    col = F.col(prefix + f.column)
    return col if prefix + f.column == f.name else col.alias(f.name)


def _subtree_rows(catalog: Catalog, emb: Collection | Shape) -> int:
    """Catalog row count of an embedded collection plus everything nested
    under it — the true payload volume of the child frame being
    repartitioned, since earlier attaches fold descendants into arrays."""
    rows = catalog.get_table(emb.name).num_rows or 0
    for nested in emb.embedded:
        rows += _subtree_rows(catalog, nested)
    return rows


def _table(tables: dict[str, DataFrame], name: str,
           normalize_dates: bool) -> DataFrame:
    df = tables[name]
    return normalize_date_columns(df) if normalize_dates else df


def _prepare_child(
    tables: dict[str, DataFrame],
    catalog: Catalog,
    emb: Shape,
    normalize_dates: bool,
    skip_children: set[str] | None = None,
) -> tuple[DataFrame, list[str], str]:
    """Build the child DataFrame for one embedded collection.

    Returns (df, struct_field_names, link_column): df carries the
    fields, any already-nested child arrays, and the link column to the
    parent. skip_children omits embedded collections (the
    streamed-assembly path splices them back in file space — see
    StreamedLevel).
    """
    df = _table(tables, emb.name, normalize_dates)

    # Bottom-up: attach this collection's own embedded children first, so
    # their arrays become ordinary columns of the child.
    embedded = [n for n in emb.embedded
                if n.name not in (skip_children or ())]
    for nested in embedded:
        df = _attach_embedded(tables, catalog, df, emb.name, nested,
                              normalize_dates)

    prefix = ""
    if emb.other:
        # Two-way embedded junction: the reference's per-junction-row
        # point probe (server/DBMigration.js:524-575) is an inner
        # equi-join with fan-out; the other endpoint's columns come in
        # prefixed and replace the junction's (Shape.other).
        other = emb.other
        prefix = "__other_"
        prefixed = _table(tables, other.table, normalize_dates).select(
            [F.col(other.key).alias("__other_key")]
            + [F.col(f.column).alias(prefix + f.column)
               for f in emb.fields if f.other]
        )
        df = df.join(
            prefixed, df[other.column] == prefixed["__other_key"], "inner"
        )
    names = _field_names(emb)
    keep = [_field_col(f, prefix if f.other else "") for f in emb.fields]
    keep += [F.col(n.name) for n in embedded]
    if emb.link not in names:
        keep.append(F.col(emb.link))
    fields = names + [n.name for n in embedded]
    return df.select(*keep), fields, emb.link


def _attach_embedded(
    tables: dict[str, DataFrame],
    catalog: Catalog,
    parent_df: DataFrame,
    parent_table: str,
    emb: Shape,
    normalize_dates: bool,
) -> DataFrame:
    """Nest one embedded collection under parent_df as an array column."""
    child_df, fields, fk_col = _prepare_child(
        tables, catalog, emb, normalize_dates
    )

    # Repartition on the FK BEFORE aggregating: map-side partial
    # collect_list gives zero reduction (it's a list append), but it
    # makes every mapper hold its whole input as aggregation buffers and
    # then serialize them as document-sized rows into the shuffle — the
    # allocation that OOMed the 10x sweep's 1 GB heap (BufferHolder.grow
    # inside Collect.serialize during shuffle write). With the explicit
    # hash distribution already satisfied, partial+final run back-to-back
    # AFTER the exchange, so the shuffle carries raw spillable child rows
    # and document-sized buffers exist only where the output inherently
    # needs them: one partition's groups at a time. For tiny parents the
    # partition count additionally caps concurrent giant-group buffers
    # (HEAVY_GROUPS_PER_TASK above) — the row-count metadata is already
    # in the catalog, no extra job.
    parent_rows = catalog.get_table(parent_table).num_rows or 0
    spark = child_df.sparkSession
    npart = int(spark.conf.get("spark.sql.shuffle.partitions"))
    subtree_rows = _subtree_rows(catalog, emb)
    if subtree_rows > TARGET_NEST_ROWS_PER_TASK * npart:
        # Volume-scaled fan-out (see TARGET_NEST_ROWS_PER_TASK): more
        # partitions, same per-task memory, at any scale factor. The
        # shuffled-hash nest join below co-partitions to this count (the
        # aggregation's alias-aware output partitioning carries through),
        # so the join's per-task hash build shrinks proportionally too.
        npart = -(-subtree_rows // TARGET_NEST_ROWS_PER_TASK)
    if 0 < parent_rows <= SMALL_PARENT_ROWS:
        npart = min(npart, max(1, parent_rows // HEAVY_GROUPS_PER_TASK))
    grouped = (
        child_df.repartition(npart, F.col(fk_col))
        .groupBy(F.col(fk_col).alias("__nest_key"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct(*[F.col(f_) for f_ in fields]))
            ).alias(emb.name)
        )
    )
    # The nest join must neither SORT document rows (SMJ copies each row
    # into sorter pages — multi-MB humongous allocations per document)
    # nor BROADCAST either side (a parent that already carries arrays
    # from a previous attach is document-scale: nation-with-customers is
    # ~350 MB at the 10x dataset, and Catalyst's post-aggregate size
    # estimates make doc frames look broadcastable forever — the same
    # estimate blindness as the Generate class). Hint a shuffled-hash
    # join built on the provably LIGHT side: the parent while it is
    # still raw (no array columns yet), otherwise the freshly-grouped
    # side, which carries exactly one child's arrays vs the parent's
    # accumulated ones. The grouped side keeps its aggregation
    # partitioning, so document rows move at most once per nesting edge.
    parent_is_raw = not any(
        isinstance(f_.dataType, T.ArrayType)
        for f_ in parent_df.schema.fields
    )
    left = parent_df.hint("shuffle_hash") if parent_is_raw else parent_df
    right = grouped if parent_is_raw else grouped.hint("shuffle_hash")
    out = left.join(
        right,
        parent_df[emb.parent_key] == grouped["__nest_key"],
        "left",
    ).drop("__nest_key")
    return out


def _root_frame(
    tables: dict[str, DataFrame],
    root: Shape,
    normalize_dates: bool,
) -> DataFrame:
    """A root collection's own document fields, before any child is
    attached; `filter_nonempty_doc` drops documents where no field is
    set (reference server/DBMigration.js:473,481,491)."""
    df = _table(tables, root.name, normalize_dates)
    return df.select(*[_field_col(f) for f in root.fields]).na.drop(
        how="all", subset=_field_names(root))


def materialize(
    tables: dict[str, DataFrame],
    catalog: Catalog,
    plan: NoSQLPlan,
    normalize_dates: bool = True,
) -> dict[str, DataFrame]:
    """Materialize every root collection of the plan as a nested
    DataFrame, built from its document shape (plans/shape.py)."""
    out: dict[str, DataFrame] = {}
    for root in document_shapes(catalog, plan):
        df = _root_frame(tables, root, normalize_dates)
        for emb in root.embedded:
            df = _attach_embedded(tables, catalog, df, root.name, emb,
                                  normalize_dates)
        out[root.name] = df
    return out
