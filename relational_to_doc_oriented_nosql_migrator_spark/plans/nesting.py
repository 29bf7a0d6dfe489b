"""Nesting materializer — IR#2 plan -> Catalyst join/collect_list DAG.

The reference materializes documents with a nested-loop that re-scans the
entire child table once per parent row (reference server/DBMigration.js:
405-522 — O(parents x child-scan), one SQL round-trip per parent row), and
an index nested-loop point probe per junction row for two-way embedding
(server/DBMigration.js:524-575). Both are re-expressed as the canonical
Spark nesting idiom:

    child.groupBy(fk).agg(collect_list(struct(*fields)))  # one shuffle
         .join(parent, parent[ref] == child[fk], "left")  # hash/SMJ join

applied bottom-up over the plan's collections (their fields, `link` FK
and a two-way copy's `other` FK: plans/planner.Collection), so
multi-level embedding (region > territory[] > employeeterritory[],
reference server/models/NoSQLDatabase.js:13-27) rides along as
already-nested array columns. Catalyst picks broadcast
vs sort-merge per side; AQE re-plans for skew at scale.

Scale notes (100 TB): every nesting edge is exactly ONE shuffle of the child
table keyed by its FK (map-side partial collect_list applies), versus the
reference's O(P) scans. Embedded arrays are sorted with array_sort for
deterministic output (the reference's array order is DB-arbitrary —
SURVEY §2.5 fidelity note).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from relational_to_doc_oriented_nosql_migrator_spark.functions.scalar import (
    date_normalize,
)
from relational_to_doc_oriented_nosql_migrator_spark.plans.catalog import Catalog
from relational_to_doc_oriented_nosql_migrator_spark.plans.planner import (
    Collection,
    Field,
    NoSQLPlan,
)

# When the parent table has only a handful of rows, each nesting group is
# a corpus-share-sized document (5 regions -> ~1/5 of everything under
# each, up to the planner's 16 MiB mean-document cap), so every
# concurrently-running aggregation task pins one document-sized buffer
# in its heap. Packing >= this many groups per task caps the number of
# simultaneously-materialized large documents at parent_rows /
# HEAVY_GROUPS_PER_TASK per executor heap (the sink's sort-based
# aggregation builds the groups within a task one at a time). Parents
# bigger than SMALL_PARENT_ROWS have proportionally small per-group
# documents and keep full fan-out.
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
        date_normalize(_col(c)).alias(c) if c in dates else _col(c)
        for c in df.columns
    ])


def _quoted(name: str) -> str:
    """`name` as one quoted identifier: Spark reads no `.` in it as a
    struct field access and no backtick as a quote."""
    return "`" + name.replace("`", "``") + "`"


def _col(name: str) -> Column:
    """The column called `name`, whatever characters the name holds."""
    return F.col(_quoted(name))


def _field_col(f: Field, prefix: str = "") -> Column:
    col = _col(prefix + f.column)
    return col if prefix + f.column == f.name else col.alias(f.name)


def _subtree_rows(catalog: Catalog, emb: Collection) -> int:
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
    emb: Collection,
    normalize_dates: bool,
) -> tuple[DataFrame, list[str], str]:
    """Build the child DataFrame for one embedded collection.

    Returns (df, struct_field_names, link_column): df carries the
    fields, any already-nested child arrays, and the link column to the
    parent.
    """
    df = _table(tables, emb.name, normalize_dates)

    # Bottom-up: attach this collection's own embedded children first, so
    # their arrays become ordinary columns of the child.
    for nested in emb.embedded:
        df = _attach_embedded(tables, catalog, df, emb.name, nested,
                              normalize_dates)

    fields = emb.document_fields
    prefix = ""
    if emb.other:
        # Two-way embedded junction: the reference's per-junction-row
        # point probe (server/DBMigration.js:524-575) is an inner
        # equi-join with fan-out; the other endpoint's columns come in
        # prefixed and replace the junction's (Collection.other).
        other = emb.other
        prefix = "__other_"
        prefixed = _table(tables, other.referenced_table,
                          normalize_dates).select(
            [_col(other.referenced_column).alias("__other_key")]
            + [_col(f.column).alias(prefix + f.column)
               for f in fields if f.other]
        )
        df = df.join(
            prefixed, df[_quoted(other.column)] == prefixed["__other_key"],
            "inner",
        )
    names = [f.name for f in fields]
    link = emb.link.column
    keep = [_field_col(f, prefix if f.other else "") for f in fields]
    keep += [_col(n.name) for n in emb.embedded]
    if link not in names:
        keep.append(_col(link))
    names += [n.name for n in emb.embedded]
    return df.select(*keep), names, link


def _attach_embedded(
    tables: dict[str, DataFrame],
    catalog: Catalog,
    parent_df: DataFrame,
    parent_table: str,
    emb: Collection,
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
        child_df.repartition(npart, _col(fk_col))
        .groupBy(_col(fk_col).alias("__nest_key"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct(*[_col(f_) for f_ in fields]))
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
        parent_df[_quoted(emb.link.referenced_column)]
        == grouped["__nest_key"],
        "left",
    ).drop("__nest_key")
    return out


def _root_frame(
    tables: dict[str, DataFrame],
    root: Collection,
    normalize_dates: bool,
) -> DataFrame:
    """A root collection's own document fields, before any child is
    attached; `filter_nonempty_doc` drops documents where no field is
    set (reference server/DBMigration.js:473,481,491)."""
    df = _table(tables, root.name, normalize_dates)
    fields = root.document_fields
    return df.select(*[_field_col(f) for f in fields]).na.drop(
        how="all", subset=[_quoted(f.name) for f in fields])


def materialize(
    tables: dict[str, DataFrame],
    catalog: Catalog,
    plan: NoSQLPlan,
    normalize_dates: bool = True,
) -> dict[str, DataFrame]:
    """Materialize every root collection of the plan as a nested
    DataFrame, laid out as the planner's Collection says."""
    out: dict[str, DataFrame] = {}
    for root in plan.collections:
        df = _root_frame(tables, root, normalize_dates)
        for emb in root.embedded:
            df = _attach_embedded(tables, catalog, df, root.name, emb,
                                  normalize_dates)
        out[root.name] = df
    return out


# perfbench/spans.py traces this name (TARGETS); nothing else calls it.
materialize_streamed_root = materialize
