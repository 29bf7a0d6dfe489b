"""Volume-scaled nest partitioning (plans/nesting.py).

The nest aggregation holds one shuffle partition's document buffers in
memory at a time, so a FIXED partition count scales per-task memory
linearly with the data (the 100x dataset OOMed an 8 GB local[32] heap at
shuffle.partitions=32). These tests pin the fix: the FK repartition is
sized from the catalog's row counts — counting the whole embedded
subtree, since earlier attaches fold descendants into the child rows —
while small inputs keep the configured partition count unchanged.
"""

import math

from pyspark.sql import functions as F

from relational_to_doc_oriented_nosql_migrator_spark.plans.catalog import (
    Catalog,
    ForeignKey,
    TableMeta,
)
from relational_to_doc_oriented_nosql_migrator_spark.plans.nesting import (
    TARGET_NEST_ROWS_PER_TASK,
    _attach_embedded,
    _subtree_rows,
)
from relational_to_doc_oriented_nosql_migrator_spark.plans.planner import (
    Collection,
    Field,
)


def _catalog(child_rows: int, grandchild_rows: int = 0) -> Catalog:
    tables = [
        TableMeta(name="p", num_rows=1000, columns=["pk", "pname"],
                  primary_keys=["pk"]),
        TableMeta(
            name="c", num_rows=child_rows, columns=["ck", "cval", "pk_fk"],
            primary_keys=["ck"],
            foreign_keys=[ForeignKey("pk_fk", "p", "pk")],
        ),
    ]
    if grandchild_rows:
        tables.append(TableMeta(
            name="g", num_rows=grandchild_rows, columns=["gk", "ck_fk"],
            primary_keys=["gk"],
            foreign_keys=[ForeignKey("ck_fk", "c", "ck")],
        ))
    return Catalog(tables)


def _fields(*columns: str) -> list[Field]:
    return [Field(c, c) for c in columns]


def _child(cat: Catalog) -> Collection:
    """c embedded in p by its FK."""
    return Collection("c", _fields("ck", "cval"),
                      link=cat.get_table("c").foreign_keys[0])


def test_subtree_rows_counts_descendants():
    cat = _catalog(child_rows=70, grandchild_rows=400)
    emb = Collection("c", _fields("ck", "cval"),
                     embedded=[Collection("g", _fields("gk"))])
    # An attach of c onto p moves c's rows WITH g's arrays already folded
    # in, so the payload volume is the whole subtree.
    assert _subtree_rows(cat, emb) == 470
    assert _subtree_rows(cat, Collection("g", _fields("gk"))) == 400


def _nest_exchange_counts(spark, child_rows: int) -> list[int]:
    """Partition counts of every hashpartitioning exchange in the nest
    plan for a catalog claiming `child_rows` child rows (data stays tiny
    — only the catalog metadata drives the sizing decision)."""
    parent = spark.createDataFrame(
        [(i, f"p{i}") for i in range(10)], "pk int, pname string")
    child = spark.createDataFrame(
        [(i, f"c{i}", i % 10) for i in range(50)],
        "ck int, cval string, pk_fk int")
    cat = _catalog(child_rows=child_rows)
    out = _attach_embedded(
        {"p": parent, "c": child}, cat, parent, "p", _child(cat),
        normalize_dates=False,
    )
    plan = out._jdf.queryExecution().sparkPlan().toString()
    counts = []
    for line in plan.splitlines():
        if "hashpartitioning" in line:
            # e.g. "Exchange hashpartitioning(pk_fk#12, 64), ..."
            tail = line.split("hashpartitioning", 1)[1]
            counts.append(int(tail.split(",")[1].split(")")[0].strip()))
    assert counts, plan
    return counts


def test_small_child_keeps_configured_partitions(spark):
    npart = int(spark.conf.get("spark.sql.shuffle.partitions"))
    counts = _nest_exchange_counts(spark, child_rows=50)
    assert all(c == npart for c in counts), counts


def test_large_child_scales_partitions(spark):
    npart = int(spark.conf.get("spark.sql.shuffle.partitions"))
    claimed = TARGET_NEST_ROWS_PER_TASK * npart * 4  # 4x over threshold
    expected = math.ceil(claimed / TARGET_NEST_ROWS_PER_TASK)
    counts = _nest_exchange_counts(spark, child_rows=claimed)
    # The FK repartition AND the co-partitioned nest join both run at the
    # scaled count — per-task buffer volume stays ~TARGET_NEST_ROWS_PER_TASK
    # rows at any scale factor.
    assert expected in counts, (expected, counts)
    assert all(c == expected for c in counts), counts

    # Result values are unaffected by the sizing decision.
    parent = spark.createDataFrame([(1, "a")], "pk int, pname string")
    child = spark.createDataFrame(
        [(7, "x", 1), (8, "y", 1)], "ck int, cval string, pk_fk int")
    cat = _catalog(child_rows=claimed)
    out = _attach_embedded(
        {"p": parent, "c": child}, cat,
        parent, "p", _child(cat),
        normalize_dates=False,
    )
    row = out.select("pk", F.to_json("c").alias("c")).collect()[0]
    assert row.pk == 1
    assert '"ck":7' in row.c and '"ck":8' in row.c
