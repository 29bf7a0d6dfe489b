#!/usr/bin/env python
"""Deterministic scale-up of the driver testdata for scale-curve benching.

Produces `factor` logical copies of a base SF directory (default sf0.1
x10 ~= sf1.0) with disjoint key spaces, so every query's working set
scales linearly and plans can be measured — not just argued — at 10x:

- fact tables (orders/lineitem/customer/supplier/part): keys shifted by
  copy * (max_key + 1); FK edges follow the same shift so referential
  structure is preserved per copy. Dimension tables (region/nation) stay
  fixed — scaling facts against fixed dims is the realistic shape.
- documents: doc_id shifted; for copy > 0 every whitespace token gets a
  `_<copy>` suffix. Copies are therefore ~0-Jaccard to each other (the
  shingle spaces are disjoint), so near-dup pair structure replicates
  per copy (linear) instead of every doc gaining `factor-1` identical
  twins (quadratic pair blow-up — a different workload, not a scale-up).
- events: event_id/user_id shifted; ts shifted by copy * (span + 1h) so
  window/session counts scale linearly rather than deepening state.
- embeddings: vec_id shifted; copy > 0 vectors get a tiny deterministic
  per-dimension offset so cosine structure is replicated, not duplicated.

Usage: python tools/gen_scale_data.py [--base DIR] [--factor N] [--out DIR]
Output layout matches the testdata (one <table>.parquet per table; these
are parquet DIRECTORIES, which every loader here handles).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_BASE = "/root/testdata/sf0.1"
DEFAULT_OUT = "/tmp/spark_graft_scale/sf1.0"

COPY_AS_IS = ("region", "nation")
KEYED = {
    "customer": {"c_custkey": "customer"},
    "supplier": {"s_suppkey": "supplier"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "orders", "o_custkey": "customer"},
    "lineitem": {
        "l_orderkey": "orders",
        "l_partkey": "part",
        "l_suppkey": "supplier",
    },
}
# stride source column per logical key space
STRIDE_COLS = {
    "customer": ("customer", "c_custkey"),
    "supplier": ("supplier", "s_suppkey"),
    "part": ("part", "p_partkey"),
    "orders": ("orders", "o_orderkey"),
    "documents": ("documents", "doc_id"),
    "events": ("events", "event_id"),
    "embeddings": ("embeddings", "vec_id"),
}


def generate(
    base_dir: str = DEFAULT_BASE,
    factor: int = 10,
    out_dir: str = DEFAULT_OUT,
    spark=None,
    verbose: bool = True,
    skew_hot_frac: float = 0.0,
    only: set[str] | None = None,
) -> str:
    """Write the scaled tables; returns out_dir. Reusable from bench.py
    with an existing session.

    skew_hot_frac > 0 plants an ADVERSARIALLY hot FK (r10 verdict task
    #6): that fraction of ALL orders rows (selected deterministically by
    o_orderkey hash, post-scaling) is reassigned to ONE customer — the
    minimum base c_custkey — so the nest aggregation's hottest group
    holds skew_hot_frac of the whole child table. This is the planted
    dataset for salted-vs-unsalted nest join A/Bs; never use it for
    ledger sweeps (its FK structure is deliberately pathological).

    only: restrict generation to these table names (fast A/B datasets)."""
    from pyspark.sql import functions as F

    from relational_to_doc_oriented_nosql_migrator_spark.session import get_spark
    from relational_to_doc_oriented_nosql_migrator_spark.sources.parquet import (
        load_table,
        read_footer,
    )

    if spark is None:
        spark = get_spark(app_name="gen-scale-data")
        spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out_dir, exist_ok=True)

    def base(table):
        return load_table(spark, base_dir, table)

    strides = {
        space: base(tbl).agg(F.max(col)).first()[0] + 1
        for space, (tbl, col) in STRIDE_COLS.items()
    }
    copies = spark.range(factor).withColumnRenamed("id", "copy")

    def write(df, table):
        path = os.path.join(out_dir, f"{table}.parquet")
        df.write.mode("overwrite").parquet(path)
        if verbose:
            # count the WRITTEN parquet from its footers: no Spark job
            # (re-counting df would re-execute the whole scale-up).
            print(f"{table}: {read_footer(out_dir, table).num_rows} rows")

    def wanted(table):
        return only is None or table in only

    for table in COPY_AS_IS:
        if wanted(table):
            write(base(table), table)

    for table, keymap in KEYED.items():
        if not wanted(table):
            continue
        df = base(table).crossJoin(copies)
        for col, space in keymap.items():
            df = df.withColumn(
                col, F.col(col) + F.col("copy") * F.lit(strides[space])
            )
        if table == "orders" and skew_hot_frac > 0:
            hot_key = base("customer").agg(F.min("c_custkey")).first()[0]
            df = df.withColumn(
                "o_custkey",
                F.when(
                    F.pmod(F.hash("o_orderkey"), F.lit(10_000))
                    < F.lit(int(skew_hot_frac * 10_000)),
                    F.lit(hot_key).cast("long"),
                ).otherwise(F.col("o_custkey")),
            )
        write(df.drop("copy"), table)

    if wanted("documents"):
        docs = base("documents").crossJoin(copies)
        perturbed = (
            "concat_ws(' ', transform(split(text, ' '),"
            " t -> concat(t, '_', CAST(copy AS STRING))))"
        )
        docs = docs.select(
            (F.col("doc_id") + F.col("copy") * F.lit(strides["documents"]))
            .alias("doc_id"),
            F.when(F.col("copy") == 0, F.col("text"))
            .otherwise(F.expr(perturbed))
            .alias("text"),
            "lang",
            "source",
            "copy",
        ).withColumn("n_chars", F.length("text").cast("long"))
        write(docs.drop("copy"), "documents")

    if wanted("events"):
        ev = base("events")
        span = ev.agg(
            (F.unix_timestamp(F.max("ts").cast("timestamp"))
             - F.unix_timestamp(F.min("ts").cast("timestamp"))) + 3600
        ).first()[0]
        ev = ev.crossJoin(copies).select(
            (F.col("event_id") + F.col("copy") * F.lit(strides["events"]))
            .alias("event_id"),
            (F.col("ts") + (F.col("copy") * F.lit(span))
             .cast("string").cast("interval second")).alias("ts"),
            # user_id follows the CUSTOMER stride: events reference
            # customers (user_id == c_custkey), so copy-k events must land
            # on copy-k's customers for the enrich/funnel joins to
            # replicate per-copy structure.
            (F.col("user_id") + F.col("copy") * F.lit(strides["customer"]))
            .alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        write(ev, "events")

    if wanted("embeddings"):
        emb = base("embeddings").crossJoin(copies).select(
            (F.col("vec_id") + F.col("copy") * F.lit(strides["embeddings"]))
            .alias("vec_id"),
            F.expr(
                "transform(embedding, (x, i) -> CAST(x + copy * 0.001 *"
                " ((i % 7) - 3) AS FLOAT))"
            ).alias("embedding"),
            "label",
        )
        write(emb, "embeddings")


    if verbose:
        print(f"scale data written to {out_dir}")
    return out_dir



def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default=DEFAULT_BASE)
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--out", default=DEFAULT_OUT)
    ap.add_argument("--skew-hot-frac", type=float, default=0.0,
                    help="fraction of orders reassigned to ONE hot "
                         "customer (adversarial skew A/B dataset)")
    ap.add_argument("--only", default=None,
                    help="comma-separated table subset to generate")
    args = ap.parse_args()
    generate(args.base, args.factor, args.out,
             skew_hot_frac=args.skew_hot_frac,
             only=set(args.only.split(",")) if args.only else None)


if __name__ == "__main__":
    main()
