"""JSON collection sink (operator `sink_json_collections`, SURVEY §2.1).

The reference writes one JSON file per non-empty collection (a single JSON
array per file) and zips the results (reference server/WriteToFile.js:5-62;
empty-collection filter at :9-11). Spark-first equivalent: distributed
newline-delimited JSON per collection directory — the scalable layout — with
an optional single-array file mode for byte-level parity on small outputs.
sinks/documents.py owns the layout of documents held on the driver (both
modes) and the zip, which holds only the collections its call wrote.

Null fields are omitted on write (Spark's JSON writer default), matching the
reference's key-absent semantics for unmatched attributes / empty embeds.
"""

from __future__ import annotations

import contextlib
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from relational_to_doc_oriented_nosql_migrator_spark.sinks.documents import (
    write_documents,
    zip_collections,
)

# Hash aggregation holds EVERY group's collect_list buffer of a partition
# in memory before emitting; for the top nesting levels a group is a
# document-sized object graph (a region document at the 10x dataset is
# ~42 MB of nested structs), so a partition with a handful of heavy
# groups peaks at sum-of-groups x object overhead — the allocation
# profile that OOMed the 10x sweep's shared 1 GB local-mode heap. Sort
# aggregation streams ONE group at a time over a spillable sort, so the
# per-task peak drops to the largest single document (the inherent floor
# for materializing a document as a row). Scoped to this sink's actions:
# Spark plans aggregates at action time, so flipping the conf here
# covers the lazily-built migrate() frames without touching the session
# for other operators.
_OBJ_HASH_CONF = "spark.sql.execution.useObjectHashAggregateExec"
# Sort-merge join SORTS both sides, and sorting copies every row into
# the sorter's pages — for the upper nesting joins the streamed side is
# document-sized rows, so the copies are multi-MB humongous allocations
# (the UnsafeRow.copy OOM in the 10x sweep). A shuffled-hash join builds
# its hash table on the metadata-scale PARENT side and streams the
# document rows through untouched.
_PREFER_SMJ_CONF = "spark.sql.join.preferSortMergeJoin"

_SINK_CONFS = {_OBJ_HASH_CONF: "false", _PREFER_SMJ_CONF: "false"}


@contextlib.contextmanager
def _sort_based_collects(spark):
    prev = {k: spark.conf.get(k, None) for k in _SINK_CONFS}
    for k, v in _SINK_CONFS.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _replanned(df: DataFrame) -> DataFrame:
    """A fresh DataFrame over the same logical plan. Spark memoizes each
    DataFrame's QueryExecution at first use, so a collection frame the
    caller already acted on (a count, an explain) would keep its
    hash-aggregate physical plan even under the sink's scoped confs —
    silently reopening the heap floor the confs exist to close. A no-op
    projection forces physical re-planning at the sink's action."""
    return df.select("*")


def _delete(spark, path: str) -> None:
    """Remove `path` recursively from the store Spark writes it to (a
    bare path is the local filesystem, a URI its own store)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    jpath.getFileSystem(spark._jsc.hadoopConfiguration()).delete(jpath, True)


def _pooled(job, frames: dict[str, DataFrame]) -> dict:
    """{name: job(name, frame)} with every job (a collect or a write)
    submitted at once, one driver thread per collection. A flat
    collection's parallelism is capped by its input split count, and
    much of a small job's wall is driver-side planning and the commit
    protocol, so jobs queued behind a narrower pool leave cores idle;
    with all of them in flight the wall is the slowest job, not a sum.
    Memory stays bounded: concurrent jobs add no task slots (a local[N]
    master still runs at most N tasks), and each task aggregates sort-
    based (see _sort_based_collects). The scoped confs are session-wide,
    so one context manager brackets all of them (plan-time conf reads
    happen inside it)."""
    if not frames:
        return {}
    spark = next(iter(frames.values())).sparkSession
    with _sort_based_collects(spark):
        with ThreadPoolExecutor(len(frames)) as pool:
            return dict(zip(frames, pool.map(job, frames, frames.values())))


def _write_ndjson(df: DataFrame, target: str) -> int:
    """Write one collection as NDJSON part files under target; returns
    its document count, observed on the write job itself (one
    CollectMetrics pass-through node: the writer emits one line per
    row), so neither a pre-write isEmpty() nor a read-back re-executes
    the collection's plan. A collection of 0 documents is dropped with
    its directory, like the reference drops empty collections
    (`filter_nonempty_collection`, server/WriteToFile.js:9-11)."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
        "overwrite").json(target)
    n_docs = int(obs.get["n"])
    if not n_docs:
        _delete(df.sparkSession, target)
    return n_docs


def write_json_collections(
    collections: dict[str, DataFrame],
    out_dir: str,
    single_file: bool = False,
    zip_path: str | None = None,
    counts: dict | None = None,
) -> list[str]:
    """Write each non-empty collection; returns the names written, in
    collection order. An empty collection writes nothing and removes the
    output an earlier run left for it in out_dir, in every mode. The zip
    holds the collections this call wrote and nothing else of out_dir.

    counts: optional caller-owned dict, filled with {name: docs written}
    for every written collection AT WRITE TIME — distributed writes via
    an observe() metric on the write job itself, single_file from the
    collected list. No output is re-read to count it.

    A bare local out_dir (no filesystem scheme) on a non-local master is
    rejected: on a multi-node cluster each executor would write its part
    files to its own disk, so no one directory holds the collection.
    Deployments whose nodes share one mount at an identical path (NFS
    etc.) name the same location as a URI: out_dir='file:///shared/out'.
    That spelling is an explicit statement that the path is shared
    storage, not executor-local."""
    if "://" in out_dir and (single_file or zip_path):
        # The parity modes are explicitly local (driver-side open() and
        # zip): a URI out_dir would yield a silently EMPTY zip or a
        # FileNotFoundError mid-write — reject it loudly instead.
        raise ValueError(
            "single_file / zip_path are local parity modes; out_dir "
            "must be a bare local path, not a URI"
        )
    if "://" not in out_dir and collections and not single_file:
        # A bare local path on a multi-node cluster scatters output
        # silently: executors write their part files to THEIR local
        # disks. Mirror the parity modes' loud ValueError instead of
        # relying on a docstring. single_file is exempt: it collects to
        # the driver and writes with a driver-side open(), so no
        # executor ever touches out_dir.
        master = (
            next(iter(collections.values())).sparkSession
            .sparkContext.master or ""
        )
        if not master.startswith("local"):
            raise ValueError(
                f"out_dir {out_dir!r} has no filesystem scheme but the "
                f"cluster master is {master!r}: executors would scatter "
                "part files across their local disks. Use a shared-store "
                "URI (hdfs://, s3://, file:// on a shared mount)."
            )
    frames = {name: _replanned(df) for name, df in collections.items()}
    if single_file:
        # Parity mode: each collection's rows as their own JSON text
        # (UTF-8, no parse and re-dump), laid out by write_documents.
        # NOT a scale path: this collects every collection to the
        # driver — small outputs only. The default distributed mode is
        # the one to point at a real corpus.
        texts = _pooled(lambda _name, df: df.toJSON().collect(), frames)
        wrote = write_documents(texts, out_dir, single_file=True,
                                zip_path=zip_path)
    else:
        root = out_dir.rstrip("/")
        n_docs = _pooled(
            lambda name, df: _write_ndjson(df, f"{root}/{name}"), frames)
        wrote = {name: n_docs[name] for name in frames if n_docs[name]}
        if zip_path:
            zip_collections(out_dir, zip_path, list(wrote), single_file=False)
    if counts is not None:
        counts.update(wrote)
    return list(wrote)
