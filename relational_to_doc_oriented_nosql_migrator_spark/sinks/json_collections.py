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
import functools
import io
import json
import urllib.parse
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyarrow import fs as pafs
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


@functools.lru_cache(maxsize=4096)
def _fs_for(path: str):
    """(filesystem, fs-local path) for the sink's file I/O, through
    pyarrow.fs on every target: a bare path is the local filesystem,
    and a scheme-qualified URI (file://, hdfs://, s3://...) resolves to
    its store, so the executor-side stitch lists, reads, and writes
    fragments on the cluster's SHARED store — on a real cluster the
    fragment datasets and the stitched part files live on the same DFS
    the Spark writers targeted, not on any one machine's disk.

    Memoized per path: the stitch looks fragment directories up once
    per fragment LINE (a grandchild dir per split-mode element), and
    the distinct-path population is bounded by the split levels'
    SMALL_PARENT_ROWS cardinality gate plus one part file per root —
    without the cache an hdfs://s3 target would re-instantiate a
    filesystem client thousands of times per root task."""
    if "://" not in path:
        return pafs.LocalFileSystem(), path
    return pafs.FileSystem.from_uri(path)


def _part_files(dirpath: str):
    """(filesystem, a directory's part-* file infos in path order); a
    missing directory has none."""
    fs, p = _fs_for(dirpath)
    infos = fs.get_file_info(pafs.FileSelector(p, allow_not_found=True))
    return fs, sorted(
        (
            i for i in infos
            if i.type == pafs.FileType.File
            and i.base_name.startswith("part-")
        ),
        key=lambda i: i.path,
    )


def _iter_part_lines(dirpath: str):
    fs, files = _part_files(dirpath)
    for f in files:
        with fs.open_input_stream(f.path) as raw:
            for line in io.TextIOWrapper(raw, encoding="utf-8"):
                line = line.rstrip("\n")
                if line:
                    yield line


def _listdir(tmp: str, prefix: str) -> list[tuple[str, str]]:
    """(basename, openable path) of tmp's entries starting with prefix;
    URI inputs keep their scheme on the returned paths so downstream
    reads resolve through the same filesystem."""
    fs, p = _fs_for(tmp)
    scheme_prefix = tmp[: len(tmp) - len(p)] if tmp.endswith(p) else ""
    return [
        (i.base_name, scheme_prefix + i.path)
        for i in fs.get_file_info(pafs.FileSelector(p, allow_not_found=True))
        if i.base_name.startswith(prefix)
    ]


def _partition_dirs(tmp: str, key: str) -> dict[str, str]:
    """partition-value string -> directory, for a partitionBy(key) text
    write (Spark URL-escapes values in directory names)."""
    out = {}
    for base, d in _listdir(tmp, f"{key}="):
        out[urllib.parse.unquote(base.split("=", 1)[1])] = d
    return out


def _mkdirs(path: str) -> None:
    fs, p = _fs_for(path)
    fs.create_dir(p, recursive=True)


def _rename(src: str, dst: str) -> None:
    """move(), whose atomicity is the target store's (rename on
    HDFS/local, last-wins over an existing file; copy+delete on object
    stores — the standard Spark committer trade-off). src and dst are
    always siblings here, so they resolve through the same filesystem."""
    fs, ps = _fs_for(src)
    fs.move(ps, _fs_for(dst)[1])


def _attempt_tag() -> str:
    """Unique-per-task-attempt suffix for in-progress part files: a
    speculative or zombie duplicate attempt writes its own temp file and
    the final rename is last-wins-atomic, so two attempts can never
    interleave bytes into one part (Spark's own writers use the same
    attempt-scoped-temp + commit shape)."""
    from pyspark import TaskContext

    tc = TaskContext.get()
    if tc is not None:
        return str(tc.taskAttemptId())
    return uuid.uuid4().hex[:12]


def _rm_rf(path: str) -> None:
    fs, p = _fs_for(path)
    try:
        fs.delete_dir(p)
    except OSError:
        pass


def _rm_one(path: str) -> None:
    fs, p = _fs_for(path)
    try:
        fs.delete_file(p)
    except OSError:
        pass


def _exists(path: str) -> bool:
    fs, p = _fs_for(path)
    try:
        return fs.get_file_info(p).type != pafs.FileType.NotFound
    except OSError:
        return False


def _open_text_out(path: str):
    fs, p = _fs_for(path)
    return io.TextIOWrapper(fs.open_output_stream(p), encoding="utf-8")


@dataclass
class _LevelSpec:
    """Executor-picklable description of one written streamed level: the
    array field name, its key -> fragment-directory map (metadata-scale
    by construction — every split level's cardinality is gated at
    SMALL_PARENT_ROWS), and the specs of its own split-out children
    (empty for a leaf level, whose lines are complete documents)."""

    name: str
    dirs: dict[str, str]
    children: list["_LevelSpec"]


def _write_doc(out, seg_bodies, keys, specs):
    """One JSON document: interleave the J+1 segment bodies with the J
    child arrays, every separator contingent on the parts actually
    present — matching the distributed writer's null-omission (a parent
    with no children omits the array field entirely, like the left
    join's null array). seg_bodies are '{...}' JSON strings; keys[j] is
    the canonical-encoded lookup key for specs[j]'s directory map (None
    or a sentinel miss => omitted array)."""
    out.write("{")
    any_ = False
    for j, seg in enumerate(seg_bodies):
        body = seg[1:-1]
        if body:
            if any_:
                out.write(",")
            out.write(body)
            any_ = True
        if j >= len(specs):
            continue
        spec = specs[j]
        d = spec.dirs.get(keys[j]) if keys[j] is not None else None
        first = True
        for line in _iter_part_lines(d) if d is not None else ():
            if first:
                if any_:
                    out.write(",")
                out.write(json.dumps(spec.name) + ":[")
                first = False
            else:
                out.write(",")
            if spec.children:
                # Split-mode element: child keys + segment halves. The
                # fixed-width split is safe for ANY key value: keys are
                # URL-encoded canonical form (tab-free by construction,
                # NULL coalesced to a sentinel upstream) and to_json
                # escapes control chars inside the segments.
                J = len(spec.children)
                fields = line.split("\t", 2 * J)
                _write_doc(out, fields[J:], fields[:J], spec.children)
            else:
                out.write(line)  # leaf: a complete document
        if not first:
            out.write("]")
            any_ = True
    out.write("}")


def _write_level(level, path: str, tmps: list[str]) -> _LevelSpec:
    """Write one streamed level's text dataset partitioned by its parent
    key: one partition per key value and a struct sort within it — the
    writer's required ordering (partition cols) is satisfied by our
    (key, struct...) prefix, so rows land in ONE file per key in
    array_sort element order. Keys are the canonical encoded form
    (nesting._stream_key) on BOTH the partition column and the lookups,
    so directory reads can never miss on a rendering mismatch."""
    tmps.append(path)
    if level.rows is not None:
        (
            _replanned(level.rows)
            .repartition(F.col("__pk"))
            .sortWithinPartitions("__pk", "__st")
            .select("__pk", F.to_json("__st").alias("value"))
            .write.mode("overwrite")
            .partitionBy("__pk")
            .text(path)
        )
        return _LevelSpec(level.name, _partition_dirs(path, "__pk"), [])
    n = len(level.children)
    key_cols = [f"__k{j}" for j in range(n)]
    seg_cols = [f"__seg{j}" for j in range(n + 1)]
    (
        _replanned(level.fragments)
        .repartition(F.col("__pk"))
        .sortWithinPartitions("__pk", *seg_cols)
        .select(
            "__pk",
            F.concat_ws(
                "\t", *key_cols, *[F.to_json(c) for c in seg_cols]
            ).alias("value"),
        )
        .write.mode("overwrite")
        .partitionBy("__pk")
        .text(path)
    )
    children = [
        _write_level(ch, f"{path}{j}_", tmps)
        for j, ch in enumerate(level.children)
    ]
    return _LevelSpec(level.name, _partition_dirs(path, "__pk"), children)


def _stitch_part(part_path: str, keys, segs, specs) -> None:
    """Write one final part file: one root's NDJSON line. Task-commit
    protocol: the bytes stream into an attempt-unique dot-temp sibling
    (invisible to every part-* listing and to Spark readers), then one
    rename publishes it — a duplicate task attempt races on the rename,
    not on the bytes. A local rename is last-wins, but pyarrow's move()
    ERRORS on an existing destination on several stores — so a rename
    that collides with an already-published destination ADOPTS it
    (parts are only ever created by this publish, so presence implies a
    complete duplicate of the same root) instead of failing a healthy
    task for losing a race to its own twin."""
    head, base = part_path.rsplit("/", 1)
    tmp = f"{head}/.{base}.{_attempt_tag()}.tmp"
    try:
        with _open_text_out(tmp) as out:
            _write_doc(out, segs, keys, specs)
            out.write("\n")
        try:
            _rename(tmp, part_path)
        except OSError:
            if _exists(part_path):
                _rm_one(tmp)
            else:
                raise
    except BaseException:
        # A failed attempt must not leave its dot-temp behind: the
        # stage-directory publish would carry the litter into the final
        # output (part-* listings skip it, but the zip parity mode's
        # os.walk does not). Hard-killed attempts bypass this; the
        # driver prunes remaining dot-temps before publishing.
        _rm_one(tmp)
        raise


def _write_streamed(pieces, target: str) -> int:
    """Assemble one HEAVY root collection in file space (r08 verdict #2):
    every over-threshold child level's documents are written by Spark as
    per-parent-key sorted JSON fragments (text files partitioned by the
    canonical FK key), and each root's NDJSON line is stitched by
    streaming concatenation — segment scalars + '"child":[' + fragment
    lines joined with commas + ']', recursively per level. No task (and
    no driver buffer) ever holds more than ONE leaf-level document,
    versus the one-row-per-root representation whose buffer is the whole
    root subtree. Content is byte-compatible with the distributed
    writer's NDJSON (same to_json machinery, same null-omission, array
    order = array_sort order via the __st struct sort), so the
    schema-guided read-back parses identically.

    The stitch itself runs ON EXECUTORS (r09 verdict #3): the collected
    roots frame is metadata-light (<= SMALL_PARENT_ROWS rows of keys +
    JSON segments — nesting.stream_plan admits no larger root), so it is
    re-distributed one root per task and each task streams exactly its
    own root's fragment bytes into its own part file — the driver never
    loops over fragment bytes, and a heavy root collection's final
    write parallelizes across the cluster instead of serializing
    through one driver file handle. File order (part-00000.., sorted by
    root key) keeps the output deterministic.

    Publication is a directory swap (r10 ADVICE): parts stitch into a
    temp sibling and only a fully-stitched directory replaces the
    target, so a failure mid-stitch leaves the previous output intact
    instead of a part-file torso.

    Returns the written document count (one NDJSON line per root), 0
    for an empty collection — which writes nothing and removes the
    target's output from an earlier run, like the distributed writer's
    empty-collection drop. The count is a WRITE-TIME byproduct (the
    roots frame is collected here anyway), so callers that report doc
    counts never re-read the output."""
    spark = pieces.roots.sparkSession
    tmps: list[str] = []
    n = len(pieces.children)
    try:
        with _sort_based_collects(spark):
            # Roots FIRST: the frame is metadata-light, and an empty
            # collection must not pay the corpus-scale child writes
            # before its early return.
            roots = _replanned(pieces.roots).collect()
            if not roots:
                _rm_rf(target)
                return 0
            specs = [
                _write_level(ch, f"{target}.__stream{i}_", tmps)
                for i, ch in enumerate(pieces.children)
            ]
        stage = f"{target}.__publish_{uuid.uuid4().hex[:8]}"
        tmps.append(stage)
        _mkdirs(stage)

        def root_key(r):
            return tuple(
                (r[f"__fk{i}"] is None, r[f"__fk{i}"] or "")
                for i in range(n)
            )

        payloads = [
            (
                f"{stage}/part-{idx:05d}.json",
                [r[f"__fk{i}"] for i in range(n)],
                [r[f"__seg{i}"] for i in range(n + 1)],
            )
            for idx, r in enumerate(sorted(roots, key=root_key))
        ]
        spark.sparkContext.parallelize(payloads, len(payloads)).foreach(
            lambda p: _stitch_part(*p, specs)
        )
        # A hard-killed attempt (executor loss, speculation loser shot
        # mid-write) bypasses _stitch_part's own temp cleanup; its
        # retried attempt succeeded, so any dot-temp still in the stage
        # dir is litter — prune before publishing (the zip parity
        # mode's os.walk would otherwise archive it).
        for base, p in _listdir(stage, "."):
            if base.endswith(".tmp"):
                _rm_one(p)
        # Overwrite semantics, like the distributed writer's
        # mode("overwrite"): a rerun with FEWER roots must not leave
        # stale part files in the target (every reader lists part-*, so
        # a leftover file is a phantom document). Delete-then-rename is
        # not one atomic op, but the stage directory is complete before
        # the old output disappears — no failure point leaves less than
        # one whole output behind.
        _rm_rf(target)
        _rename(stage, target)
        return len(payloads)
    finally:
        for t in tmps:
            _rm_rf(t)


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
        _rm_rf(target)
    return n_docs


def write_json_collections(
    collections: dict[str, DataFrame],
    out_dir: str,
    single_file: bool = False,
    zip_path: str | None = None,
    streamed: dict | None = None,
    counts: dict | None = None,
) -> list[str]:
    """Write each non-empty collection; returns the names written, in
    collection order. An empty collection writes nothing and removes the
    output an earlier run left for it in out_dir, in every mode. The zip
    holds the collections this call wrote and nothing else of out_dir.

    counts: optional caller-owned dict, filled with {name: docs written}
    for every written collection AT WRITE TIME — streamed roots are
    counted from the driver-collected roots frame, distributed writes
    via an observe() metric on the write job itself, single_file from
    the collected list. No output is re-read to count it.

    streamed: optional {collection name: plans.nesting.StreamedRoot} —
    those collections are assembled per-root in file space instead of
    materializing root-document rows (see _write_streamed). Ignored in
    single_file parity mode (explicitly non-scale).

    BREAKING (r11): a bare local out_dir (no filesystem scheme) on a
    non-local master is now rejected loudly — on a multi-node cluster
    executors scatter fragments across their own disks and child
    arrays silently vanish. Deployments whose nodes share one mount at
    an identical path (NFS etc.), where the bare path previously
    worked, keep working by naming the same location as a URI:
    out_dir='file:///shared/mount/out'. That spelling is an explicit
    statement that the path is shared storage, not executor-local."""
    streamed = streamed or {}
    if "://" in out_dir and (single_file or zip_path):
        # The parity modes are explicitly local (driver-side open() and
        # zip): a URI out_dir would yield a silently EMPTY zip or a
        # FileNotFoundError mid-write — reject it loudly instead.
        raise ValueError(
            "single_file / zip_path are local parity modes; out_dir "
            "must be a bare local path, not a URI"
        )
    if "://" not in out_dir and collections and not single_file:
        # A bare local path on a multi-node cluster silently corrupts
        # output (r10 ADVICE): executors write partition dirs to THEIR
        # local disks, the stitch's glob misses them, and child arrays
        # vanish without an error. Mirror the parity modes' loud
        # ValueError instead of relying on a docstring. single_file is
        # exempt: it collects to the driver and writes with a
        # driver-side open(), so no executor ever touches out_dir.
        master = (
            next(iter(collections.values())).sparkSession
            .sparkContext.master or ""
        )
        if not master.startswith("local"):
            raise ValueError(
                f"out_dir {out_dir!r} has no filesystem scheme but the "
                f"cluster master is {master!r}: executors would scatter "
                "fragments across their local disks. Use a shared-store "
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
        _mkdirs(out_dir)
        root = out_dir.rstrip("/")
        n_docs = {name: _write_streamed(streamed[name], f"{root}/{name}")
                  for name in frames if name in streamed}
        n_docs.update(_pooled(
            lambda name, df: _write_ndjson(df, f"{root}/{name}"),
            {n: df for n, df in frames.items() if n not in streamed},
        ))
        wrote = {name: n_docs[name] for name in frames if n_docs[name]}
        if zip_path:
            zip_collections(out_dir, zip_path, list(wrote), single_file=False)
    if counts is not None:
        counts.update(wrote)
    return list(wrote)
