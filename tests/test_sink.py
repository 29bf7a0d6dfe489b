"""JSON collection sink (`sink_json_collections`, reference
server/WriteToFile.js:5-62): round trip, empty-collection drop, single-file
parity mode, zip packaging."""

import json
import os
import zipfile

import pytest
from pyspark.sql import functions as F

from relational_to_doc_oriented_nosql_migrator_spark.sinks import (
    write_json_collections,
)


def _collections(spark):
    full = spark.range(3).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    empty = full.filter(F.col("k") < 0)
    return {"full": full, "empty": empty}


def test_distributed_mode_drops_empty_and_round_trips(spark, tmp_path):
    out = str(tmp_path / "out")
    written = write_json_collections(_collections(spark), out)
    assert written == ["full"]
    assert not os.path.exists(os.path.join(out, "empty"))
    back = spark.read.json(os.path.join(out, "full"))
    assert sorted(r["k"] for r in back.collect()) == [0, 1, 2]


def test_single_file_parity_mode_and_zip(spark, tmp_path):
    out = str(tmp_path / "out")
    zip_path = os.path.join(out, "collections.zip")
    written = write_json_collections(
        _collections(spark), out, single_file=True, zip_path=zip_path
    )
    assert written == ["full"]
    with open(os.path.join(out, "full.json")) as fh:
        docs = json.load(fh)
    assert sorted(d["k"] for d in docs) == [0, 1, 2]
    # The zip holds the written json but never itself (reference results/
    # layout: archive lives inside the output dir).
    with zipfile.ZipFile(zip_path) as zf:
        names = zf.namelist()
    assert "full.json" in names
    assert "collections.zip" not in names


def test_single_file_empty_rerun_removes_old_file(spark, tmp_path):
    """A rerun in which a collection is empty leaves nothing of the
    earlier run's file, on disk or in the zip."""
    out = str(tmp_path / "out")
    cols = _collections(spark)
    assert write_json_collections(
        {"c": cols["full"]}, out, single_file=True
    ) == ["c"]
    assert os.path.exists(os.path.join(out, "c.json"))
    zip_path = str(tmp_path / "collections.zip")
    assert write_json_collections(
        {"c": cols["empty"]}, out, single_file=True, zip_path=zip_path
    ) == []
    assert os.listdir(out) == []
    with zipfile.ZipFile(zip_path) as zf:
        assert zf.namelist() == []


def test_ndjson_zip_holds_only_collection_files(spark, tmp_path):
    """The NDJSON-mode zip archives the part files, not the Hadoop
    writer's .crc checksums or _SUCCESS marker (which stay on disk)."""
    out = str(tmp_path / "out")
    zip_path = str(tmp_path / "collections.zip")
    assert write_json_collections(
        _collections(spark), out, zip_path=zip_path
    ) == ["full"]
    on_disk = os.listdir(os.path.join(out, "full"))
    assert "_SUCCESS" in on_disk
    assert any(f.endswith(".crc") for f in on_disk)
    with zipfile.ZipFile(zip_path) as zf:
        names = zf.namelist()
    parts = sorted(
        f"full/{f}" for f in on_disk
        if f.startswith("part-") and f.endswith(".json")
    )
    assert parts and sorted(names) == parts


@pytest.mark.parametrize("single_file", [False, True])
def test_rerun_zip_holds_only_this_calls_collections(spark, tmp_path,
                                                     single_file):
    """Two calls on one out_dir, the second without collection b: b's
    earlier output stays on disk, but the second call's zip holds only
    a."""
    out = str(tmp_path / "out")
    full = _collections(spark)["full"]
    assert write_json_collections(
        {"a": full, "b": full}, out, single_file=single_file
    ) == ["a", "b"]
    zip_path = str(tmp_path / "collections.zip")
    assert write_json_collections(
        {"a": full}, out, single_file=single_file, zip_path=zip_path
    ) == ["a"]
    assert any(f.startswith("b") for f in os.listdir(out))
    with zipfile.ZipFile(zip_path) as zf:
        names = zf.namelist()
    if single_file:
        assert names == ["a.json"]
    else:
        assert names and all(n.startswith("a/part-") for n in names)


def test_single_file_is_compact_utf8_json(spark, tmp_path):
    """full.json is the compact JSON array of the rows' own JSON text:
    no whitespace between tokens, non-ASCII text as UTF-8 (not \\u
    escapes), and once parsed the same documents as a json.loads /
    json.dump round trip of the same rows."""
    df = spark.createDataFrame(
        [(1, "Zürich — 東京 ✓", [(2, "ü")]), (2, None, [])],
        "k long, name string, kids array<struct<n: long, s: string>>",
    )
    out = str(tmp_path / "out")
    write_json_collections({"full": df}, out, single_file=True)
    with open(os.path.join(out, "full.json"), "rb") as fh:
        raw = fh.read()
    text = raw.decode("utf-8")
    assert "Zürich — 東京 ✓" in text and "\\u" not in text
    docs = json.loads(text)
    assert text == json.dumps(docs, ensure_ascii=False,
                              separators=(",", ":"))
    dumped = json.dumps([json.loads(r) for r in df.toJSON().collect()],
                        default=str)
    assert docs == json.loads(dumped)
    assert docs[1] == {"k": 2, "kids": []}


def test_partitioned_parquet_sink_prunes_splits(spark):
    """The hive-partitioned corpus layout must actually prune: a reader
    filtering one split may only touch that split's directory."""
    from pyspark.sql import functions as F

    from relational_to_doc_oriented_nosql_migrator_spark.operators.pipeline import (
        q_sink_parquet_partitioned,
    )
    from tests.conftest import SF001

    back = q_sink_parquet_partitioned(spark, SF001)
    assert back.count() > 0
    # Recover the written location from the returned frame's files.
    sample = back.select(F.input_file_name().alias("f")).first()["f"]
    base = sample.split("/split=")[0]
    pruned = spark.read.parquet(base).filter("split = 'val'")
    files = {
        r["f"]
        for r in pruned.select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    }
    assert files and all("split=val" in f for f in files)


def test_sink_confs_shape_document_plans(spark):
    """The sink's 1 GB heap floor depends on its scoped confs actually
    reaching physical planning (r05 verdict follow-up #7): under the
    sink context a document-heavy nesting plan must aggregate with
    SortAggregate (streams one collect_list group at a time) and join
    with ShuffledHashJoin (no sorter copies of document-sized rows) —
    and the _replanned seam must defeat QueryExecution memoization, so
    a frame the CALLER already planned still picks the sink shape."""
    import contextlib
    import io

    from relational_to_doc_oriented_nosql_migrator_spark.engine import migrate
    from relational_to_doc_oriented_nosql_migrator_spark.sinks.json_collections import (
        _replanned,
        _sort_based_collects,
    )

    def plan(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    # Hermetic: an earlier test may have persisted a frame whose
    # canonical plan matches the region subtree — CacheManager would
    # then substitute an InMemoryTableScan and hide the aggregation
    # this test inspects. (At runtime that substitution is benign: a
    # user-cached collection is already materialized data, so the
    # sink's heap-shape confs have nothing left to shape.)
    spark.catalog.clearCache()
    df = migrate(spark, "/root/testdata/sf0.001")["region"]
    poisoned = plan(df)  # memoize the default (hash-agg) physical plan
    assert "ObjectHashAggregate" in poisoned
    with _sort_based_collects(spark):
        p = plan(_replanned(df))
    assert "SortAggregate" in p and "ObjectHashAggregate" not in p
    assert "ShuffledHashJoin" in p and "SortMergeJoin" not in p


def test_single_file_exempt_from_nonlocal_guard(tmp_path):
    """single_file collects to the driver and writes driver-side, so
    the bare-local-out_dir guard must NOT reject it on a non-local
    master (r11 review finding) — it fails later only if a real collect
    is attempted; here the fake df never gets that far because the
    guard is the first thing that would raise."""
    import pytest

    from relational_to_doc_oriented_nosql_migrator_spark.sinks import (
        write_json_collections,
    )

    class _Ctx:
        master = "spark://cluster:7077"

    class _Sess:
        sparkContext = _Ctx()

    class _DF:
        sparkSession = _Sess()

        def select(self, *_a):
            raise RuntimeError("reached past the guard")

    # distributed mode: guarded
    with pytest.raises(ValueError, match="scatter"):
        write_json_collections({"c": _DF()}, str(tmp_path / "o"))
    # single_file parity mode: exempt (fails later, not in the guard)
    with pytest.raises(RuntimeError, match="reached past the guard"):
        write_json_collections({"c": _DF()}, str(tmp_path / "o"),
                               single_file=True)


def test_pooled_submits_every_collection_at_once(spark):
    """Every collection's job is in flight at once: each job waits until
    all of them have started, so a pool narrower than the collection
    count breaks the barrier at its timeout."""
    import threading

    from relational_to_doc_oriented_nosql_migrator_spark.sinks.json_collections import (
        _pooled,
    )

    frames = {f"c{i}": spark.range(i + 1) for i in range(7)}
    barrier = threading.Barrier(len(frames), timeout=30)

    def job(_name, df):
        barrier.wait()
        return df.count()

    assert _pooled(job, frames) == {f"c{i}": i + 1 for i in range(7)}


def _ndjson_lines(target_dir):
    lines = []
    for name in sorted(os.listdir(target_dir)):
        if name.startswith("part-"):
            with open(os.path.join(target_dir, name)) as fh:
                lines.extend(line for line in fh.read().splitlines() if line)
    return lines


def test_bare_local_out_dir_rejected_off_local_master(tmp_path):
    """A bare local out_dir on a non-local master must raise loudly:
    each executor would write its part files to its own disk."""

    class _Ctx:
        master = "spark://cluster:7077"

    class _Sess:
        sparkContext = _Ctx()

    class _DF:
        sparkSession = _Sess()

    with pytest.raises(ValueError, match="scatter"):
        write_json_collections({"c": _DF()}, str(tmp_path / "o"))


def test_write_time_counts_match_line_counts(spark, tmp_path):
    """The counts= out-param (an observe() metric on each write job)
    equals the NDJSON line counts on disk, so no caller re-reads the
    output to count it."""
    from relational_to_doc_oriented_nosql_migrator_spark.engine import migrate
    from tests.conftest import SF0001

    out = str(tmp_path / "counted")
    counts = {}
    written = write_json_collections(migrate(spark, SF0001), out,
                                     counts=counts)
    assert sorted(counts) == sorted(written)
    for name in written:
        assert counts[name] == len(_ndjson_lines(os.path.join(out, name)))
        assert counts[name] > 0, name


def test_rerun_overwrites_stale_parts(spark, tmp_path):
    """Rerunning into the same target with fewer part files leaves none
    of the earlier run's: every reader lists part-*, so a leftover file
    is a phantom document."""
    out = str(tmp_path / "out")
    many = spark.range(40).repartition(4)
    assert write_json_collections({"c": many}, out) == ["c"]
    assert len(_ndjson_lines(os.path.join(out, "c"))) == 40
    counts = {}
    write_json_collections({"c": spark.range(3).coalesce(1)}, out,
                           counts=counts)
    parts = [f for f in os.listdir(os.path.join(out, "c"))
             if f.startswith("part-")]
    assert len(parts) == 1 and counts == {"c": 3}
    assert len(_ndjson_lines(os.path.join(out, "c"))) == 3


def test_empty_rerun_removes_old_output(spark, tmp_path):
    """A rerun in which a collection is empty writes nothing, does not
    report it, and removes the output an earlier run wrote for it."""
    out = str(tmp_path / "out")
    cols = _collections(spark)
    assert write_json_collections({"c": cols["full"]}, out) == ["c"]
    assert os.path.isdir(os.path.join(out, "c"))
    assert write_json_collections({"c": cols["empty"]}, out) == []
    assert os.listdir(out) == []


def test_uri_out_dir_round_trips(spark, tmp_path):
    """A scheme-qualified out_dir goes through the store Spark writes to:
    the collections land there and an empty one is removed there."""
    uri = "file://" + str(tmp_path / "uri_out")
    counts = {}
    assert write_json_collections(_collections(spark), uri,
                                  counts=counts) == ["full"]
    assert counts == {"full": 3}
    assert os.listdir(tmp_path / "uri_out") == ["full"]
    back = spark.read.json(uri + "/full")
    assert sorted(r["k"] for r in back.collect()) == [0, 1, 2]
