"""Per-root streamed JSON assembly for heavy roots (r08 verdict #2).

Materializing a root document as one row has an inherent heap floor of
|subtree|/|roots| (a region at the 100x dataset is a ~420 MB single row,
then a comparably-sized JSON string in one write task). Past
nesting.HEAVY_ROOT_SUBTREE_ROWS the sink assembles such roots in FILE
space: EVERY over-threshold child's documents are written as per-key
sorted JSON fragments (recursively — a split level whose own children
are hazards splits again) and each root NDJSON line is stitched by
streaming concatenation ON AN EXECUTOR (one task and one part file per
root; the driver never loops fragment bytes). These tests patch the
threshold to 0 at sf0.001 and pin that the streamed output is
PARSE-IDENTICAL to the distributed writer's (same docs, same field
presence, same array order), so the sf10 path is value-proven at test
scale.
"""

import glob
import json
import os

import pytest

from relational_to_doc_oriented_nosql_migrator_spark.engine import (
    build_testdata_catalog,
    migrate_streamed,
)
from relational_to_doc_oriented_nosql_migrator_spark.plans import (
    convert_schema,
    nesting,
)
from relational_to_doc_oriented_nosql_migrator_spark.plans.nesting import (
    stream_plan,
)
from relational_to_doc_oriented_nosql_migrator_spark.sinks import (
    write_json_collections,
)
from tests.conftest import SF0001


def _read_ndjson_lines(target_dir):
    out = []
    for f in sorted(glob.glob(os.path.join(target_dir, "part-*.json"))):
        with open(f) as fh:
            out.extend(line for line in fh.read().splitlines() if line)
    return out


@pytest.fixture
def force_streaming(monkeypatch):
    """Every embedded subtree is past the threshold."""
    monkeypatch.setattr(nesting, "HEAVY_ROOT_SUBTREE_ROWS", 0)


def test_stream_plan_thresholds(spark, monkeypatch):
    """Only tiny-cardinality roots with a past-threshold subtree stream;
    at the default threshold nothing streams below the probe corpus, so
    the recorded bench/sweep plans are untouched."""
    catalog, _tables = build_testdata_catalog(spark, SF0001)
    plan = convert_schema(catalog)
    assert stream_plan(catalog, plan) == {}
    monkeypatch.setattr(nesting, "HEAVY_ROOT_SUBTREE_ROWS", 0)
    forced = stream_plan(catalog, plan)
    # region is the only root with embedded children in the tpch plan;
    # nation is its only (hence only over-threshold) child.
    assert forced == {"region": ["nation"]}


def test_stream_plan_gates_on_root_cardinality(monkeypatch):
    """Two roots, both with a subtree past the threshold: only the one
    with at most SMALL_PARENT_ROWS catalog rows streams. The sink relies
    on this gate to write a streamed collection as one part file per
    root (at most SMALL_PARENT_ROWS files)."""
    from relational_to_doc_oriented_nosql_migrator_spark.plans.catalog import (
        Catalog,
        ForeignKey,
        TableMeta,
    )
    from relational_to_doc_oriented_nosql_migrator_spark.plans.planner import (
        Collection,
        NoSQLPlan,
    )

    n = nesting.SMALL_PARENT_ROWS
    catalog = Catalog(
        [
            TableMeta("big", n + 1, ["bid"], ["bid"]),
            TableMeta("small", n, ["sid"], ["sid"]),
            TableMeta("bkid", 10, ["kid", "bfk"], ["kid"],
                      [ForeignKey("bfk", "big", "bid")]),
            TableMeta("skid", 10, ["kid", "sfk"], ["kid"],
                      [ForeignKey("sfk", "small", "sid")]),
        ]
    )
    plan = NoSQLPlan(
        "t",
        [
            Collection("big", ["bid"],
                       embedded=[Collection("bkid", ["kid"])]),
            Collection("small", ["sid"],
                       embedded=[Collection("skid", ["kid"])]),
        ],
    )
    monkeypatch.setattr(nesting, "HEAVY_ROOT_SUBTREE_ROWS", 10)
    assert stream_plan(catalog, plan) == {"small": ["skid"]}


@pytest.fixture(scope="module")
def both_outputs(spark, tmp_path_factory):
    # Threshold 0 engages the DEEPEST path: region streams, the nation
    # level splits on BOTH its children (customer + supplier — the
    # multi-heavy-children shape, r09 verdict #4), and customer splits
    # again on orders — so this parity fixture covers recursion depth 3
    # and multi-child fan-out in one go.
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(nesting, "HEAVY_ROOT_SUBTREE_ROWS", 0)
        collections, streamed = migrate_streamed(spark, SF0001)
    assert set(streamed) == {"region"}
    nation = streamed["region"].children[0]
    assert [c.name for c in streamed["region"].children] == ["nation"]
    assert nation.fragments is not None  # split mode engaged
    assert [c.name for c in nation.children] == ["customer", "supplier"]
    customer, supplier = nation.children
    assert customer.fragments is not None  # splits again on orders
    assert [c.name for c in customer.children] == ["orders"]
    assert customer.children[0].rows is not None  # orders is a leaf
    assert supplier.rows is not None  # supplier is a leaf
    normal_dir = str(tmp_path_factory.mktemp("sink_normal"))
    stream_dir = str(tmp_path_factory.mktemp("sink_streamed"))
    wrote_normal = write_json_collections(collections, normal_dir)
    wrote_streamed = write_json_collections(
        collections, stream_dir, streamed=streamed
    )
    return collections, normal_dir, stream_dir, wrote_normal, wrote_streamed


def test_streamed_writes_same_collections(both_outputs):
    _c, _n, stream_dir, wrote_normal, wrote_streamed = both_outputs
    assert sorted(wrote_normal) == sorted(wrote_streamed)
    # one part file per root, named by sorted root-key order
    parts = sorted(
        os.path.basename(p)
        for p in glob.glob(os.path.join(stream_dir, "region", "part-*"))
    )
    assert parts == [f"part-{i:05d}.json" for i in range(5)]


def test_streamed_region_parses_identical(spark, both_outputs):
    """Schema-guided read-back of the streamed NDJSON must yield the
    SAME parsed documents as the distributed writer's — toJSON
    round-trip compares nested content including embedded-array order
    (array_sort order on both paths)."""
    collections, normal_dir, stream_dir, _w, _w2 = both_outputs
    schema = collections["region"].schema
    normal = sorted(
        spark.read.schema(schema)
        .json(os.path.join(normal_dir, "region"))
        .toJSON()
        .collect()
    )
    streamed = sorted(
        spark.read.schema(schema)
        .json(os.path.join(stream_dir, "region"))
        .toJSON()
        .collect()
    )
    assert len(normal) == 5
    assert normal == streamed
    # _corrupt_record would surface as nulls everywhere under a strict
    # schema; make the non-degeneracy explicit:
    assert all('"nation":[' in line for line in streamed)


def test_leaf_mode_parses_identical(spark, both_outputs, tmp_path):
    """LEAF mode (child documents materialized as complete rows, only
    the root split) must also parse identically — this is the shape for
    a heavy root whose child level is NOT itself a hazard (large child
    cardinality or small grandchild subtrees). Forced by streaming the
    region root while the threshold stays at its default, so no level
    below it splits."""
    from relational_to_doc_oriented_nosql_migrator_spark.plans.nesting import (
        materialize_streamed_root,
    )

    collections, normal_dir, _s, _w, _w2 = both_outputs
    catalog, tables = build_testdata_catalog(spark, SF0001)
    plan = convert_schema(catalog)
    pieces = materialize_streamed_root(
        tables, catalog, plan, "region", "nation"
    )
    assert pieces.children[0].rows is not None  # leaf shape
    out = str(tmp_path / "single")
    wrote = write_json_collections(
        {"region": collections["region"]}, out, streamed={"region": pieces}
    )
    assert wrote == ["region"]
    schema = collections["region"].schema
    normal = sorted(
        spark.read.schema(schema)
        .json(os.path.join(normal_dir, "region"))
        .toJSON()
        .collect()
    )
    single = sorted(
        spark.read.schema(schema)
        .json(os.path.join(out, "region"))
        .toJSON()
        .collect()
    )
    assert single == normal


def test_two_heavy_root_children_parity(spark, tmp_path, monkeypatch):
    """A root with TWO over-threshold children streams BOTH (r09 verdict
    #4 — the old planner picked only the heaviest): synthetic catalog
    R -> {A, B} with both subtrees past the threshold, parse parity vs
    the distributed writer, including a root with no A children and a
    root with no B children (array omitted on both paths)."""
    from relational_to_doc_oriented_nosql_migrator_spark.plans.catalog import (
        Catalog,
        ForeignKey,
        TableMeta,
    )
    from relational_to_doc_oriented_nosql_migrator_spark.plans.nesting import (
        materialize,
        materialize_streamed_root,
        stream_plan,
    )
    from relational_to_doc_oriented_nosql_migrator_spark.plans.planner import (
        Collection,
        NoSQLPlan,
    )

    catalog = Catalog(
        [
            TableMeta("r", 3, ["rid", "rname"], ["rid"]),
            TableMeta(
                "a", 5, ["aid", "aval", "rfk"], ["aid"],
                [ForeignKey("rfk", "r", "rid")],
            ),
            TableMeta(
                "b", 4, ["bid", "bval", "rfk2"], ["bid"],
                [ForeignKey("rfk2", "r", "rid")],
            ),
        ]
    )
    plan = NoSQLPlan(
        "t",
        [
            Collection(
                "r",
                ["rid", "rname"],
                embedded=[
                    Collection("a", ["aid", "aval"]),
                    Collection("b", ["bid", "bval"]),
                ],
            )
        ],
    )
    tables = {
        "r": spark.createDataFrame(
            [(1, "one"), (2, "two"), (3, "three")], "rid int, rname string"
        ),
        "a": spark.createDataFrame(
            # root 3 gets no A children; one NULL-fk row never matches
            [(10, "x", 1), (11, "y", 1), (12, "z", 2), (13, "w", 2),
             (14, "q", None)],
            "aid int, aval string, rfk int",
        ),
        "b": spark.createDataFrame(
            # root 2 gets no B children
            [(20, "p", 1), (21, "r", 3), (22, "s", 3), (23, "t", 1)],
            "bid int, bval string, rfk2 int",
        ),
    }
    monkeypatch.setattr(nesting, "HEAVY_ROOT_SUBTREE_ROWS", 4)
    assert stream_plan(catalog, plan) == {"r": ["a", "b"]}
    collections = materialize(tables, catalog, plan, normalize_dates=False)
    pieces = materialize_streamed_root(
        tables, catalog, plan, "r", ["a", "b"], normalize_dates=False,
    )
    assert [c.name for c in pieces.children] == ["a", "b"]
    normal_dir = str(tmp_path / "normal")
    stream_dir = str(tmp_path / "streamed")
    write_json_collections(collections, normal_dir)
    write_json_collections(collections, stream_dir, streamed={"r": pieces})
    schema = collections["r"].schema
    normal = sorted(
        spark.read.schema(schema).json(os.path.join(normal_dir, "r"))
        .toJSON().collect()
    )
    streamed = sorted(
        spark.read.schema(schema).json(os.path.join(stream_dir, "r"))
        .toJSON().collect()
    )
    assert len(normal) == 3
    assert normal == streamed
    docs = {
        json.loads(line)["rid"]: json.loads(line)
        for line in _read_ndjson_lines(os.path.join(stream_dir, "r"))
    }
    assert "a" not in docs[3] and [x["bid"] for x in docs[3]["b"]] == [21, 22]
    assert "b" not in docs[2] and [x["aid"] for x in docs[2]["a"]] == [12, 13]


def test_streamed_assembly_exotic_keys(spark, tmp_path):
    """The canonical key encoding (nesting._stream_key) must survive key
    values Python str() would mis-render against Spark's partition-dir
    naming — booleans, strings with spaces/tabs/percent signs, empty
    strings — and NULL child keys must yield an omitted grandchild
    array, not a corrupted fragment line (r09 deferred findings #1/#2).
    Built directly at the StreamedRoot seam: the frames are plain
    DataFrames, so the sink contract is testable without a catalog.
    Two root-level children exercise the multi-key fragment framing."""
    from pyspark.sql import functions as F

    from relational_to_doc_oriented_nosql_migrator_spark.plans.nesting import (
        NULL_KEY_SENTINEL,
        StreamedLevel,
        StreamedRoot,
        _stream_key,
    )

    keys = ["plain", "with space", "with\ttab", "100%", "", "True"]
    roots = spark.createDataFrame(
        [
            (k, '{"root_key":%s}' % json.dumps(k), "{}", "{}")
            for k in keys
        ],
        "raw string, __seg0 string, __seg1 string, __seg2 string",
    ).select(
        _stream_key(F.col("raw")).alias("__fk0"),
        _stream_key(F.col("raw")).alias("__fk1"),
        "__seg0", "__seg1", "__seg2",
    )
    # first child level SPLITS: two fragments per root, one grandchild
    # dir under the first fragment of each root, none under the second;
    # the second fragment carries a NULL child key (sentinel path).
    frag_rows = []
    for k in keys:
        frag_rows.append((k, f"{k}/c0", '{"cid":0}'))
        frag_rows.append((k, None, '{"cid":1}'))
    frags = spark.createDataFrame(
        frag_rows, "rfk string, ck string, body string"
    ).select(
        _stream_key(F.col("rfk")).alias("__pk"),
        F.coalesce(_stream_key(F.col("ck")),
                   F.lit(NULL_KEY_SENTINEL)).alias("__k0"),
        F.struct(F.get_json_object("body", "$.cid").cast("int")
                 .alias("cid")).alias("__seg0"),
        F.struct(F.lit(None).alias("__none")).alias("__seg1"),
    )
    grands = spark.createDataFrame(
        [(f"{k}/c0", i) for k in keys for i in range(2)],
        "gk string, gval int",
    ).select(
        _stream_key(F.col("gk")).alias("__pk"),
        F.struct(F.col("gval")).alias("__st"),
    )
    # second root-level child is a LEAF keyed by the same exotic values
    others = spark.createDataFrame(
        [(k, f"o-{k}") for k in keys], "rfk string, oval string"
    ).select(
        _stream_key(F.col("rfk")).alias("__pk"),
        F.struct(F.col("oval")).alias("__st"),
    )
    pieces = StreamedRoot(
        roots=roots,
        children=[
            StreamedLevel(
                name="children",
                fragments=frags,
                children=[StreamedLevel(name="grand", rows=grands)],
            ),
            StreamedLevel(name="others", rows=others),
        ],
    )
    from relational_to_doc_oriented_nosql_migrator_spark.sinks.json_collections import (
        _write_streamed,
    )

    target = str(tmp_path / "exotic")
    assert _write_streamed(pieces, target)
    docs = [json.loads(line) for line in _read_ndjson_lines(target)]
    assert len(docs) == len(keys)
    by_key = {d["root_key"]: d for d in docs}
    assert set(by_key) == set(keys)   # every exotic key matched its dir
    for k in keys:
        kids = by_key[k]["children"]
        assert len(kids) == 2
        with_g = [c for c in kids if "grand" in c]
        without_g = [c for c in kids if "grand" not in c]
        assert len(with_g) == 1 and len(without_g) == 1
        assert [g["gval"] for g in with_g[0]["grand"]] == [0, 1]
        assert [o["oval"] for o in by_key[k]["others"]] == [f"o-{k}"]


def test_streamed_rerun_overwrites_stale_parts(spark, both_outputs,
                                               tmp_path, force_streaming):
    """Overwrite semantics (distributed-writer parity): rerunning into
    the same target with FEWER roots must not leave stale part files —
    every reader globs part-*, so a leftover is a phantom document."""
    collections, _n, _s, _w, _w2 = both_outputs
    _colls, streamed = migrate_streamed(spark, SF0001)
    pieces = streamed["region"]
    out = str(tmp_path / "rerun")
    full_roots = pieces.roots
    write_json_collections(
        {"region": collections["region"]}, out, streamed={"region": pieces}
    )
    assert len(glob.glob(os.path.join(out, "region", "part-*"))) == 5
    pieces.roots = full_roots.limit(2)
    write_json_collections(
        {"region": collections["region"]}, out, streamed={"region": pieces}
    )
    parts = glob.glob(os.path.join(out, "region", "part-*"))
    assert len(parts) == 2
    assert len(_read_ndjson_lines(os.path.join(out, "region"))) == 2
    # publish is a directory swap: no stage/temp litter next to target
    assert os.listdir(out) == ["region"]


def test_materialize_streamed_root_arg_validation(spark, force_streaming):
    """Duplicate child names dedupe (caller convenience); an unknown
    child raises naming the actual missing collection."""
    from relational_to_doc_oriented_nosql_migrator_spark.plans.nesting import (
        materialize_streamed_root,
    )

    catalog, tables = build_testdata_catalog(spark, SF0001)
    plan = convert_schema(catalog)
    pieces = materialize_streamed_root(
        tables, catalog, plan, "region", ["nation", "nation"]
    )
    assert [c.name for c in pieces.children] == ["nation"]
    with pytest.raises(ValueError, match="no_such_child"):
        materialize_streamed_root(
            tables, catalog, plan, "region", ["no_such_child"]
        )


def test_streamed_sink_uri_target(spark, both_outputs, tmp_path,
                                  force_streaming):
    """Scheme-qualified targets route fragment listing, fragment reads,
    and the stitched part-file writes through pyarrow.fs — the
    shared-store seam a real cluster needs (fragments and part files
    live on the DFS the Spark writers targeted, not one machine's
    disk). Exercised with file:// against the same parity contract."""
    collections, normal_dir, _s, _w, _w2 = both_outputs
    _colls, streamed = migrate_streamed(spark, SF0001)
    uri = "file://" + str(tmp_path / "uri_out")
    wrote = write_json_collections(
        {"region": collections["region"]}, uri,
        streamed={"region": streamed["region"]},
    )
    assert wrote == ["region"]
    schema = collections["region"].schema
    normal = sorted(
        spark.read.schema(schema)
        .json(os.path.join(normal_dir, "region"))
        .toJSON()
        .collect()
    )
    via_uri = sorted(
        spark.read.schema(schema).json(uri + "/region").toJSON().collect()
    )
    assert via_uri == normal
    # fragment tmp dirs cleaned up through the fs seam too
    leftovers = [
        p for p in os.listdir(tmp_path / "uri_out")
        if "__stream" in p
    ]
    assert leftovers == []


def test_streamed_empty_root_skipped(spark, both_outputs, tmp_path,
                                     force_streaming):
    """filter_nonempty_collection semantics survive streaming: a root
    frame with zero rows writes nothing, is not reported, and removes
    the collection an earlier run wrote to the same target."""
    collections, _n, _s, _w, _w2 = both_outputs
    _colls, streamed = migrate_streamed(spark, SF0001)
    pieces = streamed["region"]
    out = str(tmp_path / "rerun_empty")
    region = {"region": collections["region"]}
    assert write_json_collections(
        region, out, streamed={"region": pieces}
    ) == ["region"]
    assert os.path.isdir(os.path.join(out, "region"))
    pieces.roots = pieces.roots.filter("1 = 0")
    wrote = write_json_collections(region, out, streamed={"region": pieces})
    assert "region" not in wrote
    assert os.listdir(out) == []


def test_bare_local_out_dir_rejected_off_local_master(tmp_path):
    """A bare local out_dir on a non-local master must raise loudly
    (r10 ADVICE #2): executors would scatter fragment dirs across their
    own disks and the stitch would silently omit child arrays."""
    import pytest

    class _Ctx:
        master = "spark://cluster:7077"

    class _Sess:
        sparkContext = _Ctx()

    class _DF:
        sparkSession = _Sess()

    with pytest.raises(ValueError, match="scatter"):
        write_json_collections({"c": _DF()}, str(tmp_path / "o"))


def test_write_time_counts_match_line_counts(spark, tmp_path,
                                            force_streaming):
    """The counts= out-param (write-time doc counts: streamed roots
    from the collected roots frame, distributed writes via observe())
    must equal the actual NDJSON line counts of what landed on disk —
    this is the contract that let sink_json_collections drop its
    read-back pass (r11 verdict task #4)."""
    collections, streamed = migrate_streamed(spark, SF0001)
    out = str(tmp_path / "counted")
    counts = {}
    written = write_json_collections(
        collections, out, streamed=streamed, counts=counts
    )
    assert sorted(counts) == sorted(written)
    for name in written:
        n_lines = len(_read_ndjson_lines(os.path.join(out, name)))
        assert counts[name] == n_lines, name
        assert counts[name] > 0


def test_duplicate_attempt_adopts_published_part(tmp_path, monkeypatch):
    """A duplicate task attempt whose publish rename collides with an
    already-published part must ADOPT it (succeed, drop its temp), not
    fail the task — pyarrow move() errors on existing destinations on
    several stores (r11 ADVICE #3)."""
    from relational_to_doc_oriented_nosql_migrator_spark.sinks import (
        json_collections as jc,
    )

    part = str(tmp_path / "part-00000.json")
    with open(part, "w") as fh:
        fh.write('{"winner": true}\n')

    def exploding_rename(src, dst):
        raise OSError("destination already exists")

    monkeypatch.setattr(jc, "_rename", exploding_rename)
    spec = []  # leaf: segs are complete document strings
    jc._stitch_part(part, [], ['{"winner": true}'], spec)
    with open(part) as fh:
        assert fh.read() == '{"winner": true}\n'
    leftovers = [p for p in os.listdir(tmp_path) if p != "part-00000.json"]
    assert leftovers == []


def test_streamed_stitch_runs_outside_the_repository(tmp_path):
    """The per-root stitch runs in Python tasks, which import the package
    on the workers. A CLI started outside the repository root, with the
    package only on the driver's sys.path, must still write every root."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = str(tmp_path / "out")
    code = (
        "import sys\n"
        f"sys.path.insert(0, {repo!r})\n"
        "from relational_to_doc_oriented_nosql_migrator_spark import cli\n"
        "from relational_to_doc_oriented_nosql_migrator_spark.plans import "
        "nesting\n"
        "nesting.HEAVY_ROOT_SUBTREE_ROWS = 0\n"
        f"sys.exit(cli.main(['--tables', {SF0001!r}, '--out', {out!r}]))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    run = subprocess.run([sys.executable, "-c", code], cwd=str(tmp_path),
                         env=env, capture_output=True, text=True, timeout=600)
    assert run.returncode == 0, run.stderr[-3000:]
    assert len(_read_ndjson_lines(os.path.join(out, "region"))) == 5
