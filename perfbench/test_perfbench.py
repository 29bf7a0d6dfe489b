"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import measure  # noqa: E402
import run as runner  # noqa: E402
import spans as tracing  # noqa: E402
import workloads  # noqa: E402


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# -- generators -------------------------------------------------------------

def test_tables_are_deterministic_per_seed():
    a = gen.make_tables(7, 0.002)
    b = gen.make_tables(7, 0.002)
    c = gen.make_tables(8, 0.002)
    assert all(a[n].equals(b[n]) for n in a)
    assert not a["orders"].equals(c["orders"])
    # sizes depend on the scale factor only
    assert {n: t.num_rows for n, t in a.items()} == {
        n: t.num_rows for n, t in c.items()} == gen.table_sizes(0.002)


def test_table_subset_matches_full_set():
    full = gen.make_tables(3, 0.002)
    part = gen.make_tables(3, 0.002, ("lineitem", "documents"))
    assert set(part) == {"lineitem", "documents"}
    assert part["lineitem"].equals(full["lineitem"])


def test_lineitem_keys_are_unique_and_reference_orders():
    t = gen.make_tables(5, 0.002, ("lineitem",))["lineitem"].to_pydict()
    keys = list(zip(t["l_orderkey"], t["l_linenumber"]))
    assert len(set(keys)) == len(keys)
    assert max(t["l_orderkey"]) < gen.table_sizes(0.002)["orders"]


def test_general_log_is_deterministic_and_parses():
    from relational_to_doc_oriented_nosql_migrator_spark.workload import (
        MYSQL_ENTRY_RE,
        MYSQL_ENTRY_SPLIT,
    )

    sizes = gen.table_sizes(0.01)
    text, stats = gen.mysql_general_log(11, 2000, sizes)
    assert (text, stats) == gen.mysql_general_log(11, 2000, sizes)
    assert text != gen.mysql_general_log(12, 2000, sizes)[0]
    entries = [e for e in re.split(MYSQL_ENTRY_SPLIT, text)
               if re.match(r"^\d{6}", e)]
    assert len(entries) == 2000
    matches = [re.match(MYSQL_ENTRY_RE, e) for e in entries]
    assert all(matches)
    assert sum(m.group(1) == "Query" for m in matches) == stats["queries"]
    assert 0.25 <= stats["writes"] / stats["queries"] <= 0.40
    assert 0.08 <= stats["joins"] / stats["queries"] <= 0.22


def test_dump_is_deterministic_and_declares_keys():
    from relational_to_doc_oriented_nosql_migrator_spark.sources import sqldump

    text, rows = gen.mysqldump(4, 0.001)
    assert text == gen.mysqldump(4, 0.001)[0]
    assert text != gen.mysqldump(5, 0.001)[0]
    creates = [sqldump._parse_create(s) for s in sqldump._split_statements(text)
               if s.upper().startswith("CREATE TABLE")]
    by_name = {c.name: c for c in creates}
    assert set(by_name) == set(gen.TPCH_TABLES)
    for name, pks in gen.DUMP_PRIMARY_KEYS.items():
        assert tuple(by_name[name].primary_keys) == pks
        fks = {(f.column, f.referenced_table, f.referenced_column)
               for f in by_name[name].foreign_keys}
        assert fks == set(gen.DUMP_FOREIGN_KEYS.get(name, ()))
    dates = dict(by_name["orders"].fields)
    assert type(dates["o_orderdate"]).__name__ == "DateType"
    inserted = {}
    for stmt in sqldump._split_statements(text):
        m = re.match(r"INSERT INTO `(\w+)` VALUES (.*)", stmt, re.S)
        if m:
            inserted[m.group(1)] = inserted.get(m.group(1), 0) + len(
                sqldump._split_top_level(m.group(2)))
    assert inserted == rows


# -- names and the BENCHMARK.json contract ----------------------------------

def test_names_match_contract():
    bench = _bench()
    names = ([w["name"] for w in bench["workloads"]]
             + [m["name"] for m in bench["end_to_end"]]
             + [m["name"] for m in bench["per_layer"]])
    assert len(names) == len(set(names))
    for name in names:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", name), name
        assert measure.NAME_RE.match(name)


def test_benchmark_json_matches_code():
    bench = _bench()
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == \
        workloads.E2E_UNITS
    assert [m["name"] for m in bench["per_layer"]] == list(workloads.PER_LAYER)
    for m in bench["per_layer"]:
        assert m["unit"] == workloads._unit(m["name"])
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])


# -- statistics --------------------------------------------------------------

@pytest.mark.parametrize("n, want", [
    (5, None), (19, None), (20, (50.0, 10)), (109, (90.0, 10)),
    (110, (90.0, 11)), (1000, (99.0, 10)), (10000, (99.9, 10)),
])
def test_tail_percentile_needs_ten_samples_beyond(n, want):
    samples = [float(i) for i in range(1, n + 1)]
    got = measure.tail_percentile(samples)
    if want is None:
        assert got is None
    else:
        pct, value, beyond = got
        assert (pct, beyond) == want
        assert sum(s > value for s in samples) == beyond


def test_busy_seconds_is_union_of_intervals():
    assert measure.busy_seconds([(0, 2), (1, 3), (5, 6)]) == 4
    assert measure.busy_seconds([]) == 0


# -- output checks -----------------------------------------------------------

def test_ndjson_digest_ignores_line_and_file_order(tmp_path):
    for d, parts in (("a", [["x", "y"], ["z"]]), ("b", [["z", "y"], ["x"]])):
        for i, lines in enumerate(parts):
            p = tmp_path / d / "coll" / f"part-{i}.json"
            p.parent.mkdir(parents=True, exist_ok=True)
            p.write_text("".join(line + "\n" for line in lines))
        (tmp_path / d / "coll" / "_SUCCESS").write_text("")
    a, b = (workloads.ndjson_digest(str(tmp_path / d)) for d in "ab")
    assert a == b
    assert a[0] == {"coll": [a[0]["coll"][0], 3]}
    assert a[1] == 6


def _written(docs):
    """Documents as the program writes them: keys and embedded documents in
    another order, parsed back from JSON text, float32 arrays printed as
    the shortest decimal of each float32."""
    out = []
    for doc in docs:
        doc = json.loads(json.dumps(dict(reversed(list(doc.items())))))
        if "nation" in doc:
            doc["nation"].reverse()
        if "embedding" in doc:
            doc["embedding"] = [float(str(np.float32(v)))
                                for v in doc["embedding"]]
        out.append(doc)
    return out


def test_expected_documents_accept_the_program_output_shape():
    tables = gen.make_tables(2, 0.001)
    expected = {c: list(d) for c, d in
                workloads.expected_documents(tables).items()}
    assert set(expected) == set(tables) - {"nation"}
    region = expected["region"]
    assert sum(len(r["nation"]) for r in region) == gen.N_NATIONS
    assert "n_regionkey" not in region[0]["nation"][0]
    order = expected["orders"][0]
    assert {"o_custkey_REF", "o_orderkey"} <= set(order)
    assert len(order["o_orderdate"]) == 10
    written = {c: _written(d) for c, d in expected.items()}
    workloads.check_documents(workloads.documents_digest(expected), written)


def test_check_documents_rejects_wrong_content():
    tables = gen.make_tables(2, 0.001, ("region", "nation", "part"))
    digest = workloads.documents_digest(workloads.expected_documents(tables))
    written = {c: list(d) for c, d in
               workloads.expected_documents(tables).items()}
    written["part"][3]["p_size"] += 1
    with pytest.raises(workloads.CheckFailed, match="part"):
        workloads.check_documents(digest, written)
    written["part"][3]["p_size"] -= 1
    written["region"][0]["nation"].pop()
    with pytest.raises(workloads.CheckFailed, match="region"):
        workloads.check_documents(digest, written)
    del written["region"]
    with pytest.raises(workloads.CheckFailed, match="region"):
        workloads.check_documents(digest, written)


# -- tracing -----------------------------------------------------------------

def test_spans_nest_and_self_time():
    tracer = tracing.Tracer()
    with tracer.span("job", "job"):
        with tracer.span("sources.catalog", "sources"):
            pass
        with tracer.span("sinks.write", "sinks"):
            pass
    by_name = {s["name"]: s for s in tracer.spans}
    root = by_name["job"]
    assert by_name["sinks.write"]["parent"] == root["id"]
    assert {s["run"] for s in tracer.spans} == {root["id"]}
    covered = sum(s["end"] - s["start"] for s in tracer.spans
                  if s["parent"] == root["id"])
    assert tracing.self_seconds(root, tracer.spans) == pytest.approx(
        root["end"] - root["start"] - covered)


def test_event_log_attribution(tmp_path):
    spans = [
        {"id": 1, "parent": None, "run": 1, "name": "job", "layer": "job",
         "start": 100.0, "end": 110.0, "attrs": {}},
        {"id": 2, "parent": 1, "run": 1, "name": "sinks.write",
         "layer": "sinks", "start": 101.0, "end": 109.0, "attrs": {}},
    ]
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 102000, "Stage IDs": [0],
         "Properties": {"spark.job.description": "sinks.write#2"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 103000, "Stage IDs": [1], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Failed": False},
         "Task Metrics": {"Executor Run Time": 1500, "JVM GC Time": 100,
                          "Shuffle Write Metrics": {
                              "Shuffle Bytes Written": 42},
                          "Disk Bytes Spilled": 7}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Failed": True}, "Task Metrics": {}},
    ]
    log = tmp_path / "eventlog_v2_app" / "events_1_app"
    log.parent.mkdir()
    log.write_text("".join(json.dumps(e) + "\n" for e in events))
    jobs = tracing.read_event_log(str(tmp_path))
    span_jobs = tracing.attribute_jobs(jobs, spans)
    # by description, and by submission time for the undescribed job
    assert [j["id"] for j in span_jobs[2]] == [0, 1]
    totals = tracing.layer_totals(spans, span_jobs, cores=4)
    assert totals["sinks"]["jobs"] == 2
    assert totals["sinks"]["tasks"] == 2
    assert totals["sinks"]["failed_tasks"] == 1
    assert totals["sinks"]["shuffle_write_bytes"] == 42
    assert totals["sinks"]["spill_bytes"] == 7
    assert totals["sinks"]["core_util"] == pytest.approx(1.5 / (8.0 * 4))


# -- tree hygiene ------------------------------------------------------------

def test_scratch_locations_stay_under_the_work_dir(tmp_path, monkeypatch):
    for var in ("TMPDIR", "SPARK_LOCAL_DIRS", "PYTHONPATH",
                "JAVA_TOOL_OPTIONS"):
        monkeypatch.delenv(var, raising=False)
    # the benchmarked configuration does not follow the caller's
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "1")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "8g")
    cwd = os.getcwd()
    try:
        work = runner.prepare_environment(str(tmp_path), "w")
    finally:
        os.chdir(cwd)
    assert work.startswith(str(tmp_path / runner.WORK_DIR))
    assert os.environ["TMPDIR"].startswith(work)
    assert os.environ["SPARK_LOCAL_DIRS"].startswith(work)
    for opt in os.environ["JAVA_TOOL_OPTIONS"].split():
        if opt.startswith(("-Djava.io.tmpdir=", "-Dderby.system.home=")):
            assert opt.split("=", 1)[1].startswith(work)
    assert os.listdir(tmp_path) == [runner.WORK_DIR]
    assert os.environ["SPARK_GRAFT_CPUS"] == str(workloads.CORES)
    assert os.environ["SPARK_GRAFT_DRIVER_MEM"] == workloads.DRIVER_MEM


def test_work_dir_is_ignored_by_git():
    with open(os.path.join(ROOT, ".gitignore")) as fh:
        ignored = {line.strip().strip("/") for line in fh}
    assert runner.WORK_DIR in ignored


def test_fails_without_a_program(tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         next(iter(workloads.WORKLOADS)), "--seed", "1", "--seconds", "1",
         "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert proc.stdout == ""
    assert os.listdir(tmp_path) == []
