"""CLI / `migrate_from_dump`: the reference's POST /migration workflow as a
batch entry point — dump (+ optional query log) in, JSON collections out."""

import json
import os

from relational_to_doc_oriented_nosql_migrator_spark.engine import (
    migrate_from_dump,
)
from relational_to_doc_oriented_nosql_migrator_spark.operators.relational import (
    DUMP_FIXTURE,
)


def test_migrate_from_dump_nests_employee_into_dept(spark):
    out, _catalog, _plan = migrate_from_dump(spark, DUMP_FIXTURE)
    assert set(out) == {"dept"}
    docs = {r["id"]: r.asDict(recursive=True) for r in out["dept"].collect()}
    emp_names = {e["emp_name"] for e in (docs[1]["employee"] or [])}
    assert emp_names == {"ada", "alan"}


def test_migrate_from_dump_applies_workload(spark):
    # A write-hot MySQL 5.x general log against employee (3 rows) flips it
    # from embedded-in-dept to its own referencing collection.
    log = "".join(
        f"240807 10:15:2{i}\t   42 Query\tUPDATE employee SET emp_name = 'x'"
        f" WHERE emp_id = {10 + i % 3}\n"
        for i in range(5)
    )
    out, catalog, _plan = migrate_from_dump(
        spark, DUMP_FIXTURE, log_content=log)
    employee = catalog.get_table("employee")
    assert (employee.gaf, employee.uaf) == (15, 15)
    assert "employee" in out
    assert "dept_id_REF" in out["employee"].columns


def test_cli_dump_to_json_dir(spark, tmp_path):
    from relational_to_doc_oriented_nosql_migrator_spark import cli

    dump = tmp_path / "mini.sql"
    dump.write_text(DUMP_FIXTURE)
    out_dir = tmp_path / "out"
    rc = cli.main(
        ["--dump", str(dump), "--out", str(out_dir), "--single-file"]
    )
    assert rc == 0
    files = os.listdir(out_dir)
    assert "dept.json" in files
    docs = json.loads((out_dir / "dept.json").read_text())
    assert len(docs) == 3 and any(d.get("employee") for d in docs)


def test_cli_latin1_dump_decodes_like_the_service(spark, tmp_path):
    # A latin-1 mysqldump is not valid UTF-8; the CLI decodes it the way
    # POST /migration does (undecodable bytes replaced) instead of failing.
    from relational_to_doc_oriented_nosql_migrator_spark import cli

    dump = tmp_path / "latin1.sql"
    dump.write_bytes(
        b"CREATE TABLE cafe (id INT PRIMARY KEY, name VARCHAR(20));\n"
        b"INSERT INTO cafe VALUES (1,'Caf\xe9');\n"
    )
    out_dir = tmp_path / "out"
    rc = cli.main(
        ["--dump", str(dump), "--out", str(out_dir), "--single-file"]
    )
    assert rc == 0
    docs = json.loads((out_dir / "cafe.json").read_text(encoding="utf-8"))
    assert [d["name"] for d in docs] == [b"Caf\xe9".decode("utf-8", "replace")]


def test_cli_parquet_tables_to_json_dir(spark, tmp_path):
    from relational_to_doc_oriented_nosql_migrator_spark import cli
    from tests.conftest import SF0001

    out_dir = tmp_path / "out"
    rc = cli.main(["--tables", SF0001, "--out", str(out_dir)])
    assert rc == 0
    written = set(os.listdir(out_dir))
    # The TPC-H plan's roots: region nest + standalone collections.
    assert {"region", "part", "lineitem"} <= written


def test_cli_postgres_log_changes_the_plan(spark, tmp_path, capsys):
    from relational_to_doc_oriented_nosql_migrator_spark import cli
    from relational_to_doc_oriented_nosql_migrator_spark.operators.workload_ops import (
        PG_LOG,
    )
    from tests.conftest import SF0001

    log = tmp_path / "pg.log"
    log.write_text(PG_LOG)
    idle, hot = tmp_path / "idle", tmp_path / "hot"
    assert cli.main(["--tables", SF0001, "--out", str(idle)]) == 0
    capsys.readouterr()
    assert cli.main(["--tables", SF0001, "--log", str(log),
                     "--dialect", "postgres", "--out", str(hot)]) == 0
    summary = json.loads(capsys.readouterr().out)
    assert (summary["statements"], summary["unmatched_refs"]) == (5, 0)
    # write-hot orders leaves the region tree for its own collection
    assert "orders" not in os.listdir(idle)
    assert "orders" in os.listdir(hot)


def test_cli_dump_writes_ndjson_without_spark(tmp_path):
    """--dump migrates on the driver: no SparkContext starts, and each
    collection is one NDJSON part file that replaces the collection's
    earlier directory as a whole."""
    import subprocess
    import sys

    dump = tmp_path / "mini.sql"
    dump.write_text(DUMP_FIXTURE)
    out_dir = tmp_path / "out"
    (out_dir / "dept").mkdir(parents=True)
    (out_dir / "dept" / "part-00003-stale.json").write_text("{}\n")
    code = (
        "import sys\n"
        "from pyspark import SparkContext\n"
        "from relational_to_doc_oriented_nosql_migrator_spark import cli\n"
        "assert cli.main(sys.argv[1:]) == 0\n"
        "print(SparkContext._active_spark_context is None)\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code, "--dump", str(dump), "--out",
         str(out_dir), "--zip", str(tmp_path / "c.zip")],
        capture_output=True, text=True, check=True, cwd=repo, timeout=120,
    ).stdout.splitlines()
    summary = json.loads(out[0])
    assert summary["out"] == str(out_dir)
    assert summary["collections"] == {"dept": 3}
    assert out[1] == "True"
    assert os.listdir(out_dir / "dept") == ["part-00000.json"]
    lines = (out_dir / "dept" / "part-00000.json").read_text().splitlines()
    assert sorted(json.loads(line)["id"] for line in lines) == [1, 2, 3]
    import zipfile

    with zipfile.ZipFile(tmp_path / "c.zip") as zf:
        assert zf.namelist() == ["dept/part-00000.json"]


def _hot_employee_log(tmp_path):
    log = tmp_path / "hot.log"
    log.write_text("".join(
        f"240807 10:15:2{i}\t   42 Query\tUPDATE employee SET emp_name = 'x'"
        f" WHERE emp_id = {10 + i % 3}\n"
        for i in range(5)
    ))
    return str(log)


def test_cli_dump_rerun_zip_holds_only_this_runs_collections(
        tmp_path, capsys):
    """A rerun into the same --out whose plan drops a collection: the
    earlier run's file stays on disk, but the zip holds only what this
    run wrote."""
    import zipfile

    from relational_to_doc_oriented_nosql_migrator_spark import cli

    dump = tmp_path / "d.sql"
    dump.write_text(DUMP_FIXTURE)
    out_dir = str(tmp_path / "out")
    assert cli.main(["--dump", str(dump), "--log", _hot_employee_log(tmp_path),
                     "--out", out_dir, "--single-file"]) == 0
    assert sorted(os.listdir(out_dir)) == ["dept.json", "employee.json"]
    capsys.readouterr()
    zip_path = tmp_path / "c.zip"
    assert cli.main(["--dump", str(dump), "--out", out_dir, "--single-file",
                     "--zip", str(zip_path)]) == 0
    summary = json.loads(capsys.readouterr().out)
    assert summary["collections"] == {"dept": 3}
    with zipfile.ZipFile(zip_path) as zf:
        assert zf.namelist() == ["dept.json"]


def test_cli_tables_single_file_zip_matches_summary(spark, tmp_path, capsys):
    """The Spark single-file mode from the CLI: one JSON array per
    written collection in the zip, as long as the summary's count. The
    summary has a run id and the wall seconds of the workload and plan
    steps, of the Spark migration they are part of, and of the write."""
    import zipfile

    from relational_to_doc_oriented_nosql_migrator_spark import cli
    from tests.conftest import SF0001

    zip_path = tmp_path / "c.zip"
    assert cli.main(["--tables", SF0001, "--out", str(tmp_path / "out"),
                     "--single-file", "--zip", str(zip_path)]) == 0
    summary = json.loads(capsys.readouterr().out)
    assert len(summary["id"]) == 32 and int(summary["id"], 16) >= 0
    stages = summary["stages"]
    assert list(stages) == ["workload", "plan", "migrate", "write"]
    assert stages["write"] > 0
    assert 0 <= stages["workload"] + stages["plan"] <= stages["migrate"]
    assert (summary["statements"], summary["unmatched_refs"]) == (0, 0)
    counts = summary["collections"]
    assert {"region", "part", "lineitem"} <= set(counts)
    with zipfile.ZipFile(zip_path) as zf:
        assert zf.namelist() == [f"{name}.json" for name in counts]
        lengths = {name: len(json.loads(zf.read(f"{name}.json")))
                   for name in counts}
    assert lengths == counts


def test_cli_dump_summary_has_an_id_and_stage_times(tmp_path, capsys):
    """--dump reports the service record's stages plus the write."""
    from relational_to_doc_oriented_nosql_migrator_spark import cli

    dump = tmp_path / "d.sql"
    dump.write_text(DUMP_FIXTURE)
    assert cli.main(["--dump", str(dump), "--out", str(tmp_path / "out"),
                     "--log", _hot_employee_log(tmp_path)]) == 0
    summary = json.loads(capsys.readouterr().out)
    assert len(summary["id"]) == 32 and int(summary["id"], 16) >= 0
    assert list(summary["stages"]) == [
        "parse", "workload", "plan", "build", "write"]
    assert all(s >= 0 for s in summary["stages"].values())
    assert (summary["statements"], summary["unmatched_refs"]) == (5, 0)
    assert summary["collections"] == {"dept": 3, "employee": 3}



# The tables MYSQL_LOG names, but supplier.
NO_SUPPLIER_DUMP = "".join(
    f"CREATE TABLE {t} (id INT PRIMARY KEY);\nINSERT INTO {t} VALUES (1);\n"
    for t in ("region", "nation", "customer", "part", "orders", "lineitem"))


def test_cli_dump_summary_counts_refs_to_no_catalog_table(tmp_path, capsys):
    """A log's statements and its DML refs to no catalog table are in
    the summary, so a log that matched nothing shows."""
    from relational_to_doc_oriented_nosql_migrator_spark import cli
    from relational_to_doc_oriented_nosql_migrator_spark.operators.workload_ops import (
        MYSQL_LOG,
    )

    dump, log = tmp_path / "d.sql", tmp_path / "q.log"
    dump.write_text(NO_SUPPLIER_DUMP)
    log.write_text(MYSQL_LOG)
    assert cli.main(["--dump", str(dump), "--log", str(log),
                     "--out", str(tmp_path / "out")]) == 0
    summary = json.loads(capsys.readouterr().out)
    assert (summary["statements"], summary["unmatched_refs"]) == (11, 1)
