"""The driver-side dump path is plain Python: a fresh interpreter that
serves a POST and a download and runs CLI `--dump` loads no Spark, Arrow
or numpy module. Spark-side names that the benchmark tracer wraps still
resolve."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HEAVY = ("pyspark", "py4j", "pyarrow", "numpy", "pandas")

DUMP = """CREATE TABLE dept (id INT PRIMARY KEY, name VARCHAR(20));
CREATE TABLE emp (id INT PRIMARY KEY, dept_id INT, name VARCHAR(20),
  hired DATE, FOREIGN KEY (dept_id) REFERENCES dept (id));
INSERT INTO dept VALUES (1,'ops'),(2,'lab');
INSERT INTO emp VALUES (10,1,'ada','2024-01-02'),(11,2,'alan',NULL);
"""


def _run(code: str, *args: str) -> str:
    return subprocess.run(
        [sys.executable, "-c", code, *args], capture_output=True,
        text=True, check=True, cwd=REPO, timeout=120,
    ).stdout


def test_dump_path_loads_no_spark_arrow_or_numpy(tmp_path):
    dump = tmp_path / "d.sql"
    dump.write_text(DUMP)
    code = (
        "import io, json, sys, urllib.request, zipfile\n"
        "from relational_to_doc_oriented_nosql_migrator_spark import cli, "
        "service\n"
        "dump, out, zip_path, results = sys.argv[1:]\n"
        "srv = service.serve(results_dir=results)\n"
        "base = f'http://127.0.0.1:{srv.server_address[1]}'\n"
        "body = (b'--b\\r\\nContent-Disposition: form-data; name=\"sqlFile\"; "
        "filename=\"d.sql\"\\r\\n\\r\\n' + open(dump, 'rb').read()\n"
        "        + b'\\r\\n--b--\\r\\n')\n"
        "req = urllib.request.Request(base + '/migration', data=body, "
        "method='POST',\n"
        "    headers={'Content-Type': 'multipart/form-data; boundary=b'})\n"
        "with urllib.request.urlopen(req) as r:\n"
        "    rid = json.load(r)['resultId']\n"
        "with urllib.request.urlopen(base + '/download/result?id=' + rid) "
        "as r:\n"
        "    served = zipfile.ZipFile(io.BytesIO(r.read())).namelist()\n"
        "srv.shutdown()\n"
        "assert cli.main(['--dump', dump, '--out', out, '--zip', zip_path]) "
        "== 0\n"
        "print(json.dumps({'served': served, 'heavy': sorted(\n"
        f"    m for m in sys.modules if m.split('.')[0] in {HEAVY!r})}}))\n"
    )
    out = _run(code, str(dump), str(tmp_path / "out"),
               str(tmp_path / "c.zip"), str(tmp_path))
    got = json.loads(out.strip().splitlines()[-1])
    assert got == {"served": ["dept.json"], "heavy": []}


def test_traced_targets_resolve_and_install():
    """Every (module, attribute) the benchmark tracer wraps resolves,
    the lazily imported Spark-side ones included, and install() wraps
    them all."""
    code = (
        "import importlib, json, sys\n"
        "sys.path.insert(0, 'perfbench')\n"
        "import spans\n"
        "found = [callable(getattr(importlib.import_module(\n"
        "    f'{spans.PKG}.{m}'), attr)) for m, attr, _n, _l in "
        "spans.TARGETS]\n"
        "spans.Tracer().install()\n"
        "wrapped = [hasattr(getattr(importlib.import_module(\n"
        "    f'{spans.PKG}.{m}'), attr), '__wrapped__') for m, attr, _n, _l "
        "in spans.TARGETS]\n"
        "print(json.dumps([len(found), all(found), all(wrapped)]))\n"
    )
    assert json.loads(_run(code).strip().splitlines()[-1]) == [12, True, True]
