"""The driver-side dump path is plain Python: a fresh interpreter that
serves a POST and a download and runs CLI `--dump`, and the service
worker that ran the POST, load no Spark, Arrow or numpy module; the
worker imports no module that the server had not loaded when it forked.
Spark-side names that the benchmark tracer wraps still resolve."""

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
        "import io, json, os, sys, urllib.request, zipfile\n"
        "from relational_to_doc_oriented_nosql_migrator_spark import cli, "
        "service\n"
        "dump, out, zip_path, results = sys.argv[1:]\n"
        "real = service.migrate_dump_on_driver\n"
        "def reporting(*args, **kwargs):\n"
        "    documents = real(*args, **kwargs)\n"
        "    with open(os.path.join(results, 'worker.json'), 'w') as fh:\n"
        "        json.dump([os.getpid(), sorted(sys.modules)], fh)\n"
        "    return documents\n"
        "service.migrate_dump_on_driver = reporting  # before the fork\n"
        "srv = service.serve(results_dir=results)\n"
        "forked_with = set(sys.modules)\n"
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
        "with open(os.path.join(results, 'worker.json')) as fh:\n"
        "    worker, worker_modules = json.load(fh)\n"
        f"heavy = {HEAVY!r}\n"
        "print(json.dumps({'served': served, 'heavy': sorted(\n"
        "    m for m in sys.modules if m.split('.')[0] in heavy),\n"
        "    'in_worker': worker != os.getpid(), 'worker_heavy': sorted(\n"
        "    m for m in worker_modules if m.split('.')[0] in heavy),\n"
        "    'worker_imported': sorted(set(worker_modules) - forked_with)}))\n"
    )
    out = _run(code, str(dump), str(tmp_path / "out"),
               str(tmp_path / "c.zip"), str(tmp_path))
    got = json.loads(out.strip().splitlines()[-1])
    # a worker imports nothing itself: the server forks it warm
    assert got == {"served": ["dept.json"], "heavy": [], "in_worker": True,
                   "worker_heavy": [], "worker_imported": []}


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
