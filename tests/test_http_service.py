"""The HTTP migration service (reference server/index.js:33-66):
POST /migration multipart upload -> schema + collection templates;
GET /download/result -> the zipped JSON collections. Driven over real
sockets with urllib against a live ThreadingHTTPServer."""

import io
import json
import os
import subprocess
import sys
import urllib.request
import uuid
import zipfile

import pytest

from relational_to_doc_oriented_nosql_migrator_spark import service
from relational_to_doc_oriented_nosql_migrator_spark.operators.relational import (
    DUMP_FIXTURE,
)


def _multipart(fields: dict) -> tuple[bytes, str]:
    boundary = f"----sgtest{uuid.uuid4().hex}"
    buf = io.BytesIO()
    for name, (filename, value) in fields.items():
        buf.write(f"--{boundary}\r\n".encode())
        disp = f'form-data; name="{name}"'
        if filename:
            disp += f'; filename="{filename}"'
        buf.write(f"Content-Disposition: {disp}\r\n\r\n".encode())
        buf.write(value if isinstance(value, bytes) else value.encode())
        buf.write(b"\r\n")
    buf.write(f"--{boundary}--\r\n".encode())
    return buf.getvalue(), f"multipart/form-data; boundary={boundary}"


@pytest.fixture(scope="module")
def server(tmp_path_factory):
    srv = service.serve(
        results_dir=str(tmp_path_factory.mktemp("results"))
    )
    yield srv
    srv.shutdown()


def _post(srv, fields):
    body, ctype = _multipart(fields)
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.server_address[1]}/migration",
        data=body,
        headers={"Content-Type": ctype},
        method="POST",
    )
    return urllib.request.urlopen(req)


def test_post_migration_returns_schema_and_templates(server):
    log = "2024-01-02T10:00:00.000000Z\t8 Query\tSELECT * FROM dept"
    with _post(server, {
        "dbType": (None, "mysql"),
        "sqlFile": ("mini.sql", DUMP_FIXTURE),
        "logFile": ("q.log", log),
    }) as resp:
        assert resp.status == 200
        assert resp.headers["Content-Type"] == "application/json"
        payload = json.load(resp)
    tables = {t["name"]: t for t in payload["tables"]}
    assert set(tables) == {"dept", "employee"}
    fk = tables["employee"]["foreignKeys"][0]
    assert (fk["referencedTable"], fk["referencedColumn"]) == ("dept", "id")
    assert tables["dept"]["referencedBy"] == ["employee"]
    colls = {c["name"]: c["document"] for c in payload["collections"]}
    # employee embeds into dept (the fixture's plan), rendered as the
    # client's one-element-array template shape
    assert set(colls) == {"dept"}
    assert isinstance(colls["dept"]["employee"], list)
    assert "emp_name" in colls["dept"]["employee"][0]


def test_download_result_is_the_written_zip(server):
    with _post(server, {
        "dbType": (None, "mysql"),
        "sqlFile": ("mini.sql", DUMP_FIXTURE),
    }) as resp:
        assert resp.status == 200
    url = (f"http://127.0.0.1:{server.server_address[1]}"
           "/download/result")
    with urllib.request.urlopen(url) as resp:
        assert resp.status == 200
        assert resp.headers["Content-Type"] == "application/zip"
        data = resp.read()
    zf = zipfile.ZipFile(io.BytesIO(data))
    names = set(zf.namelist())
    assert "dept.json" in names
    docs = json.loads(zf.read("dept.json"))
    assert len(docs) == 3
    assert any(d.get("employee") for d in docs)


def test_post_bad_dump_is_500_like_the_reference(server):
    # an unparseable payload must yield the reference's blanket 500
    # (server/index.js:55-58), not a hung connection or a traceback body
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post(server, {"dbType": (None, "mysql")})  # sqlFile missing
    assert ei.value.code == 500
    assert ei.value.read() == b"Internal Server Error"


def test_unknown_paths_404(server):
    for method, path in (("GET", "/nope"), ("POST", "/nope")):
        req = urllib.request.Request(
            f"http://127.0.0.1:{server.server_address[1]}{path}",
            data=b"" if method == "POST" else None,
            method=method,
        )
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(req)
        assert ei.value.code == 404


def test_download_before_any_migration_404(tmp_path):
    srv = service.serve(results_dir=str(tmp_path / "empty"))
    try:
        url = (f"http://127.0.0.1:{srv.server_address[1]}"
               "/download/result")
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(url)
        assert ei.value.code == 404
    finally:
        srv.shutdown()


def test_service_import_skips_the_operator_registry():
    code = (
        "import sys\n"
        "import relational_to_doc_oriented_nosql_migrator_spark.service\n"
        "print([m for m in sys.modules if m.startswith("
        "'relational_to_doc_oriented_nosql_migrator_spark.operators')])"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, check=True, cwd=repo).stdout
    assert out.strip() == "[]"


def _download(srv, query=""):
    url = (f"http://127.0.0.1:{srv.server_address[1]}"
           f"/download/result{query}")
    with urllib.request.urlopen(url, timeout=60) as resp:
        assert resp.headers["Content-Type"] == "application/zip"
        return resp.read()


def _dept_docs(data: bytes) -> list:
    return json.loads(zipfile.ZipFile(io.BytesIO(data)).read("dept.json"))


def test_post_with_zero_dates_migrates(server):
    """MySQL's zero dates load as NULL, so a dump that holds them
    migrates instead of answering 500."""
    dump = DUMP_FIXTURE + (
        "INSERT INTO dept VALUES (4, 'qa', 7.5, '0000-00-00');\n")
    with _post(server, {"sqlFile": ("zero.sql", dump)}) as resp:
        assert resp.status == 200
        result_id = json.load(resp)["resultId"]
    docs = {d["id"]: d for d in _dept_docs(_download(server,
                                                     f"?id={result_id}"))}
    assert docs[4] == {"id": 4, "name": "qa", "budget": 7.5}


def test_cli_reads_a_dump_as_the_service_does(server, tmp_path):
    """One dump's bytes, with CRLF line ends and literals holding a raw
    \r, a CRLF and U+2028, give the same documents through `cli --dump`
    as through a POST."""
    from relational_to_doc_oriented_nosql_migrator_spark import cli

    dump = ("CREATE TABLE t (id INT PRIMARY KEY, s VARCHAR(20));\r\n"
            "INSERT INTO t VALUES (1,'a\rb\u2028c'),\r\n"
            "(2,'d\r\ne');\r\n").encode()
    path, out = tmp_path / "crlf.sql", tmp_path / "out"
    path.write_bytes(dump)
    assert cli.main(["--dump", str(path), "--out", str(out),
                     "--single-file"]) == 0
    with _post(server, {"sqlFile": ("crlf.sql", dump)}) as resp:
        result_id = json.load(resp)["resultId"]
    archive = zipfile.ZipFile(io.BytesIO(_download(server,
                                                   f"?id={result_id}")))
    assert sorted(archive.namelist()) == sorted(os.listdir(out))
    for name in archive.namelist():
        assert archive.read(name) == (out / name).read_bytes(), name
    assert json.loads(archive.read("t.json")) == [
        {"id": 1, "s": "a\rb\u2028c"}, {"id": 2, "s": "d\r\ne"}]


def test_concurrent_posts_get_their_own_results(server):
    """Two migrations in flight at once: each response's resultId serves
    exactly that request's archive, and a bare GET afterwards serves one
    complete archive."""
    import threading

    extra = DUMP_FIXTURE + "INSERT INTO dept VALUES (4, 'qa', 7.5, NULL);\n"
    dumps = {"base": DUMP_FIXTURE, "extra": extra}
    ids, errors = {}, []

    def post(key):
        try:
            with _post(server, {"dbType": (None, "mysql"),
                                "sqlFile": ("d.sql", dumps[key])}) as resp:
                ids[key] = json.load(resp)["resultId"]
        except Exception as exc:  # reported by the assert below
            errors.append(exc)

    threads = [threading.Thread(target=post, args=(k,)) for k in dumps]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=240)
    assert not any(t.is_alive() for t in threads) and not errors
    assert ids["base"] != ids["extra"]
    base = _dept_docs(_download(server, f"?id={ids['base']}"))
    more = _dept_docs(_download(server, f"?id={ids['extra']}"))
    assert sorted(d["id"] for d in base) == [1, 2, 3]
    assert sorted(d["id"] for d in more) == [1, 2, 3, 4]
    latest = _dept_docs(_download(server))
    assert latest in (base, more)


def test_download_by_unknown_or_malformed_id_404(server):
    with _post(server, {"sqlFile": ("d.sql", DUMP_FIXTURE)}) as resp:
        assert resp.status == 200
    for query in (f"?id={uuid.uuid4().hex}", "?id=../x", "?id=",
                  "?id=..%2Fcollections"):
        with pytest.raises(urllib.error.HTTPError) as ei:
            _download(server, query)
        ei.value.close()
        assert ei.value.code == 404, query


@pytest.mark.parametrize("length, status", [
    (service.MAX_UPLOAD_BYTES + 1, 413),
    (-1, 500),  # read(-1) would read until the client closes
])
def test_bad_upload_length_is_refused_without_reading_the_body(
        server, length, status):
    import http.client

    conn = http.client.HTTPConnection("127.0.0.1", server.server_address[1],
                                      timeout=30)
    try:
        conn.putrequest("POST", "/migration")
        conn.putheader("Content-Type", "multipart/form-data; boundary=x")
        conn.putheader("Content-Length", str(length))
        conn.endheaders()  # no body: a server reading it would block
        resp = conn.getresponse()
        assert resp.status == status
        resp.read()
    finally:
        conn.close()


def test_failed_post_logs_the_traceback(server, capfd):
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post(server, {"dbType": (None, "mysql")})  # sqlFile missing
    assert ei.value.code == 500
    assert ei.value.read() == b"Internal Server Error"
    ei.value.close()
    err = capfd.readouterr().err
    assert "Traceback (most recent call last)" in err
    assert "ValueError: sqlFile part is required" in err


def test_results_retention_under_concurrent_publishers(tmp_path):
    """Many threads publishing at once: exactly KEEP_RESULTS archives
    stay on disk, each still served by its id, every expired id is
    gone, and the latest pointer is set from the first publish on and
    ends on an archive that exists."""
    import threading

    results = service._Results(str(tmp_path))
    published, unset = [], []
    lock = threading.Lock()

    def publisher():
        for _ in range(40):
            rid = uuid.uuid4().hex
            with open(service.result_zip(str(tmp_path), rid), "wb") as fh:
                fh.write(b"zip")
            results.publish(rid)
            with lock:
                published.append(rid)
            if results.path() is None:
                unset.append(rid)

    saved = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=publisher) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(saved)
    assert not any(t.is_alive() for t in threads)
    assert len(published) == 320 and not unset
    assert os.path.exists(results.path())
    kept = {rid for rid in published if results.path(rid) is not None}
    assert len(kept) == service.KEEP_RESULTS
    on_disk = {name[:-4] for name in os.listdir(tmp_path)}
    assert on_disk == kept


def test_each_post_logs_one_record_with_its_id(server, capfd):
    """One JSON line per POST on stderr: id (= resultId = the
    X-Migration-Id header), status, stage seconds, documents per
    collection and bytes in and out; a failure adds its error class."""
    capfd.readouterr()
    with _post(server, {"sqlFile": ("d.sql", DUMP_FIXTURE)}) as resp:
        result_id = json.load(resp)["resultId"]
        assert resp.headers["X-Migration-Id"] == result_id
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post(server, {"dbType": (None, "mysql")})  # sqlFile missing
    failed_id = ei.value.headers["X-Migration-Id"]
    ei.value.close()
    records = [json.loads(line) for line in capfd.readouterr().err
               .splitlines() if line.startswith("{")]
    ok, failed = records
    assert ok["id"] == result_id and ok["status"] == 200
    assert set(ok["stages"]) == {"parse", "workload", "plan", "build", "zip"}
    assert ok["documents"] == {"dept": 3}
    assert ok["bytes_in"] > len(DUMP_FIXTURE) and ok["bytes_out"] > 0
    assert failed["id"] == failed_id != result_id
    assert failed["status"] == 500 and failed["error"] == "ValueError"


def test_service_starts_no_jvm(tmp_path):
    """serve() plus one POST and one download in a fresh process: no
    SparkContext and no java child process; the children are the
    SPARK_GRAFT_CPUS migration workers."""
    code = (
        "import io, json, os, urllib.request, zipfile\n"
        "from pyspark import SparkContext\n"
        "from relational_to_doc_oriented_nosql_migrator_spark import service\n"
        "from relational_to_doc_oriented_nosql_migrator_spark.operators."
        "relational import DUMP_FIXTURE\n"
        "from tests.test_http_service import _post\n"
        f"srv = service.serve(results_dir={str(tmp_path)!r})\n"
        "with _post(srv, {'sqlFile': ('d.sql', DUMP_FIXTURE)}) as r:\n"
        "    rid = json.load(r)['resultId']\n"
        "url = f'http://127.0.0.1:{srv.server_address[1]}"
        "/download/result?id={rid}'\n"
        "with urllib.request.urlopen(url) as r:\n"
        "    docs = json.loads(zipfile.ZipFile(io.BytesIO(r.read()))"
        ".read('dept.json'))\n"
        "children = []\n"
        "for pid in os.listdir('/proc'):\n"
        "    try:\n"
        "        with open(f'/proc/{pid}/stat') as fh:\n"
        "            stat = fh.read()\n"
        "    except OSError:\n"
        "        continue\n"
        "    if int(stat.rsplit(')', 1)[1].split()[1]) == os.getpid():\n"
        "        children.append(stat.split('(', 1)[1].rsplit(')', 1)[0])\n"
        "print(json.dumps({'docs': len(docs), 'children': children,\n"
        "    'sc': SparkContext._active_spark_context is not None,\n"
        "    'workers': srv.workers.size}))\n"
        "srv.shutdown()\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "SPARK_GRAFT_CPUS": "3"}
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, check=True, cwd=repo, env=env,
                         timeout=120).stdout
    got = json.loads(out.strip().splitlines()[-1])
    children = got.pop("children")
    assert len(children) == 3 and "java" not in children
    assert got == {"docs": 3, "sc": False, "workers": 3}


def _children(pid: int) -> set[int]:
    """The pids whose parent is `pid`."""
    out = set()
    for entry in os.listdir("/proc"):
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        if ppid == pid:
            out.add(int(entry))
    return out


def test_a_worker_crash_fails_only_its_request(tmp_path, monkeypatch,
                                               capfd):
    """A worker that dies mid-migration gives its POST a logged 500 with
    its id, the next POST runs on a fresh worker, and shutdown() leaves
    no worker behind."""
    real = service.migrate_dump_on_driver

    def crash_on_marker(sql_text, **kwargs):
        if "-- crash" in sql_text:
            os._exit(3)
        return real(sql_text, **kwargs)

    # patched before serve() forks, so the workers run it
    monkeypatch.setattr(service, "migrate_dump_on_driver", crash_on_marker)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "1")
    before = _children(os.getpid())
    srv = service.serve(results_dir=str(tmp_path))
    try:
        assert len(_children(os.getpid()) - before) == 1
        capfd.readouterr()
        with pytest.raises(urllib.error.HTTPError) as ei:
            _post(srv, {"sqlFile": ("d.sql", DUMP_FIXTURE + "-- crash\n")})
        assert ei.value.code == 500
        crashed_id = ei.value.headers["X-Migration-Id"]
        ei.value.close()
        with _post(srv, {"sqlFile": ("d.sql", DUMP_FIXTURE)}) as resp:
            result_id = json.load(resp)["resultId"]
        assert len(_dept_docs(_download(srv, f"?id={result_id}"))) == 3
    finally:
        srv.shutdown()
    assert _children(os.getpid()) == before
    err = capfd.readouterr().err
    assert "exited with code 3" in err
    records = [json.loads(line) for line in err.splitlines()
               if line.startswith("{")]
    assert [(r["id"], r["status"]) for r in records] == [
        (crashed_id, 500), (result_id, 200)]
    assert records[0]["error"] == "RuntimeError"


def test_sigint_stops_the_service_and_joins_its_workers(tmp_path):
    """SIGINT to `service.main` stops the server, and the process joins
    every worker before it exits."""
    import re
    import signal
    import types

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.Popen(
        [sys.executable, "-m",
         "relational_to_doc_oriented_nosql_migrator_spark.service",
         "--port", "0", "--results-dir", str(tmp_path)],
        cwd=repo, stdout=subprocess.PIPE, text=True,
        env={**os.environ, "SPARK_GRAFT_CPUS": "2",
             "PYTHONUNBUFFERED": "1"},
    )
    try:
        port = re.search(r"127\.0\.0\.1:(\d+)", proc.stdout.readline())[1]
        workers = _children(proc.pid)
        assert len(workers) == 2
        srv = types.SimpleNamespace(server_address=("127.0.0.1", int(port)))
        with _post(srv, {"sqlFile": ("d.sql", DUMP_FIXTURE)}) as resp:
            assert resp.status == 200
        proc.send_signal(signal.SIGINT)
        assert proc.wait(timeout=60) == 0
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        proc.stdout.close()
    assert not [pid for pid in workers if os.path.exists(f"/proc/{pid}")]
