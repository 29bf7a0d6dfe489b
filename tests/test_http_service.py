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
    SparkContext, no java child process, and the admission limit is
    SPARK_GRAFT_CPUS."""
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
        "    'slots': srv.admission._initial_value}))\n"
        "srv.shutdown()\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "SPARK_GRAFT_CPUS": "3"}
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, check=True, cwd=repo, env=env,
                         timeout=120).stdout
    got = json.loads(out.strip().splitlines()[-1])
    assert "java" not in got.pop("children")
    assert got == {"docs": 3, "sc": False, "slots": 3}
