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
def server(spark, tmp_path_factory):
    srv = service.serve(
        spark, results_dir=str(tmp_path_factory.mktemp("results"))
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


def test_download_before_any_migration_404(spark, tmp_path):
    srv = service.serve(spark, results_dir=str(tmp_path / "empty"))
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
