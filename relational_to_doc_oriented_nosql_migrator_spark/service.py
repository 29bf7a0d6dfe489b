"""HTTP migration service — the reference's REST surface.

The reference engine IS an HTTP service: `POST /migration` takes a
multipart upload (fields `sqlFile`, optional `logFile`, form field
`dbType`) and responds with the relational schema plus the planned
document collections; `GET /download/result` then serves the zipped
JSON collections written during the migration (reference
server/index.js:33-61 for the POST contract, :63-66 for the download,
server/WriteToFile.js:5-62 for the results layout). This module closes
that last reference-surface gap with a dependency-free stdlib server
(`http.server` and a byte-level RFC 7578 multipart reader — no
Flask/Express analogue is installable here) around the engine seam the
CLI uses for a dump: dump_migration.migrate_dump_on_driver
(sources/sqldump.read_dump -> workload -> plans.convert_schema ->
plans/documents.py) -> sinks.zip_documents.

Scale stance: the HTTP surface is a CONTROL-PLANE endpoint. An upload
is at most MAX_UPLOAD_BYTES and is parsed into Python columns on the
driver, so its documents are built there too, with no Spark session
and no JVM; they are the same JSON texts the Spark nesting path writes
for the dump. The process loads no pyspark, py4j or pyarrow module. The
archive behind /download/result holds one JSON array per collection,
the sink's single-file parity layout, like the reference's
per-collection JSON.stringify files (server/WriteToFile.js:13-20); the
documents are rendered a chunk at a time and each chunk is deflated
straight into its zip entry at Z_BEST_SPEED, with no collection file
on disk (the server binds 127.0.0.1, so the larger archive crosses no
network). A corpus-scale
migration goes through the CLI's parquet path on Spark, not an HTTP
upload; this endpoint mirrors the reference's actual usage (a schema
dump + query log, both small).

Requests are independent. Each migration streams its archive into a
temp file of its own in the results directory, then publishes it as
`<resultId>.zip` by a rename. The POST response carries
`resultId` (and the `X-Migration-Id` header), and
`GET /download/result?id=<resultId>` serves exactly that archive; a
bare `GET /download/result` (what the reference client calls) serves
the most recently completed one. The server keeps the last KEEP_RESULTS
archives.

Each migration runs in a worker process, so concurrent requests use
more than one core: parse, build and zip are pure Python, and threads of
one process would share its GIL. serve() forks `SPARK_GRAFT_CPUS`
workers (the CPU count when unset) from the plain-Python server before
it starts serving, so every worker starts with the request path already
imported. A request waits for an idle worker; the pool's size is the
admission limit. The HTTP thread reads the body and hands it to a
worker, which parses the upload, migrates it and publishes its zip; the
server alone records the result id and writes the log. A worker that
dies fails its request with a 500 and is replaced. Each POST writes one
JSON line to stderr: its id, status, stage wall seconds (`build` and
`zip` each summed over the document chunks), the tables
the planner referenced to keep documents under 16 MiB, documents per
collection and bytes in and out, and on a failure the error class
(after the traceback).

Run:  python -m relational_to_doc_oriented_nosql_migrator_spark.service [--port 3001]
"""

from __future__ import annotations

import contextlib
import json
import multiprocessing
import os
import queue
import re
import signal
import sys
import tempfile
import threading
import time
import traceback
import urllib.parse
import uuid
from collections import OrderedDict
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from relational_to_doc_oriented_nosql_migrator_spark.dump_migration import (
    migrate_dump_on_driver,
    timed_stage,
)
from relational_to_doc_oriented_nosql_migrator_spark.functions.template import (
    document_template,
)
from relational_to_doc_oriented_nosql_migrator_spark.sinks.documents import (
    zip_documents,
)

ZIP_NAME = "collections.zip"
# Archives the server keeps; publishing a newer one deletes the oldest
# (never the latest, which is the one just published).
KEEP_RESULTS = 16
# Largest request body the server reads; a longer Content-Length gets a
# 413 before any of the body is read.
MAX_UPLOAD_BYTES = 64 << 20
# The only result-id shape the server issues (uuid4().hex).
_RESULT_ID = re.compile(r"[0-9a-f]{32}")


def result_zip(results_dir: str, result_id: str) -> str:
    """Where run_migration publishes the archive of `result_id`."""
    return os.path.join(results_dir, f"{result_id}.zip")


class _Results:
    """Published archives by result id, in completion order. An id is
    added only once its archive is in place, so the latest pointer
    never names a missing or partial file."""

    def __init__(self, results_dir: str):
        self.results_dir = results_dir
        self._lock = threading.Lock()
        self._paths: OrderedDict[str, str] = OrderedDict()

    def publish(self, result_id: str) -> None:
        path = result_zip(self.results_dir, result_id)
        with self._lock:
            self._paths[result_id] = path
            expired = []
            while len(self._paths) > KEEP_RESULTS:
                expired.append(self._paths.popitem(last=False)[1])
        for old in expired:
            with contextlib.suppress(FileNotFoundError):
                os.remove(old)

    def path(self, result_id: str | None = None) -> str | None:
        """The archive of `result_id`, or of the latest result."""
        with self._lock:
            if result_id is None:
                return next(reversed(self._paths.values()), None)
            return self._paths.get(result_id)


def _catalog_tables_payload(catalog) -> list[dict]:
    """The `tables` half of the reference's POST response: the
    introspected relational schema as the client consumes it
    (reference server/index.js:50-53; shapes mirror
    server/models/RelationalDatabase.js fields)."""
    out = []
    for t in catalog.tables.values():
        out.append(
            {
                "name": t.name,
                "columns": list(t.columns),
                "primaryKeys": list(t.primary_keys),
                "foreignKeys": [
                    {
                        "column": fk.column,
                        "referencedTable": fk.referenced_table,
                        "referencedColumn": fk.referenced_column,
                    }
                    for fk in t.foreign_keys
                ],
                "referencedBy": list(t.referencing_tables),
            }
        )
    return out


def _collections_payload(plan) -> list[dict]:
    """The `collections` half: one document TEMPLATE per root
    collection, rendered exactly as the reference client does
    (client/src/components/NoSqlCollection.js:14-29 via
    functions.template.document_template — the same function the
    oracle-checked `sink_http_response` registry id uses)."""
    return [
        {"name": c.name, "document": document_template(c)}
        for c in plan.collections
    ]


def run_migration(
    workers: _Workers,
    content_type: str,
    body: bytes,
    results_dir: str,
    record: dict,
) -> dict:
    """POST /migration body, run on one of `workers` (_run_in_worker):
    parse the upload and the dump, fold in the workload, plan, build the
    documents, write the zipped JSON collections for the download
    endpoint, and return the reference-shaped response payload plus the
    `resultId` the archive is published under. Waits for an idle worker
    first. A failure in the worker is raised here again, with the
    worker's traceback as its cause.

    `record` supplies the id (`id`) and receives the stage wall seconds
    (`stages`), the log's kept statements (`statements`) and DML refs
    naming no catalog table (`unmatched_refs`), the tables the planner
    referenced to keep documents under 16 MiB (`size_referenced`),
    documents per collection (`documents`)
    and the archive size (`bytes_out`), on a failure as far as the
    migration got."""
    payload, done, exc, worker_tb = workers.run(
        content_type, body, results_dir, record)
    record.update(done)
    if exc is not None:
        raise exc from _WorkerTraceback(worker_tb)
    return payload


class _WorkerTraceback(Exception):
    """Where in its worker a failed migration raised."""

    def __str__(self) -> str:
        return self.args[0]


def _run_in_worker(content_type: str, body: bytes, results_dir: str,
                   record: dict) -> dict:
    """run_migration's work, in a worker process.

    The documents are built a chunk at a time and each chunk is deflated
    straight into its collection's zip entry, in a temp file beside the
    published archives; no collection file is written. The temp file is
    published by a rename to result_zip(results_dir, resultId), so that
    path only ever holds a complete archive, and is removed if the
    migration fails."""
    fields = _parse_multipart(content_type, body)
    sql_text = fields.get("sqlFile")
    if sql_text is None:
        raise ValueError("sqlFile part is required")
    log_content = fields.get("logFile") or None
    db_type = fields.get("dbType") or "mysql"
    dialect = ("postgres" if db_type.lower().startswith("postgres")
               else "mysql")
    result_id = record["id"]
    stages = record.setdefault("stages", {})
    published = result_zip(results_dir, result_id)
    zip_tmp = published + ".part"
    try:
        chunks, catalog, plan = migrate_dump_on_driver(
            sql_text, log_content=log_content, log_dialect=dialect,
            record=record,
        )
        # One whole-array JSON entry per non-empty collection, like the
        # reference's WriteToFile + archiver flow
        # (server/WriteToFile.js:5-62, filter_nonempty_collection).
        # The chunks are built inside the loop: `build` is their share,
        # `zip` the rest.
        with timed_stage(stages, "zip"):
            record["documents"] = zip_documents(chunks, zip_tmp)
        stages["zip"] = round(stages["zip"] - stages["build"], 6)
        record["bytes_out"] = os.path.getsize(zip_tmp)
        os.replace(zip_tmp, published)
    except BaseException:
        with contextlib.suppress(FileNotFoundError):
            os.remove(zip_tmp)
        raise
    return {
        "resultId": result_id,
        "tables": _catalog_tables_payload(catalog),
        "collections": _collections_payload(plan),
    }


# One `; name=value` parameter of a header (RFC 7578 §4.2): a quoted
# value may hold `;` and `\"`.
_PARAM = re.compile(r';\s*([^\s=;]+)\s*=\s*(?:"((?:[^"\\]|\\.)*)"|([^;]*))')
# What may follow `--boundary` on a delimiter line: `--` on the close
# delimiter, then transport padding and the line end (RFC 2046 §5.1.1).
_DELIMITER_END = re.compile(rb"(--)?[ \t]*(?:\r\n|\Z)")


def _params(value: str) -> dict[str, str]:
    """A header value's parameters, names lowercased, quoted values
    unquoted as email.utils.unquote does."""
    params, pos = {}, value.find(";")
    while pos >= 0 and (m := _PARAM.match(value, pos)):
        if m[2] is None:
            params[m[1].lower()] = m[3].strip()
        else:
            params[m[1].lower()] = m[2].replace("\\\\", "\\").replace(
                '\\"', '"')
        pos = m.end()
    return params


def _body_parts(body: bytes, boundary: bytes):
    """The bytes of each part of a multipart body: between delimiter
    lines `--boundary`, each at the start of the body or after a CRLF
    (which belongs to the delimiter), up to the close delimiter
    `--boundary--`. The preamble and the epilogue are dropped."""
    sep = b"\r\n--" + boundary
    start = None  # where the current part begins
    # a delimiter at the start of the body is found as if a CRLF were
    # before it
    at = -2 if body.startswith(sep[2:]) else body.find(sep)
    while at != -1:
        end = _DELIMITER_END.match(body, at + len(sep))
        if end:
            if start is not None:
                yield body[start:at]
            if end[1]:
                return
            start = end.end()
        at = body.find(sep, at + len(sep))
    if start is not None:
        yield body[start:]


def _parse_multipart(content_type: str, body: bytes) -> dict[str, str]:
    """Multipart form fields -> {name: UTF-8 text}, file parts and plain
    fields alike (undecodable bytes are replaced; a later part of the same
    name wins). Split at the byte level per RFC 7578: a part is its
    header lines, a blank line and its content; a part without a
    Content-Disposition `name` is skipped. A Content-Transfer-Encoding,
    which RFC 7578 §4.7 deprecates, is not decoded."""
    mime = content_type.partition(";")[0].strip().lower()
    boundary = _params(content_type).get("boundary")
    if not mime.startswith("multipart/") or not boundary:
        raise ValueError("expected multipart/form-data")
    fields: dict[str, str] = {}
    for part in _body_parts(body, boundary.encode("utf-8")):
        if part.startswith(b"\r\n"):
            head, content = b"", part[2:]
        else:
            head, _sep, content = part.partition(b"\r\n\r\n")
        disposition = None
        for line in head.decode("utf-8", "replace").split("\r\n"):
            name, _colon, value = line.partition(":")
            if name.strip().lower() == "content-disposition":
                disposition = value
        name = disposition and _params(disposition).get("name")
        if name is not None:
            fields[name] = content.decode("utf-8", "replace")
    return fields


def _worker_loop(conn, parent_ends) -> None:
    """A worker process: run each job that arrives on `conn` with
    _run_in_worker and send back (payload, record, exception, traceback).
    Returns when the server closes the pipe."""
    # the server stops its workers itself, after their last job
    signal.signal(signal.SIGINT, signal.SIG_IGN)
    # Only the server may hold a worker's pipe open: a copy kept by a
    # sibling would hide the server's close (or death) from the worker.
    for end in parent_ends:
        end.close()
    while True:
        try:
            job = conn.recv()
        except EOFError:
            return
        record = job[-1]
        try:
            reply = (_run_in_worker(*job), record, None, None)
        except Exception as exc:
            reply = (None, record, exc, traceback.format_exc())
        conn.send(reply)


class _Workers:
    """A fixed pool of forked worker processes, each running one job at
    a time. A job waits for an idle worker. A worker that dies during a
    job fails that job and is replaced by a new fork."""

    def __init__(self, size: int):
        self.size = size
        self._fork_ctx = multiprocessing.get_context("fork")
        self._lock = threading.Lock()
        self._closed = False
        self._live: list[tuple] = []  # (process, server's pipe end)
        # the most recently used worker first: its memory is warm
        self._idle: queue.LifoQueue = queue.LifoQueue()
        for _ in range(size):
            self._idle.put(self._fork())

    def _fork(self) -> tuple:
        conn, child_end = self._fork_ctx.Pipe()
        ends = [c for _p, c in self._live] + [conn]
        proc = self._fork_ctx.Process(target=_worker_loop,
                                      args=(child_end, ends), daemon=True)
        proc.start()
        child_end.close()
        self._live.append((proc, conn))
        return proc, conn

    def run(self, *job):
        """The reply of an idle worker to `job`; RuntimeError if the
        worker dies before it replies."""
        worker = self._idle.get()
        try:
            if worker is None:
                raise RuntimeError("the migration workers are stopped")
            proc, conn = worker
            try:
                conn.send(job)
                return conn.recv()
            except (EOFError, OSError):
                conn.close()
                proc.join()
                with self._lock:
                    self._live.remove(worker)
                    worker = None if self._closed else self._fork()
                raise RuntimeError(f"migration worker {proc.pid} exited "
                                   f"with code {proc.exitcode}") from None
        finally:
            self._idle.put(worker)

    def close(self) -> None:
        """Let every worker finish its job, then stop and join it."""
        with self._lock:
            if self._closed:
                return
            self._closed = True
        for _ in range(self.size):
            worker = self._idle.get()
            if worker is not None:
                worker[1].close()  # the worker reads EOF and returns
        # a request that still asks for a worker gets None: stopped
        self._idle.put(None)
        for proc, _conn in self._live:
            proc.join()


class _Server(ThreadingHTTPServer):
    def shutdown(self) -> None:
        """Stop serving, then stop the workers once their jobs are
        done."""
        super().shutdown()
        self.workers.close()


class MigrationHandler(BaseHTTPRequestHandler):
    """One engine-backed handler per server; the results directory, the
    published results and the worker pool hang off the server object
    (set by serve())."""

    # quiet request logging (the reference logs nothing per request)
    def log_message(self, *_args):
        pass

    def _send(self, code: int, body: bytes, ctype: str,
              extra: dict | None = None) -> None:
        self.send_response(code)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        # the reference serves cors origin * (server/index.js:13-19)
        self.send_header("Access-Control-Allow-Origin", "*")
        for k, v in (extra or {}).items():
            self.send_header(k, v)
        self.end_headers()
        self.wfile.write(body)

    def do_POST(self):
        if self.path != "/migration":
            self._send(404, b"Not Found", "text/plain")
            return
        start = time.perf_counter()
        record = {"id": uuid.uuid4().hex}
        try:
            record["bytes_in"] = length = int(
                self.headers.get("Content-Length", "0"))
            if length > MAX_UPLOAD_BYTES:
                # the unread body must not be taken for a next request
                self.close_connection = True
                response = (413, b"Payload Too Large", "text/plain")
            else:
                response = (200, json.dumps(self._migrate(
                    length, record)).encode(), "application/json")
        except Exception as exc:
            # The client gets the reference's blanket 500
            # (server/index.js:55-58); the cause goes to the log.
            record["error"] = type(exc).__name__
            sys.stderr.write("POST /migration failed\n"
                             + traceback.format_exc())
            response = (500, b"Internal Server Error", "text/plain")
        record["status"] = response[0]
        record["wall_s"] = round(time.perf_counter() - start, 6)
        # logged before the response goes out, so a client that has its
        # answer can find the record
        sys.stderr.write(json.dumps(record) + "\n")
        self._send(*response, {"X-Migration-Id": record["id"]})

    def _migrate(self, length: int, record: dict) -> dict:
        if length < 0:
            raise ValueError(f"invalid Content-Length {length}")
        payload = run_migration(
            self.server.workers, self.headers.get("Content-Type", ""),
            self.rfile.read(length), self.server.results_dir, record,
        )
        self.server.results.publish(payload["resultId"])
        return payload

    def do_GET(self):
        url = urllib.parse.urlsplit(self.path)
        if url.path != "/download/result":
            self._send(404, b"Not Found", "text/plain")
            return
        ids = urllib.parse.parse_qs(url.query, keep_blank_values=True).get(
            "id")
        if ids is None:
            zip_path = self.server.results.path()
        elif len(ids) == 1 and _RESULT_ID.fullmatch(ids[0]):
            zip_path = self.server.results.path(ids[0])
        else:
            zip_path = None
        data = None
        if zip_path is not None:
            # an archive can expire between the lookup and the open
            with contextlib.suppress(FileNotFoundError):
                with open(zip_path, "rb") as fh:
                    data = fh.read()
        if data is None:
            self._send(404, b"Not Found", "text/plain")
            return
        self._send(
            200, data, "application/zip",
            {"Content-Disposition": f'attachment; filename="{ZIP_NAME}"'},
        )


def serve(port: int = 0, results_dir: str | None = None):
    """Start the service on `port` (0 = ephemeral); returns the
    ThreadingHTTPServer (serve_forever runs on a daemon thread — call
    .shutdown() to stop it and its workers). results_dir defaults to a
    fresh tempdir. The workers are forked first, so they hold no copy of
    the listening socket."""
    workers = _Workers(
        int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()))
    try:
        server = _Server(("127.0.0.1", port), MigrationHandler)
    except BaseException:
        workers.close()
        raise
    server.workers = workers
    server.results_dir = results_dir or tempfile.mkdtemp(
        prefix="sg_http_results_"
    )
    server.results = _Results(server.results_dir)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return server


def __getattr__(name: str):
    """migrate_from_dump and write_json_collections, the Spark path, which
    the service never calls: perfbench/spans.py wraps them by these module
    names, so they resolve here, imported on first lookup."""
    if name == "migrate_from_dump":
        from relational_to_doc_oriented_nosql_migrator_spark.engine import (
            migrate_from_dump,
        )

        return migrate_from_dump
    if name == "write_json_collections":
        from relational_to_doc_oriented_nosql_migrator_spark.sinks import (
            write_json_collections,
        )

        return write_json_collections
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")


def main(argv=None) -> int:
    import argparse

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--port", type=int, default=3001)
    ap.add_argument("--results-dir", default=None)
    args = ap.parse_args(argv)
    server = serve(args.port, args.results_dir)
    print(f"serving on 127.0.0.1:{server.server_address[1]} "
          f"(results: {server.results_dir})")
    try:
        threading.Event().wait()
    except KeyboardInterrupt:
        server.shutdown()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
