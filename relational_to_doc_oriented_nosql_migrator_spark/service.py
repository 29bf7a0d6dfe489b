"""HTTP migration service — the reference's REST surface, Spark-backed.

The reference engine IS an HTTP service: `POST /migration` takes a
multipart upload (fields `sqlFile`, optional `logFile`, form field
`dbType`) and responds with the relational schema plus the planned
document collections; `GET /download/result` then serves the zipped
JSON collections written during the migration (reference
server/index.js:33-61 for the POST contract, :63-66 for the download,
server/WriteToFile.js:5-62 for the results layout). This module closes
that last reference-surface gap with a dependency-free stdlib server
(`http.server` + `email` multipart parsing — no Flask/Express
analogue is installable here) around the same engine seams the CLI
uses: sources/sqldump.import_sql_dump -> workload ->
plans.convert_schema -> plans.materialize -> sinks.

Scale stance: the HTTP surface is a CONTROL-PLANE endpoint — dump
parsing, planning, and the response payload are metadata-sized, and
the collection write behind /download/result uses the sink's
single-file parity mode exactly like the reference's per-collection
JSON.stringify files (server/WriteToFile.js:13-20). A corpus-scale
migration goes through engine.migrate / the distributed sink, not an
HTTP upload; this endpoint mirrors the reference's actual usage (a
schema dump + query log, both small).

Run:  python -m relational_to_doc_oriented_nosql_migrator_spark.service [--port 3001]
"""

from __future__ import annotations

import email
import email.policy
import json
import os
import shutil
import tempfile
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from relational_to_doc_oriented_nosql_migrator_spark.engine import (
    migrate_from_dump,
)
from relational_to_doc_oriented_nosql_migrator_spark.functions.template import (
    document_template,
)
from relational_to_doc_oriented_nosql_migrator_spark.sinks import (
    write_json_collections,
)

ZIP_NAME = "collections.zip"

# Migrations are serialized (the reference server is effectively
# single-flight too — one Express worker, one shared results dir):
# two concurrent POSTs would interleave per-collection .json files
# and zip writes in the shared results_dir.
_MIGRATION_LOCK = threading.Lock()


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
    spark,
    sql_text: str,
    log_content: str | None,
    dialect: str,
    results_dir: str,
) -> dict:
    """POST /migration body: parse the dump, fold in the workload, plan,
    materialize, write the zipped JSON collections for the download
    endpoint, and return the reference-shaped response payload.

    Serialized under _MIGRATION_LOCK, and the results dir is RESET per
    migration: the zip is built by walking results_dir, so a previous
    migration's per-collection .json files would otherwise ride along
    into an unrelated download. The zip itself publishes atomically
    (temp + rename), so a concurrent GET either serves the previous
    complete archive, a 404 during the reset gap, or the new complete
    archive — never a truncated one."""
    with _MIGRATION_LOCK:
        collections, catalog, plan = migrate_from_dump(
            spark, sql_text, log_content=log_content, log_dialect=dialect,
            return_plan=True,
        )
        os.makedirs(results_dir, exist_ok=True)
        for entry in os.listdir(results_dir):
            p = os.path.join(results_dir, entry)
            shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
        # Per-collection whole-array JSON files + zip, like the
        # reference's WriteToFile + archiver flow
        # (server/WriteToFile.js:5-62). The empty-collection drop rides
        # along (filter_nonempty_collection).
        zip_final = os.path.join(results_dir, ZIP_NAME)
        zip_tmp = zip_final + ".tmp"
        write_json_collections(
            collections,
            results_dir,
            single_file=True,
            zip_path=zip_tmp,
        )
        os.replace(zip_tmp, zip_final)
        return {
            "tables": _catalog_tables_payload(catalog),
            "collections": _collections_payload(plan),
        }


def _parse_multipart(content_type: str, body: bytes) -> dict:
    """Multipart form fields -> {name: bytes-or-str}. Stdlib email
    parsing (the body IS a MIME document once a header is prefixed);
    file parts return bytes, plain fields return str."""
    msg = email.message_from_bytes(
        b"Content-Type: " + content_type.encode() + b"\r\n\r\n" + body,
        policy=email.policy.HTTP,
    )
    if not msg.is_multipart():
        raise ValueError("expected multipart/form-data")
    fields: dict = {}
    for part in msg.iter_parts():
        name = part.get_param("name", header="content-disposition")
        if name is None:
            continue
        payload = part.get_payload(decode=True)
        if part.get_filename() is None and payload is not None:
            fields[name] = payload.decode("utf-8", "replace")
        else:
            fields[name] = payload or b""
    return fields


class MigrationHandler(BaseHTTPRequestHandler):
    """One engine-backed handler per server; the SparkSession and the
    results directory hang off the server object (set by serve())."""

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
        try:
            length = int(self.headers.get("Content-Length", "0"))
            fields = _parse_multipart(
                self.headers.get("Content-Type", ""),
                self.rfile.read(length),
            )
            sql_raw = fields.get("sqlFile")
            if sql_raw is None:
                raise ValueError("sqlFile part is required")
            sql_text = (
                sql_raw.decode("utf-8", "replace")
                if isinstance(sql_raw, bytes) else sql_raw
            )
            log_raw = fields.get("logFile")
            log_content = (
                log_raw.decode("utf-8", "replace")
                if isinstance(log_raw, bytes) else log_raw
            ) or None
            db_type = fields.get("dbType") or "mysql"
            if isinstance(db_type, bytes):
                db_type = db_type.decode()
            dialect = ("postgres" if db_type.lower().startswith("postgres")
                       else "mysql")
            payload = run_migration(
                self.server.spark, sql_text, log_content, dialect,
                self.server.results_dir,
            )
            self._send(
                200,
                json.dumps(payload).encode(),
                "application/json",
            )
        except Exception:
            # the reference's blanket 500 (server/index.js:55-58)
            self._send(500, b"Internal Server Error", "text/plain")

    def do_GET(self):
        if self.path != "/download/result":
            self._send(404, b"Not Found", "text/plain")
            return
        zip_path = os.path.join(self.server.results_dir, ZIP_NAME)
        if not os.path.exists(zip_path):
            self._send(404, b"Not Found", "text/plain")
            return
        with open(zip_path, "rb") as fh:
            data = fh.read()
        self._send(
            200, data, "application/zip",
            {"Content-Disposition": f'attachment; filename="{ZIP_NAME}"'},
        )


def serve(spark, port: int = 0, results_dir: str | None = None):
    """Start the service on `port` (0 = ephemeral); returns the
    ThreadingHTTPServer (serve_forever runs on a daemon thread — call
    .shutdown() to stop). results_dir defaults to a fresh tempdir."""
    server = ThreadingHTTPServer(("127.0.0.1", port), MigrationHandler)
    server.spark = spark
    server.results_dir = results_dir or tempfile.mkdtemp(
        prefix="sg_http_results_"
    )
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return server


def main(argv=None) -> int:
    import argparse

    from relational_to_doc_oriented_nosql_migrator_spark.session import get_spark

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--port", type=int, default=3001)
    ap.add_argument("--results-dir", default=None)
    args = ap.parse_args(argv)
    spark = get_spark(app_name="migration-service")
    server = serve(spark, args.port, args.results_dir)
    print(f"serving on 127.0.0.1:{server.server_address[1]} "
          f"(results: {server.results_dir})")
    try:
        threading.Event().wait()
    except KeyboardInterrupt:
        server.shutdown()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
