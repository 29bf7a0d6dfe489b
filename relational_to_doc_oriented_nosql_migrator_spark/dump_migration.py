"""A SQL dump's migration on the driver, in plain Python.

The service (`POST /migration`) and CLI `--dump` run this path: parse the
dump (sources/sqldump.read_dump), fold in the query log (workload.py),
plan (plans/planner.py) and build every collection's documents
(plans/documents.py), a chunk at a time as the writer asks for them, as
the JSON texts Spark's toJSON writes for the nested frames
(engine.migrate_from_dump, the Spark side of the differential). A dump
is bounded by the upload limit and already Python columns on the
driver, so no step needs a cluster.

Layering: this module and everything it imports load no pyspark, py4j or
pyarrow module, so a dump request does not pay for a batch engine it
never starts. Spark-side modules may import this layer; it never imports
them.
"""

from __future__ import annotations

import contextlib
import time

from relational_to_doc_oriented_nosql_migrator_spark import workload as workload_mod
from relational_to_doc_oriented_nosql_migrator_spark.plans.documents import (
    document_chunks,
)
from relational_to_doc_oriented_nosql_migrator_spark.plans.planner import (
    convert_schema,
)
from relational_to_doc_oriented_nosql_migrator_spark.plans.shape import (
    document_shapes,
)
from relational_to_doc_oriented_nosql_migrator_spark.sources.sqldump import (
    read_dump,
)


@contextlib.contextmanager
def timed_stage(stages: dict | None, name: str):
    """Record the wall seconds of the block as stages[name]."""
    start = time.perf_counter()
    try:
        yield
    finally:
        if stages is not None:
            stages[name] = round(time.perf_counter() - start, 6)


def _timed_chunks(chunks, stages: dict | None, name: str):
    """chunks, with the wall seconds spent making them summed into
    stages[name] as they are made."""
    total, chunks = 0.0, iter(chunks)
    while True:
        start = time.perf_counter()
        chunk = next(chunks, None)
        total += time.perf_counter() - start
        if stages is not None:
            stages[name] = round(total, 6)
        if chunk is None:
            return
        yield chunk


def migrate_dump_on_driver(
    sql_text: str,
    log_content: str | None = None,
    log_dialect: str = "mysql",
    normalize_dates: bool = True,
    record: dict | None = None,
):
    """Dump text plus an optional query log -> (chunks, catalog, plan).
    chunks is plans.documents.document_chunks' lazy stream of
    (collection, [document JSON]) in plan order, which
    sinks.write_documents and sinks.zip_documents write as it is made
    (plans.documents.build_documents collects it into lists). The
    catalog, workload and plan are engine.migrate_from_dump's.

    record, when given, receives the wall seconds of `parse`, `workload`
    and `plan`, and of `build` summed over the chunks as they are made
    (in `stages`), the log's `statements` and `unmatched_refs` and the
    planner's `size_referenced`. The workload call resolves
    `workload.apply_workload` at call time, so a tracer that patches it
    sees the call."""
    stages = None if record is None else record.setdefault("stages", {})
    with timed_stage(stages, "parse"):
        _db, defs, catalog = read_dump(sql_text)
    with timed_stage(stages, "workload"):
        counts = workload_mod.apply_workload(catalog, log_content,
                                             log_dialect)
    with timed_stage(stages, "plan"):
        plan = convert_schema(catalog)
    if record is not None:
        record.update(counts, size_referenced=plan.size_referenced)
    chunks = document_chunks(defs, document_shapes(catalog, plan),
                             normalize_dates)
    return _timed_chunks(chunks, stages, "build"), catalog, plan
