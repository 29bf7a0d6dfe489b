"""A SQL dump's migration on the driver, in plain Python.

The service (`POST /migration`) and CLI `--dump` run this path: parse the
dump (sources/sqldump.read_dump), fold in the query log (workload.py),
plan (plans/planner.py) and build every collection's documents
(plans/documents.py) as the JSON texts Spark's toJSON writes for the
nested frames (engine.migrate_from_dump, the Spark side of the
differential). A dump is bounded by the upload limit and already Python
rows on the driver, so no step needs a cluster.

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
    build_documents,
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


def migrate_dump_on_driver(
    sql_text: str,
    log_content: str | None = None,
    log_dialect: str = "mysql",
    normalize_dates: bool = True,
    stages: dict | None = None,
):
    """Dump text plus an optional query log -> ({collection: [document
    JSON]}, catalog, plan); empty collections map to empty lists. The
    catalog, workload and plan are engine.migrate_from_dump's.

    stages, when given, receives the wall seconds of `parse`, `workload`,
    `plan` and `build`. The workload call resolves
    `workload.apply_workload` at call time, so a tracer that patches it
    sees the call."""
    with timed_stage(stages, "parse"):
        _db, defs, catalog = read_dump(sql_text)
    with timed_stage(stages, "workload"):
        if log_content:
            workload_mod.apply_workload(catalog, log_content, log_dialect)
    with timed_stage(stages, "plan"):
        plan = convert_schema(catalog)
    with timed_stage(stages, "build"):
        documents = build_documents(
            defs, document_shapes(catalog, plan), normalize_dates)
    return documents, catalog, plan
