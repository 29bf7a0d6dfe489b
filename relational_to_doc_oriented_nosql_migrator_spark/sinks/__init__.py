"""JSON collection sinks. write_documents (sinks/documents.py) is plain
Python; write_json_collections (sinks/json_collections.py) runs on Spark
and is imported on first use, so the driver-side dump path loads no
Spark module through this package."""

import importlib

from relational_to_doc_oriented_nosql_migrator_spark.sinks.documents import (
    write_documents,
)

__all__ = ["write_documents", "write_json_collections"]


def __getattr__(name: str):
    if name == "write_json_collections":
        return importlib.import_module(
            f"{__name__}.json_collections").write_json_collections
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
