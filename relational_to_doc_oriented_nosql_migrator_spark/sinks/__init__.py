from relational_to_doc_oriented_nosql_migrator_spark.sinks.json_collections import (
    write_documents,
    write_json_collections,
)

__all__ = ["write_documents", "write_json_collections"]
