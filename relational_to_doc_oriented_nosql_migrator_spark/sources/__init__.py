from relational_to_doc_oriented_nosql_migrator_spark.sources.parquet import (
    ALL_TABLES,
    load_tables,
)

__all__ = ["ALL_TABLES", "load_tables"]
