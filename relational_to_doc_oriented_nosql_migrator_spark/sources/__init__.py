from relational_to_doc_oriented_nosql_migrator_spark.sources.parquet import (
    parquet_catalog,
    scan,
)

__all__ = ["parquet_catalog", "scan"]
