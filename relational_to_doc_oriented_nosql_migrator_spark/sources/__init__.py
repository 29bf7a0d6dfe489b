from relational_to_doc_oriented_nosql_migrator_spark.sources.parquet import (
    TPCH_TABLES,
    ALL_TABLES,
    load_table,
    load_tables,
    register_views,
)
from relational_to_doc_oriented_nosql_migrator_spark.sources.introspect import (
    catalog_from_meta_frames,
    jdbc_catalog,
    jdbc_meta_frames,
)

__all__ = [
    "TPCH_TABLES",
    "ALL_TABLES",
    "load_table",
    "load_tables",
    "register_views",
    "catalog_from_meta_frames",
    "jdbc_catalog",
    "jdbc_meta_frames",
]
