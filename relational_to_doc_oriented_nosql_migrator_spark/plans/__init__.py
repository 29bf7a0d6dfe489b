from relational_to_doc_oriented_nosql_migrator_spark.plans.catalog import (
    Catalog,
    ForeignKey,
    TableMeta,
    northwind_catalog,
    tpch_catalog,
)
from relational_to_doc_oriented_nosql_migrator_spark.plans.planner import (
    Collection,
    NoSQLPlan,
    convert_schema,
    create_table_queue,
    is_self_referencing,
)

__all__ = [
    "Catalog",
    "ForeignKey",
    "TableMeta",
    "northwind_catalog",
    "tpch_catalog",
    "Collection",
    "NoSQLPlan",
    "convert_schema",
    "create_table_queue",
    "is_self_referencing",
]
