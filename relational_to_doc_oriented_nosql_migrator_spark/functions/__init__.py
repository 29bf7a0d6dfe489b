from relational_to_doc_oriented_nosql_migrator_spark.functions.scalar import (
    case_when_referenced,
    date_normalize,
    split_trim,
    whitespace_normalize,
)
from relational_to_doc_oriented_nosql_migrator_spark.functions.sqlparse import (
    extract_table_refs,
)
from relational_to_doc_oriented_nosql_migrator_spark.functions.template import (
    document_template,
)

__all__ = [
    "document_template",
    "case_when_referenced",
    "date_normalize",
    "split_trim",
    "whitespace_normalize",
    "extract_table_refs",
]
