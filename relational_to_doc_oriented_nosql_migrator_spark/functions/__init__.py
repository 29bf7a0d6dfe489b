from relational_to_doc_oriented_nosql_migrator_spark.functions.template import (
    document_template,
)

__all__ = ["document_template"]
