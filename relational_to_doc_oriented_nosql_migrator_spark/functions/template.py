"""Document-template rendering (reference client parity, SURVEY §3.3).

The reference client rebuilds a skeleton document per collection — scalar
attributes become empty strings, embedded collections become one-element
arrays of the child skeleton (client/src/components/NoSqlCollection.js:
14-29). Here the same skeleton falls directly out of the DataFrame schema,
so it reflects exactly what the engine will write.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, StructType


def schema_template(schema: StructType) -> dict:
    """StructType -> skeleton document (scalars '' / embedded arrays of
    one child skeleton), mirroring the client's recursive walk."""
    doc: dict = {}
    for field in schema.fields:
        dt = field.dataType
        if isinstance(dt, ArrayType) and isinstance(dt.elementType,
                                                    StructType):
            doc[field.name] = [schema_template(dt.elementType)]
        elif isinstance(dt, StructType):
            doc[field.name] = schema_template(dt)
        else:
            doc[field.name] = ""
    return doc


def document_template(coll) -> dict:
    """Document-template skeleton of one planned collection
    (plans.planner.Collection) exactly as the reference client renders
    it: attributes -> "", embedded collections -> one-element arrays
    (client/src/components/NoSqlCollection.js:14-29)."""
    doc: dict = {a: "" for a in coll.attributes}
    for child in coll.embedded:
        doc[child.name] = [document_template(child)]
    return doc


def collection_templates(collections: dict[str, DataFrame]) -> dict[str, dict]:
    """One skeleton per output collection (the engine-API equivalent of the
    reference's `sink_http_response` schema summary, server/index.js:
    44-56)."""
    return {name: schema_template(df.schema)
            for name, df in collections.items()}
