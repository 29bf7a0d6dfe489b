"""Document-template rendering (reference client parity, SURVEY §3.3).

The reference client rebuilds a skeleton document per collection — scalar
attributes become empty strings, embedded collections become one-element
arrays of the child skeleton (client/src/components/NoSqlCollection.js:
14-29). Here the same skeleton falls directly out of the conversion plan,
the one the engine writes documents from.
"""

from __future__ import annotations


def document_template(coll) -> dict:
    """Document-template skeleton of one planned collection
    (plans.planner.Collection) exactly as the reference client renders
    it: attributes -> "", embedded collections -> one-element arrays
    (client/src/components/NoSqlCollection.js:14-29)."""
    doc: dict = {a: "" for a in coll.attributes}
    for child in coll.embedded:
        doc[child.name] = [document_template(child)]
    return doc
