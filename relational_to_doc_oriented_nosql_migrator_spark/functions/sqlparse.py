"""`fn_sql_tablelist` — SQL statement -> ['{op}::{db}::{table}', ...].

The reference delegates to node-sql-parser's `tableList`
(reference server/LogManager.js:53-75), returning one entry per *distinct*
table referenced by the statement, tagged with the statement's operation;
unparseable statements are skipped silently (:69-71).

Implementation: sqlglot if importable (not in the base image), else a
regex-based extractor that handles the log-statement shapes the workload
analyzer sees (SELECT ... FROM a JOIN b / comma lists, INSERT INTO, UPDATE,
DELETE FROM, CREATE TABLE, and non-correlated subqueries). Plain Python,
called once per statement by the driver-side workload analyzer
(workload.py).
"""

from __future__ import annotations

import re

try:  # pragma: no cover - sqlglot not present in the base image
    import sqlglot
    from sqlglot import exp

    _HAVE_SQLGLOT = True
except Exception:  # pragma: no cover
    _HAVE_SQLGLOT = False

_IDENT = r'(?:`[^`]+`|"[^"]+"|\[[^\]]+\]|[A-Za-z_][\w$]*)(?:\s*\.\s*(?:`[^`]+`|"[^"]+"|[A-Za-z_][\w$]*))?'

_FROM_RE = re.compile(
    rf"\bfrom\s+({_IDENT}(?:\s*,\s*{_IDENT})*)", re.IGNORECASE
)
_JOIN_RE = re.compile(rf"\bjoin\s+({_IDENT})", re.IGNORECASE)
_INSERT_RE = re.compile(rf"^\s*insert\s+(?:ignore\s+)?into\s+({_IDENT})",
                        re.IGNORECASE)
_UPDATE_RE = re.compile(rf"^\s*update\s+(?:only\s+)?({_IDENT})", re.IGNORECASE)
_DELETE_RE = re.compile(rf"^\s*delete\s+from\s+({_IDENT})", re.IGNORECASE)
_CREATE_RE = re.compile(
    rf"^\s*create\s+(?:temporary\s+|temp\s+)?table\s+(?:if\s+not\s+exists\s+)?({_IDENT})",
    re.IGNORECASE,
)
_KEYWORDS = {
    "select", "where", "group", "order", "limit", "on", "using", "as",
    "inner", "left", "right", "full", "cross", "join", "values", "set",
    "dual", "union", "having", "offset", "natural", "outer", "lateral",
}


def _clean_ident(raw: str) -> str:
    parts = re.split(r"\s*\.\s*", raw.strip())
    name = parts[-1].strip("`\"[]")
    return name


def _op_of(statement: str) -> str | None:
    m = re.match(r"^\s*([A-Za-z]+)", statement)
    if not m:
        return None
    op = m.group(1).lower()
    return op if op in ("select", "insert", "update", "delete", "create") else None


def _db_of(raw: str) -> str:
    parts = re.split(r"\s*\.\s*", raw.strip())
    if len(parts) == 2:
        return parts[0].strip("`\"[]")
    return "null"


def _extract_regex(statement: str) -> list[str]:
    op = _op_of(statement)
    if op is None:
        return []
    refs: list[tuple[str, str]] = []  # (db, table)

    def add(raw: str) -> None:
        name = _clean_ident(raw)
        if name and name.lower() not in _KEYWORDS and not name.isdigit():
            refs.append((_db_of(raw), name))

    if op == "insert":
        m = _INSERT_RE.search(statement)
        if m:
            add(m.group(1))
    elif op == "update":
        m = _UPDATE_RE.search(statement)
        if m:
            add(m.group(1))
    elif op == "create":
        m = _CREATE_RE.search(statement)
        if m:
            add(m.group(1))
    elif op == "delete":
        m = _DELETE_RE.search(statement)
        if m:
            add(m.group(1))

    # FROM/JOIN clauses (SELECT bodies, subqueries in any statement type).
    if op in ("select", "insert", "update", "delete", "create"):
        for m in _FROM_RE.finditer(statement):
            for raw in re.split(r"\s*,\s*", m.group(1)):
                # Strip trailing alias tokens: "orders o" -> "orders".
                add(raw.split()[0] if raw.split() else raw)
        for m in _JOIN_RE.finditer(statement):
            add(m.group(1))

    # Distinct per statement, insertion-ordered (node-sql-parser's tableList
    # returns a unique list).
    seen: set[str] = set()
    out: list[str] = []
    for db, table in refs:
        entry = f"{op}::{db}::{table}"
        if entry not in seen:
            seen.add(entry)
            out.append(entry)
    return out


def _extract_sqlglot(statement: str, dialect: str) -> list[str]:  # pragma: no cover
    try:
        parsed = sqlglot.parse_one(statement, read=dialect)
    except Exception:
        return []
    op = _op_of(statement) or "select"
    seen, out = set(), []
    for t in parsed.find_all(exp.Table):
        entry = f"{op}::{t.db or 'null'}::{t.name}"
        if entry not in seen:
            seen.add(entry)
            out.append(entry)
    return out


def extract_table_refs(statement: str, dialect: str = "mysql") -> list[str]:
    """Pure-Python extraction (unit-testable without Spark)."""
    if statement is None:
        return []
    if _HAVE_SQLGLOT:
        refs = _extract_sqlglot(statement, dialect)
        if refs:
            return refs
    return _extract_regex(statement)

