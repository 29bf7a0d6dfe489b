"""Workload analyzer — query log -> per-table GAF/UAF stats + MAF threshold.

Reference pipeline (server/LogManager.js:4-100): tokenize the raw log with a
dialect regex, keep Query/statement entries whose normalized body starts with
select|insert|update|delete|create, SQL-parse each into distinct table refs
'{op}::{db}::{table}', then for each select/insert/update/delete ref add the
table's row count to its gaf (and to uaf for writes); finally
maf = 0.0125 * sum(gaf) (server/models/RelationalDatabase.js:17-24).

The log is already one string on the driver (the CLI reads the file, the
service receives it in the POST body) and the reference scans it once in
memory, so this is one plain-Python pass with no Spark job. The regex
constants below are Java-syntax patterns (the DuckDB oracles in
operators/workload_ops.py read them too); the compiled forms reproduce Java's
semantics in Python: ASCII `\\d`/`\\s`, Java's multiline `^` after any line
terminator, and a trim of spaces only, as Spark's `trim` does.
"""

from __future__ import annotations

import re
import unicodedata
from collections import Counter

from relational_to_doc_oriented_nosql_migrator_spark.functions.sqlparse import (
    extract_table_refs,
)
from relational_to_doc_oriented_nosql_migrator_spark.plans.catalog import Catalog

# Entry anchors (reference server/LogManager.js:15-16,36-37). We anchor on
# the line-start timestamp of each entry; bodies may span lines. Beyond
# the reference's stamps (MySQL 5.x `240807 10:15:22`, pg `%m` with a
# `+hh` zone) these accept MySQL 8's ISO stamps
# (`2024-01-01T10:00:00.123456Z`, or `+07:00` under
# log_timestamps=SYSTEM), pg's `%t` (no milliseconds) and any pg zone:
# an abbreviation (`UTC`, `EST`) or a `±hh[[:]mm]` offset.
_MYSQL_TIME = (r"(?:\d{6}\s+\d{1,2}:\d{2}:\d{2}"
               r"|\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(?:\.\d+)?"
               r"(?:Z|[+-]\d{2}:\d{2}))")
MYSQL_STAMP = rf"{_MYSQL_TIME}\s"
_PG_TIME = r"\d{4}-\d{2}-\d{2}\s+\d{2}:\d{2}:\d{2}(?:\.\d{3})?"
PG_STAMP = rf"{_PG_TIME}\s"
_PG_ZONE = r"(?:[A-Za-z]+|[+-]\d{2}(?::?\d{2})?)"
MYSQL_ENTRY_SPLIT = rf"(?m)(?=^{MYSQL_STAMP})"
MYSQL_ENTRY_RE = (
    rf"(?s)^{_MYSQL_TIME}\s+\d+\s+"
    r"(Connect|Quit|Query|Init DB|Sleep|Shutdown|Create DB|Drop DB|Refresh|"
    r"Statistics|Processlist|Kill|Change user|Binlog Dump|Table Dump|"
    r"Field List|Execute|Prepare|Close stmt|Reset stmt|Fetch|Daemon)\s+(.*)$"
)
PG_ENTRY_SPLIT = rf"(?m)(?=^{PG_STAMP})"
PG_ENTRY_RE = (
    rf"(?s)^{_PG_TIME}\s*{_PG_ZONE}\s*\[\d+\]\s*"
    r"(?:LOG:\s*statement:|STATEMENT:)\s*(.*)$"
)

# `filter_statement_type` (reference server/LogManager.js:25,42)
STATEMENT_HEAD_RE = r"^(select|insert|update|delete|create)\b"
# `filter_dml_type` (reference server/LogManager.js:85-91)
DML_OPS = ("select", "insert", "update", "delete")

# Java's multiline `^` also matches after \r (but not between \r and \n),
# \u0085, \u2028 and \u2029; Python's only after \n.
_JAVA_LINE_START = r"(?:(?<=[\n\u0085\u2028\u2029])|(?<=\r)(?!\n))"
# (split regex, entry regex, keep only `Query` entries)
_TOKENIZERS = {
    "mysql": (
        re.compile(rf"{_JAVA_LINE_START}(?={MYSQL_STAMP})", re.ASCII),
        re.compile(MYSQL_ENTRY_RE, re.ASCII),
        True,
    ),
    "postgres": (
        re.compile(rf"{_JAVA_LINE_START}(?={PG_STAMP})", re.ASCII),
        re.compile(PG_ENTRY_RE, re.ASCII),
        False,
    ),
}
# Accepted query-log dialects; the CLI, the service and the registry pass
# one of these.
DIALECTS = tuple(_TOKENIZERS)
_WHITESPACE = re.compile(r"\s+", re.ASCII)
_HEADS = DML_OPS + ("create",)
# Java's `\b` word characters: letters, decimal digits and '_', plus
# non-spacing marks on a word character (Pattern.Bound).
_JAVA_WORD_CATEGORIES = {"Lu", "Ll", "Lt", "Lm", "Lo", "Nd", "Mn"}


def is_statement(stmt: str) -> bool:
    """`filter_statement_type`: STATEMENT_HEAD_RE on the lowercased
    statement, with Java's `\\b` after the head."""
    low = stmt.lower()
    for head in _HEADS:
        if low.startswith(head):
            after = low[len(head):len(head) + 1]
            return not after or (
                after != "_"
                and unicodedata.category(after) not in _JAVA_WORD_CATEGORIES
            )
    return False


def statements(log_content: str, dialect: str = "mysql") -> list[str]:
    """Log text -> kept, whitespace-normalized statements in log order
    (`fn_regex_log_extract_{mysql,pg}` + `fn_whitespace_normalize` +
    `filter_statement_type`)."""
    if dialect not in _TOKENIZERS:
        raise ValueError(f"unknown dialect: {dialect}")
    split_re, entry_re, query_only = _TOKENIZERS[dialect]
    out = []
    for entry in split_re.split(log_content):
        m = entry_re.search(entry)
        if m is None or (query_only and m.group(1) != "Query"):
            continue
        body = m.group(entry_re.groups)  # the last group
        stmt = _WHITESPACE.sub(" ", body).strip(" ")
        if is_statement(stmt):
            out.append(stmt)
    return out


def table_refs(stmts: list[str]) -> list[tuple[str, str, str]]:
    """`fn_sql_tablelist` -> `fn_split_tableref`: (op, db, table) for each
    distinct ref of each statement (reference server/LogManager.js:53-82)."""
    return [tuple(ref.split("::")[:3])
            for stmt in stmts for ref in extract_table_refs(stmt)]


def access_counts(log_content: str, dialect: str = "mysql") -> dict[str, tuple[int, int]]:
    """`filter_dml_type` + the counting half of `agg_workload_gaf_uaf`:
    table -> (accesses, writes) over the DML refs of the log."""
    accesses: Counter[str] = Counter()
    writes: Counter[str] = Counter()
    for op, _db, table in table_refs(statements(log_content, dialect)):
        if op in DML_OPS:
            accesses[table] += 1
            writes[table] += op != "select"
    return {table: (n, writes[table]) for table, n in accesses.items()}


def apply_workload(catalog: Catalog, log_content: str, dialect: str = "mysql") -> None:
    """Fold the log's row-count-weighted access stats into the catalog.
    Tables absent from the catalog are skipped (reference
    server/LogManager.js:91-97)."""
    for name, (accesses, writes) in access_counts(log_content, dialect).items():
        table = catalog.get_table(name)
        if table is not None:
            table.gaf = accesses * table.num_rows
            table.uaf = writes * table.num_rows
