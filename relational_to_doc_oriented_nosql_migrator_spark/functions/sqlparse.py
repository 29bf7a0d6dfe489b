"""The package's one SQL lexer, and `fn_sql_tablelist` on its tokens.

A quoted string, a quoted name and a comment are each one token, so
nothing inside one is read. The dump reader (sources/sqldump.py) builds
its patterns from these; `extract_table_refs` reads a log statement's
distinct '{op}::{db}::{table}' refs, tagged with the statement's
operation (reference server/LogManager.js:53-75, node-sql-parser's
`tableList`): the names after `FROM`/`JOIN`/`STRAIGHT_JOIN` (comma
lists with `[AS] alias`; a parenthesized item, such as a derived table,
is read for its own table lists) and after a head `INSERT|REPLACE
INTO`, `UPDATE` or `CREATE TABLE`, none in `EXTRACT(`/`SUBSTRING(`/
`TRIM(`/`POSITION(`, nor a function or `dual`; a qualifier is the db
('null').
"""

from __future__ import annotations

import functools
import re

# A '...' or "..." literal whose body holds backslash escapes and doubled
# quotes (unrolled: a missing closing quote costs one linear scan).
_SQ = r"'[^'\\]*(?:(?:\\.|'')[^'\\]*)*'"
_DQ = r'"[^"\\]*(?:(?:\\.|"")[^"\\]*)*"'
# A standard-conforming pg string (after `SET standard_conforming_strings
# = on`, which pg_dump writes in every header): a '...' body keeps `\` as
# data and only a doubled quote is special; an E'...' body keeps its
# backslash escapes.
_SQ_STANDARD = rf"(?<!\b[eE])'[^']*(?:''[^']*)*'|(?<=\b[eE]){_SQ}"
# A comment, which both servers skip anywhere outside a literal: `-- ...`
# to the end of the line, or `/* ... */`. mysqldump's version-gated
# `/*!40101 SET ... */` is skipped too: what it runs changes no table.
_COMMENT = r"--[^\r\n]*|/\*.*?\*/"
# Whitespace or a comment, as between the words of a statement head.
_S = rf"(?:\s|{_COMMENT})"
# A quoted identifier (a doubled quote inside is one quote) or a bare
# word, and a name of such parts, qualified (`db`.`t`, "public"."t").
_BQ = r"`[^`]*(?:``[^`]*)*`"
_DQ_NAME = r'"[^"]*(?:""[^"]*)*"'
_WORD = r"[\w$]+"
_IDENT = rf"{_BQ}|{_DQ_NAME}|{_WORD}"


def _qualified(ident: str) -> str:
    return rf"(?:{ident})(?:\s*\.\s*(?:{ident}))*"


_NAME = _qualified(_IDENT)
_NAME_RE = re.compile(_NAME)
_IDENT_RE = re.compile(_IDENT)


def _parts(name: str) -> list[str]:
    """A name's parts; a doubled quote inside a quoted part is one."""
    return [part[1:-1].replace(part[0] * 2, part[0]) if part[0] in '`"'
            else part for part in _IDENT_RE.findall(name)]


def _unquote(ident: str) -> str:
    """A name's last part as the server reads it: `db`.`t` is t."""
    name = _NAME_RE.match(ident.strip())
    return _parts(name[0])[-1] if name else ident.strip()


# Words that end a table item instead of aliasing it.
_CLAUSE_WORDS = (
    "where|on|using|join|straight_join|inner|cross|left|right|full|natural"
    "|outer|set|group|order|having|limit|offset|fetch|union|except"
    "|intersect|window|for|lock|into|values|select|returning|partition"
    "|use|force|ignore|from")
_END = r"(?![\w$])"
_OPS = {"select", "insert", "replace", "update", "delete", "create"}
_OP_RE = re.compile(r"\s*([A-Za-z]+)")


def _reader(quoted: str, ident: str) -> tuple[re.Pattern, re.Pattern]:
    """One dialect's statement scan, whose every match ends at a table
    list (the last group) or at the end, skipping whole tokens, and its
    pattern of one list item: a name (group 1) or a parenthesized item
    (group 2), each with its alias."""
    name = rf"(?>{_qualified(ident)})(?!\s*\()"
    alias = (rf"(?:{_S}+(?:as{_S}+)?"
             rf"(?!(?:{_CLAUSE_WORDS}){_END})(?:{ident}))?")
    # parentheses nested up to three deep, whole tokens inside
    paren = ""
    for _ in range(3):
        nested = paren and f"|{paren}"
        paren = (rf"\((?:{quoted}|{_COMMENT}|[^()'\"`/-]+{nested}"
                 rf"|['\"`/-])*+\)")
    item = rf"(?:{name}|{paren}){alias}"
    names = rf"{item}(?:{_S}*,{_S}*{item})*"
    call = rf"(?:extract|substring|trim|position)\s*{paren}"
    head = rf"(?:from|join|straight_join){_END}"
    skip = (rf"(?:{quoted}|{_COMMENT}|{call}|(?!{head}){_WORD}"
            rf"|[^\w$'\"`/-]+|[^\w$])*+")
    scan = re.compile(
        rf"\A\s*(?:(?:insert(?:{_S}+ignore)?|replace){_S}+into|create"
        rf"(?:{_S}+temp(?:orary)?)?{_S}+table(?:{_S}+if{_S}+not{_S}+exists)?)"
        rf"{_END}{_S}*((?>{_qualified(ident)}))"
        rf"|\A\s*update(?:{_S}+only)?{_END}{_S}*({names})"
        rf"|{skip}(?:{head}{_S}*({names})?|\Z)", re.I | re.S)
    return scan, re.compile(rf"(?:({name})|({paren})){alias}{_S}*,?{_S}*",
                            re.I | re.S)


# MySQL: '...' keeps backslash escapes, "..." is a string, `...` a name.
# Postgres: '...' is standard-conforming (E'...' keeps its escapes) and
# "..." is a name.
_READERS = {
    "mysql": _reader(rf"{_SQ}|{_DQ}|{_BQ}", rf"{_BQ}|{_WORD}"),
    "postgres": _reader(rf"{_SQ_STANDARD}|{_DQ_NAME}", rf"{_DQ_NAME}|{_WORD}"),
}


@functools.lru_cache(maxsize=4096)
def _table_list(text: str, dialect: str) -> tuple[str, ...]:
    """'::{db}::{table}' for each name of a table list's text, and for
    the tables a parenthesized item (a derived table) reads."""
    out, pos, item = [], 0, _READERS[dialect][1]
    while pos < len(text) and (m := item.match(text, pos)):
        if m[2]:
            out.extend(_refs(m[2][1:-1], dialect))
        else:
            *db, table = _parts(m[1])
            if table.lower() != "dual":
                out.append(f"::{db[-1] if db else 'null'}::{table}")
        pos = m.end()
    return tuple(out)


def _refs(text: str, dialect: str):
    """'::{db}::{table}' for each name of each table list in text."""
    for m in _READERS[dialect][0].finditer(text):
        if m.lastindex:
            yield from _table_list(m[m.lastindex], dialect)


def extract_table_refs(statement: str, dialect: str = "mysql") -> list[str]:
    """A statement's distinct '{op}::{db}::{table}' refs, read with the
    query log's dialect (`mysql` or `postgres`); [] for a statement that
    is no select, insert, replace, update, delete or create."""
    head = _OP_RE.match(statement)
    op = head[1].lower() if head else None
    if op not in _OPS:
        return []
    return list(dict.fromkeys(op + ref for ref in _refs(statement, dialect)))
