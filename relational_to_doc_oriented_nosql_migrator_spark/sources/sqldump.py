"""SQL-dump import (operator `src_sql_dump_import`, SURVEY §2.1).

The reference loads an uploaded `.sql` dump into a live MySQL/Postgres and
re-introspects it (reference server/MySQLDBManager.js:26-43,69-95;
server/PostgresDBManager.js:41-62,82-125). Spark needs no staging database:
the dump is parsed driver-side into DataFrames plus the same out-of-band
catalog metadata (PKs, single-column FK edges, row counts) the reference
pulls from INFORMATION_SCHEMA — so a dump is a first-class source on equal
footing with parquet.

The dump is read as the server loading it reads it, in one quote-aware
walk in file order: comments (`-- ...`, `/* ... */`) are skipped anywhere
outside a literal, psql meta-commands (`\\c` etc.) between statements
(PostgresDBManager.js:64-80), and a `COPY ... FROM stdin` block's rows end
at `\\n`, `\\r\\n` or `\\r` only. Only CREATE TABLE, INSERT/REPLACE, COPY
and `USE <db>` (the database name; else the caller's fallback, the
filename stem in the reference) are read; every other statement, DROP and
CREATE DATABASE among them (MySQLDBManager.js:74-82), changes nothing.
`INSERT IGNORE INTO` and `REPLACE INTO` (mysqldump --insert-ignore,
--replace) load their rows like INSERT: as with INSERT, primary-key
duplicates are not modelled, so every row loads. A comment may stand
between the words of a statement's head, and a backtick- or double-quoted
name is one token whatever it holds. Values decode the way the server
that would load the dump reads them: MySQL backslash escapes in INSERT
literals until a `SET standard_conforming_strings = on` (pg_dump's
header), after which a '...' literal keeps `\\` as data and E'...' keeps
pg's escapes; pg text-format escapes in COPY data. A charset introducer
(`_binary 'ab'`, mysqldump 8.0's BLOB form) reads as its quoted text; hex
and bit literals (`0x41`, `X'41'`, `b'1'`) raise ValueError. MySQL's zero
date (`'0000-00-00'`, `'0000-00-00 00:00:00'`) loads as NULL. A value its
column type cannot read raises ValueError naming the table, column and row.
Dumps are metadata-plus-literals scale; genuinely large fact data arrives
via parquet, so driver-side parsing here mirrors where the reference
itself is driver-bound.

Rows are stored by column: one findall per INSERT yields one tuple of raw
tokens per row, and each column is decoded at once by its type's
converter (int/float over the bare tokens, quote slicing over plain
strings), falling back to the per-value converter only for a column that
holds NULLs, escapes or quoted numbers.
"""

from __future__ import annotations

import datetime as _dt
import functools
import re
from dataclasses import dataclass, field
from operator import itemgetter
from typing import TYPE_CHECKING

from relational_to_doc_oriented_nosql_migrator_spark.plans.catalog import (
    Catalog,
    ForeignKey,
    TableMeta,
)

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession
    from pyspark.sql.types import StructType


class _ColumnType:
    """A dump column's type, named after the Spark type its values load
    as (_TableDef.schema builds that type from the name). Parsing a dump
    needs neither Spark nor Arrow."""

    simple = ""

    def simpleString(self) -> str:
        return self.simple

    def __eq__(self, other) -> bool:
        return type(self) is type(other)

    def __hash__(self) -> int:
        return hash(type(self).__name__)


class LongType(_ColumnType):
    simple = "bigint"


class DoubleType(_ColumnType):
    simple = "double"


class BooleanType(_ColumnType):
    simple = "boolean"


class DateType(_ColumnType):
    simple = "date"


class TimestampType(_ColumnType):
    simple = "timestamp"


class StringType(_ColumnType):
    simple = "string"


_TYPE_MAP: list[tuple[re.Pattern, _ColumnType]] = [
    (re.compile(r"^((tiny|small|medium|big)?int|(small|big)?serial)", re.I),
     LongType()),
    (re.compile(r"^(decimal|numeric|float|double|real)", re.I),
     DoubleType()),
    (re.compile(r"^bool", re.I), BooleanType()),
    (re.compile(r"^date\b", re.I), DateType()),
    (re.compile(r"^(datetime|timestamp)", re.I), TimestampType()),
]

# The quoted-string patterns every split below builds on: a '...' or
# "..." literal whose body holds backslash escapes and doubled quotes
# (written unrolled, so a missing closing quote costs one linear scan).
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
_IDENT = rf"{_BQ}|{_DQ_NAME}|[\w$]+"
_NAME = rf"(?:{_IDENT})(?:\s*\.\s*(?:{_IDENT}))*"
_NAME_RE = re.compile(_NAME)
_IDENT_RE = re.compile(_IDENT)
# A parenthesized column list, whose quoted names and comments may hold
# a ')'.
_COLUMN_LIST = rf"\(((?:{_BQ}|{_DQ_NAME}|{_COMMENT}|[^)`\"])*+)\)"

_CONSTRAINT_HEAD = re.compile(
    r"^(primary\s+key|foreign\s+key|constraint|unique|key|index|check)\b",
    re.I,
)
_PK_RE = re.compile(rf"primary\s+key\s*{_COLUMN_LIST}", re.I)
_FK_RE = re.compile(
    rf"foreign\s+key\s*{_COLUMN_LIST}\s*references\s+({_NAME})\s*"
    rf"{_COLUMN_LIST}",
    re.I,
)
_CREATE_RE = re.compile(
    rf"^create{_S}+table\b{_S}*(?:if{_S}+not{_S}+exists\b{_S}*)?({_NAME})"
    rf"{_S}*\((.*)\)[^)]*$",
    re.I | re.S,
)
_INSERT_RE = re.compile(
    rf"^(?:insert(?:{_S}+ignore)?|replace){_S}+into\b{_S}*({_NAME}){_S}*"
    rf"(?:{_COLUMN_LIST})?{_S}*values{_S}*(.*)$",
    re.I | re.S,
)
_USE_RE = re.compile(rf"^use\b{_S}*({_NAME})", re.I | re.S)
_COPY_RE = re.compile(
    rf"^copy\b{_S}*({_NAME}){_S}*(?:{_COLUMN_LIST})?{_S}+from{_S}+stdin$",
    re.I | re.S,
)
_STANDARD_STRINGS_RE = re.compile(
    rf"^set{_S}+standard_conforming_strings{_S}*(?:=|\bto\b){_S}*'?(\w+)'?$",
    re.I | re.S,
)
# What lies between statements: whitespace, empty statements, comments
# and psql meta-command lines (`\c db`).
_GAP_RE = re.compile(rf"(?:\s+|;|{_COMMENT}|\\[^\r\n]*)*", re.S)
# A COPY block's data ends at a `\.` line (the pattern opens with the
# literal, which re finds fast); its rows end at pg COPY FROM's row
# terminators, and every other line separator is data.
_COPY_END_RE = re.compile(r"\\\.(?<![^\r\n]\\\.)(?![^\r\n])")
_COPY_ROW_END_RE = re.compile(r"\r\n?|\n")
_INTRODUCER_RE = re.compile(r"_\w+\s*(?=['\"])")
_HEX_OR_BIT_RE = re.compile(r"[xX]'|0x|([bB]'|0b)")


class _Grammar:
    """The dump's patterns for one reading of '...' literals: backslash-
    escaped (mysqldump, and pg until standard_conforming_strings is on)
    or standard-conforming. `string` turns a quoted token into its
    text."""

    def __init__(self, sq: str, string):
        self.string = string
        # One INSERT literal: a quoted string, with an optional charset
        # introducer (`_binary 'ab'`), hex/bit prefix (`X'41'`, `b'1'`) or
        # pg's E, or a bare token (a number, NULL, `0x41`).
        self.literal = rf"(?:_\w+\s*|[xXbBeE])?(?:{sq}|{_DQ})|[^\s,()'\"]+"
        # A statement, up to its ';': quoted strings, quoted names and
        # comments are single tokens, so a quote inside a comment opens
        # nothing (a quote that never closes is read as a plain
        # character).
        self.statement = re.compile(
            rf"(?:{sq}|{_DQ}|{_BQ}|{_COMMENT}|[^;'\"`/-]+|[^;])+", re.S)
        # Tokens for a paren-depth split: strings, quoted names, comments,
        # parens, commas, the rest.
        self.top_level_token = re.compile(
            rf"{sq}|{_DQ}|{_BQ}|{_COMMENT}|[^(),'\"`/-]+|.", re.S)
        # One INSERT's VALUES list token by token: a comment, a literal or
        # a paren. Only an error report walks it (see _TableDef.insert).
        self.values_token = re.compile(
            rf"{_COMMENT}|{self.literal}|[()]", re.S)

    def converter(self, parse):
        """An INSERT literal token -> value, for a column read by
        `parse`."""
        return _insert_converter(parse, self.string)

    @functools.lru_cache(maxsize=128)
    def tuple_re(self, width: int) -> re.Pattern:
        """One VALUES tuple of `width` literals per match (groups
        1..width), or a comment between tuples (every group empty). Any
        other character but the whitespace and commas between tuples
        lands in the last group, so a row of another width or a stray
        token shows there."""
        body = r"\s*,\s*".join([f"({self.literal})"] * width)
        return re.compile(rf"\(\s*{body}\s*\)|{_COMMENT}|([^\s,])", re.S)


# MySQL string-literal escapes (the server's own reading of a mysqldump):
# \% and \_ stay as written, any other \x not in the table is x, and a
# doubled quote is one quote.
_MYSQL_ESCAPES = {
    "\\0": "\0", "\\b": "\b", "\\n": "\n", "\\r": "\r", "\\t": "\t",
    "\\Z": "\x1a", "\\%": "\\%", "\\_": "\\_", "''": "'", '""': '"',
}
# Per quote character: in a '...' body only '' is a doubled quote.
_MYSQL_ESCAPE_RE = {
    q: re.compile(rf"\\.|{q}{q}", re.S) for q in ("'", '"')
}
# pg COPY text-format escapes; \N alone is NULL, any other \x is x (COPY
# TO writes no octal or hex forms).
_COPY_ESCAPES = {
    "b": "\b", "f": "\f", "n": "\n", "r": "\r", "t": "\t", "v": "\v",
}
_COPY_ESCAPE_RE = re.compile(r"\\(.)", re.S)
# pg E'...' escapes: octal, hex and Unicode forms and the table; any
# other \x is x.
_E_ESCAPES = {"b": "\b", "f": "\f", "n": "\n", "r": "\r", "t": "\t"}
_E_ESCAPE_RE = re.compile(
    r"\\(?:([0-7]{1,3})|x([0-9A-Fa-f]{1,2})|u([0-9A-Fa-f]{4})"
    r"|U([0-9A-Fa-f]{8})|(.))|''",
    re.S,
)


def _unquote(ident: str) -> str:
    """A name's last part as the server reads it: `db`.`t` is t, and a
    doubled quote inside a quoted part is one quote."""
    ident = ident.strip()
    name = _NAME_RE.match(ident)
    if not name:
        return ident
    part = _IDENT_RE.findall(name[0])[-1]
    if part[0] in '`"':
        return part[1:-1].replace(part[0] * 2, part[0])
    return part


def _mysql_string(token: str) -> str:
    """A quoted MySQL literal token -> its text."""
    return _MYSQL_ESCAPE_RE[token[0]].sub(
        lambda m: _MYSQL_ESCAPES.get(m[0], m[0][1]), token[1:-1]
    )


def _standard_string(token: str) -> str:
    """A quoted standard-conforming literal token -> its text."""
    return token[1:-1].replace(token[0] * 2, token[0])


def _e_escape(m: re.Match) -> str:
    if m[0] == "''":
        return "'"
    if m[5] is not None:
        return _E_ESCAPES.get(m[5], m[5])
    octal, *hexes = m.groups()[:4]
    return chr(int(octal, 8) if octal else int(next(filter(None, hexes)), 16))


def _e_string(token: str) -> str:
    """A pg E'...' literal token, E first -> its text."""
    return _E_ESCAPE_RE.sub(_e_escape, token[2:-1])


_BACKSLASH_STRINGS = _Grammar(_SQ, _mysql_string)
_STANDARD_STRINGS = _Grammar(_SQ_STANDARD, _standard_string)


def _copy_text(field: str) -> str:
    return _COPY_ESCAPE_RE.sub(
        lambda m: _COPY_ESCAPES.get(m[1], m[1]), field
    )


# MySQL's zero date, which names no calendar day: it loads as NULL.
_ZERO_DATE = "0000-00-00"


def _parse_date(raw: str) -> _dt.date | None:
    if raw.startswith(_ZERO_DATE):
        return None
    return _dt.date.fromisoformat(raw)


def _parse_timestamp(raw: str) -> _dt.datetime | None:
    """A naive UTC datetime. An offset (pg `timestamptz` text such as
    `07:30:00+07`) is applied here: pyarrow would keep an aware value's
    wall-clock time when it goes into the naive Arrow column."""
    if raw.startswith(_ZERO_DATE):
        return None
    ts = _dt.datetime.fromisoformat(raw)
    if ts.tzinfo is not None:
        ts = ts.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return ts


# Text -> value per column type (StringType keeps the text).
_PARSERS = {
    LongType(): int,
    DoubleType(): float,
    BooleanType(): lambda v: v.lower() in ("1", "true", "t"),
    DateType(): _parse_date,
    TimestampType(): _parse_timestamp,
    StringType(): str,
}


def _insert_converter(parse, string):
    """An INSERT literal token (quoted, introduced, E'...', NULL or bare)
    -> value; `string` reads a quoted token's text."""
    def convert(token: str):
        if token[0] in "'\"":
            return parse(string(token))
        if token.upper() == "NULL":
            return None
        if token[0] in "eE" and token[1:2] == "'":
            return parse(_e_string(token))
        if m := _INTRODUCER_RE.match(token):
            return parse(string(token[m.end():]))
        if m := _HEX_OR_BIT_RE.match(token):
            raise ValueError(
                f"{'bit' if m[1] else 'hexadecimal'} literals are not read")
        if "--" in token or "/*" in token:
            raise ValueError("a comment inside a row is not read")
        return parse(token)
    return convert


def _insert_texts(tokens, joined: str) -> list[str] | None:
    """The texts of a column of plain '...' literals (no NULL, escape or
    doubled quote), at C speed; None for any other column. `joined` is
    the tokens joined."""
    if ("\\" in joined or joined.count("'") != 2 * len(tokens)
            or any(map("'".__ne__, map(itemgetter(0), tokens)))):
        return None
    return list(map(itemgetter(slice(1, -1)), tokens))


def _copy_converter(parse):
    """A COPY text field -> value."""
    def convert(field: str):
        if field == "\\N":
            return None
        return parse(_copy_text(field) if "\\" in field else field)
    return convert


def _copy_texts(fields: tuple[str, ...],
                joined: str) -> tuple[str, ...] | None:
    """A COPY column's fields as its texts when none holds a backslash
    (so no NULL and no escape); None for any other column. `joined` is
    the fields joined."""
    return None if "\\" in joined else fields


def _scan(text: str):
    """Walk the dump once, in file order, and yield each statement as
    (text, None, grammar), or a `COPY t (cols) FROM stdin` header as
    (header, data rows, grammar). The data runs from the next line to a
    `\\.` line: it is framed by lines, not by ';', and a row may hold
    anything. The grammar reads '...' literals with backslash escapes
    until a `SET standard_conforming_strings` turns them standard."""
    grammar = _BACKSLASH_STRINGS
    pos, end = 0, len(text)
    while (pos := _GAP_RE.match(text, pos).end()) < end:
        m = grammar.statement.match(text, pos)
        stmt, pos, rows = m[0].rstrip(), m.end() + 1, None
        if _COPY_RE.match(stmt):
            stop = _COPY_END_RE.search(text, pos)
            # the rest of the header's line, then one row per line
            _rest, *rows = _COPY_ROW_END_RE.split(
                text[pos:stop.start() if stop else end])
            if rows and not rows[-1]:
                rows.pop()
            pos = stop.end() if stop else end
        elif standard := _STANDARD_STRINGS_RE.match(stmt):
            grammar = (_STANDARD_STRINGS if standard[1].lower() in
                       ("on", "true", "yes", "1", "default")
                       else _BACKSLASH_STRINGS)
        yield stmt, rows, grammar


def _split_statements(text: str) -> list[str]:
    """The dump's statements, without comments, psql meta-commands and
    COPY blocks."""
    return [stmt for stmt, rows, _grammar in _scan(text) if rows is None]


def _split_top_level(
    s: str, grammar: _Grammar = _BACKSLASH_STRINGS
) -> list[str]:
    """Split on ',' outside parens, quoted strings and names and
    comments; a comment reads as a space."""
    parts, buf, depth = [], [], 0
    for token in grammar.top_level_token.findall(s):
        if token == "," and depth == 0:
            parts.append("".join(buf).strip())
            buf = []
            continue
        if token == "(":
            depth += 1
        elif token == ")":
            depth -= 1
        elif token.startswith(("--", "/*")):
            token = " "
        buf.append(token)
    parts.append("".join(buf).strip())
    return [p for p in parts if p]


def _column_names(columns: str) -> list[str]:
    """A column list's names (the text between its parens)."""
    return [_unquote(c) for c in _split_top_level(columns)]


@dataclass
class _TableDef:
    name: str
    fields: list[tuple[str, _ColumnType]] = field(default_factory=list)
    primary_keys: list[str] = field(default_factory=list)
    foreign_keys: list[ForeignKey] = field(default_factory=list)
    # one value list per field, in field order
    columns: list[list] = field(default_factory=list)
    # field -> length of its values' text as the dump writes them
    column_bytes: dict[str, int] = field(default_factory=dict)

    @property
    def num_rows(self) -> int:
        return len(self.columns[0]) if self.columns else 0

    @property
    def schema(self) -> StructType:
        """The Spark schema: each column's Spark type of the same name."""
        from pyspark.sql import types as T

        return T.StructType([
            T.StructField(n, getattr(T, type(dt).__name__)(), True)
            for n, dt in self.fields
        ])

    # A row whose value count differs from its column list raises
    # ValueError, as the server loading the dump refuses it (MySQL ERROR
    # 1136, pg COPY's "missing data for column" / "extra data after last
    # expected column"); so does a column list naming a column the table
    # lacks. Rows are numbered from 1 within the statement or COPY block,
    # as the servers number them.

    def insert(self, columns: str | None, body: str,
               grammar: _Grammar = _BACKSLASH_STRINGS) -> None:
        """Append an INSERT's VALUES list (`body`), its literals in
        `columns` order (a dump's column list text; None is field
        order), read by `grammar`."""
        names = self._names(columns)
        rows = grammar.tuple_re(len(names)).findall(body)
        if any(map(itemgetter(-1), rows)):
            # the first row of another width, numbered as the server would
            # (a comment inside a row counts as one of its values)
            row, found = 1, 0
            for token in grammar.values_token.findall(body):
                if token == "(":
                    found = 0
                elif token != ")":
                    found += 1
                elif found != len(names):
                    break
                else:
                    row, found = row + 1, 0
            raise self._width_error(row, len(names), found)
        if not all(map(itemgetter(0), rows)):
            rows = list(filter(itemgetter(0), rows))  # drop the comments
        self._append(names, rows, _insert_texts, grammar.converter)

    def copy(self, columns: str | None, lines: list[str]) -> None:
        """Append a COPY block's tab-separated data lines."""
        names = self._names(columns)
        rows = [line.split("\t") for line in lines]
        if any(map(len(names).__ne__, map(len, rows))):
            row = next(i for i, r in enumerate(rows) if len(r) != len(names))
            raise self._width_error(row + 1, len(names), len(rows[row]))
        self._append(names, rows, _copy_texts, _copy_converter)

    def _names(self, columns: str | None) -> list[str]:
        names = (_column_names(columns) if columns
                 else [n for n, _ in self.fields])
        known = dict(self.fields)
        for n in names:
            if n not in known:
                raise ValueError(f"table {self.name}: unknown column {n}")
        if len(set(names)) < len(names):
            raise ValueError(
                f"table {self.name}: a column is listed twice in {names}")
        return names

    def _width_error(self, row: int, expected: int,
                     found: int) -> ValueError:
        return ValueError(f"table {self.name}: row {row}: expected "
                          f"{expected} values, found {found}")

    def _append(self, names, rows, texts, converter) -> None:
        """Decode `rows` (token tuples in `names` order) column by column
        and extend every field's column; unlisted fields get NULLs."""
        listed = dict(zip(names, zip(*rows)))
        for (name, dtype), column in zip(self.fields, self.columns):
            if name not in listed:
                column.extend([None] * len(rows))
            else:
                # the column's text, joined once: its length is the
                # column's value bytes, and `texts` reads it
                joined = "".join(listed[name])
                self.column_bytes[name] = (self.column_bytes.get(name, 0)
                                           + len(joined))
                column.extend(self._decode(
                    name, dtype, listed[name], joined, texts, converter))

    def _decode(self, name, dtype, tokens, joined, texts, converter) -> list:
        """One column's tokens -> values. int and float map over the
        tokens and every other type over the texts of a plain column;
        anything those cannot read (NULL, escapes, quoted numbers, zero
        dates) takes the column's per-value converter."""
        parse = _PARSERS[dtype]
        try:
            if parse is int or parse is float:
                return list(map(parse, tokens))
            plain = texts(tokens, joined)
            if plain is not None:
                return plain if parse is str else list(map(parse, plain))
        except ValueError:
            pass
        convert = converter(parse)
        values = []
        for token in tokens:
            try:
                values.append(convert(token))
            except ValueError as e:
                raise ValueError(
                    f"table {self.name}: column {name}: row "
                    f"{len(values) + 1}: cannot read {token} as "
                    f"{dtype.simpleString()}: {e}"
                ) from None
        return values


def _parse_create(
    stmt: str, grammar: _Grammar = _BACKSLASH_STRINGS
) -> _TableDef | None:
    m = _CREATE_RE.match(stmt)
    if not m:
        return None
    table = _TableDef(name=_unquote(m.group(1)))
    for item in _split_top_level(m.group(2), grammar):
        head = item.strip()
        if _CONSTRAINT_HEAD.match(head):
            pk = _PK_RE.search(head)
            if pk:
                table.primary_keys = _column_names(pk.group(1))
            fk = _FK_RE.search(head)
            if fk:
                cols = _column_names(fk.group(1))
                refcols = _column_names(fk.group(3))
                # Composite FKs become independent single-column edges
                # (reference server/models/ForeignKey.js:1-9).
                for col, refcol in zip(cols, refcols):
                    table.foreign_keys.append(
                        ForeignKey(col, _unquote(fk.group(2)), refcol)
                    )
            continue
        ident = _NAME_RE.match(head)
        rest = head[ident.end():].strip() if ident else ""
        if not rest:
            continue
        name = _unquote(ident[0])
        dtype: _ColumnType = StringType()
        for pattern, spark_type in _TYPE_MAP:
            if pattern.match(rest):
                dtype = spark_type
                break
        table.fields.append((name, dtype))
        if re.search(r"\bprimary\s+key\b", rest, re.I):
            table.primary_keys.append(name)
    table.columns = [[] for _ in table.fields]
    return table


def _parse_dump(
    sql_text: str, default_db: str
) -> tuple[str, dict[str, _TableDef]]:
    """Dump text -> (db_name, parsed table definitions with their
    columns), all on the driver in plain Python."""
    db_name = default_db
    defs: dict[str, _TableDef] = {}
    for stmt, rows, grammar in _scan(sql_text):
        use = _USE_RE.match(stmt)
        if use:
            db_name = _unquote(use.group(1))
            continue
        created = _parse_create(stmt, grammar)
        if created:
            defs[created.name] = created
            continue
        into = (_INSERT_RE if rows is None else _COPY_RE).match(stmt)
        tdef = into and defs.get(_unquote(into.group(1)))
        if tdef and rows is None:
            tdef.insert(into.group(2), into.group(3), grammar)
        elif tdef:
            tdef.copy(into.group(2), rows)
    return db_name, defs


_NUMERIC = (LongType(), DoubleType())


def _check_fk_types(defs: dict[str, _TableDef]) -> None:
    """Raise ValueError for a foreign key whose column type differs from
    the referenced column's, as MySQL and Postgres refuse it when the
    dump loads. Numeric pairs pass: both executors join them by value."""
    for tdef in defs.values():
        for fk in tdef.foreign_keys:
            ref = defs.get(fk.referenced_table)
            ctype = dict(tdef.fields).get(fk.column)
            rtype = ref and dict(ref.fields).get(fk.referenced_column)
            if ctype is None or rtype is None or ctype == rtype or (
                    ctype in _NUMERIC and rtype in _NUMERIC):
                continue
            raise ValueError(
                f"table {tdef.name}: foreign key column {fk.column} "
                f"({ctype.simpleString()}) references "
                f"{fk.referenced_table}.{fk.referenced_column} "
                f"({rtype.simpleString()}), a different type"
            )


def read_dump(
    sql_text: str, default_db: str = "db"
) -> tuple[str, dict[str, _TableDef], Catalog]:
    """Dump text -> (db_name, parsed tables with their columns, annotated
    Catalog), on the driver. The catalog carries the same metadata the
    reference introspects from a live server, so `convert_schema` runs on
    dump input unchanged, plus each column's value bytes: the length of
    the value tokens the parse already split out. A foreign key between
    columns of different types raises ValueError (see _check_fk_types)."""
    db_name, defs = _parse_dump(sql_text, default_db)
    _check_fk_types(defs)
    catalog = Catalog([
        TableMeta(
            name=tdef.name,
            num_rows=tdef.num_rows,
            columns=[n for n, _ in tdef.fields],
            primary_keys=tdef.primary_keys,
            foreign_keys=tdef.foreign_keys,
            column_bytes=tdef.column_bytes,
        )
        for tdef in defs.values()
    ])
    return db_name, defs, catalog


def import_sql_dump(
    spark: SparkSession, sql_text: str, default_db: str = "db"
) -> tuple[str, dict[str, DataFrame], Catalog]:
    """Dump text -> (db_name, DataFrames per table, annotated Catalog)
    (see read_dump)."""
    import pyarrow as pa

    # Timestamps go in naive: Spark reads them in the session time zone,
    # which get_spark pins to UTC, and the parsers make every value naive
    # UTC.
    arrow_types = {
        LongType(): pa.int64(),
        DoubleType(): pa.float64(),
        BooleanType(): pa.bool_(),
        DateType(): pa.date32(),
        TimestampType(): pa.timestamp("us"),
        StringType(): pa.string(),
    }
    db_name, defs, catalog = read_dump(sql_text, default_db)
    tables: dict[str, DataFrame] = {}
    for tdef in defs.values():
        arrow = pa.Table.from_arrays(
            [pa.array(col, arrow_types[dt])
             for col, (_n, dt) in zip(tdef.columns, tdef.fields)],
            names=[n for n, _ in tdef.fields],
        )
        # An Arrow table becomes a JVM-local relation (LocalTableScan, or
        # Arrow batches decoded in the JVM past
        # spark.sql.execution.arrow.localRelationThreshold): every scan of
        # a dump table in the nesting jobs runs without a Python worker.
        tables[tdef.name] = spark.createDataFrame(arrow, tdef.schema)
    return db_name, tables, catalog
