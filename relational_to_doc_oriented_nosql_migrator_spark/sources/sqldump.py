"""SQL-dump import (operator `src_sql_dump_import`, SURVEY §2.1).

The reference loads an uploaded `.sql` dump into a live MySQL/Postgres and
re-introspects it (reference server/MySQLDBManager.js:26-43,69-95;
server/PostgresDBManager.js:41-62,82-125). Spark needs no staging database:
the dump is parsed driver-side into DataFrames plus the same out-of-band
catalog metadata (PKs, single-column FK edges, row counts) the reference
pulls from INFORMATION_SCHEMA — so a dump is a first-class source on equal
footing with parquet.

Sanitization parity with the reference's importSqlFile:
- `DROP DATABASE` / `CREATE DATABASE` statements are discarded
  (MySQLDBManager.js:74-82 strips them before piping to the server)
- psql meta-commands (`\\c` etc.) are discarded (PostgresDBManager.js:64-80)
- the database name is taken from `USE <db>` when present, else the
  caller-provided fallback (filename stem in the reference)

Grammar: the CREATE TABLE / INSERT INTO ... VALUES subset that mysqldump
and pg_dump emit, plus pg_dump's `COPY ... FROM stdin` data blocks. Values
decode the way the server that would load the dump reads them: MySQL
backslash escapes in INSERT literals, pg text-format escapes in COPY data.
Dumps are metadata-plus-literals scale; genuinely large fact data arrives
via parquet, so driver-side parsing here mirrors where the reference
itself is driver-bound.
"""

from __future__ import annotations

import datetime as _dt
import re
from dataclasses import dataclass, field
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
    (re.compile(r"^date$", re.I), DateType()),
    (re.compile(r"^(datetime|timestamp)", re.I), TimestampType()),
]

_CONSTRAINT_HEAD = re.compile(
    r"^(primary\s+key|foreign\s+key|constraint|unique|key|index|check)\b",
    re.I,
)
_PK_RE = re.compile(r"primary\s+key\s*\(([^)]*)\)", re.I)
_FK_RE = re.compile(
    r"foreign\s+key\s*\(([^)]*)\)\s*references\s+"
    r"([`\"\w]+)\s*\(([^)]*)\)",
    re.I,
)
_CREATE_RE = re.compile(
    r"^create\s+table\s+(?:if\s+not\s+exists\s+)?([`\"\w.]+)\s*\((.*)\)"
    r"[^)]*$",
    re.I | re.S,
)
_INSERT_RE = re.compile(
    r"^insert\s+into\s+([`\"\w.]+)\s*(?:\(([^)]*)\))?\s*values\s*(.*)$",
    re.I | re.S,
)
_USE_RE = re.compile(r"^use\s+([`\"\w]+)", re.I)
_DISCARD_RE = re.compile(
    r"^(drop\s+database|create\s+database|drop\s+table|set|lock\s+tables|"
    r"unlock\s+tables|start\s+transaction|commit|begin|alter\s+table\s+\S+"
    r"\s+owner)\b",
    re.I,
)


_COPY_RE = re.compile(
    r"^copy\s+([`\"\w.]+)\s*(?:\(([^)]*)\))?\s+from\s+stdin\s*;?\s*$",
    re.I,
)

# The pair of quoted-string patterns every split below builds on: a '...'
# or "..." literal whose body holds backslash escapes and doubled quotes
# (written unrolled, so a missing closing quote costs one linear scan).
_SQ = r"'[^'\\]*(?:(?:\\.|'')[^'\\]*)*'"
_DQ = r'"[^"\\]*(?:(?:\\.|"")[^"\\]*)*"'
# A statement: quoted strings and anything but ';' (a quote that never
# closes is read as a plain character).
_STATEMENT_RE = re.compile(rf"(?:{_SQ}|{_DQ}|[^;'\"]+|['\"])+", re.S)
# Tokens for a paren-depth split: strings, parens, commas, the rest.
_TOP_LEVEL_TOKEN_RE = re.compile(rf"{_SQ}|{_DQ}|[^(),'\"]+|.", re.S)
# One INSERT's VALUES list: a literal (group 1) or a tuple's closing paren
# (group 2); '(' and ',' between them are skipped.
_VALUES_TOKEN_RE = re.compile(rf"({_SQ}|{_DQ}|[^\s,()'\"]+)|(\))", re.S)

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


def _unquote(ident: str) -> str:
    return ident.strip().strip('`"').split(".")[-1].strip('`"')


def _mysql_string(token: str) -> str:
    """A quoted MySQL literal token -> its text."""
    return _MYSQL_ESCAPE_RE[token[0]].sub(
        lambda m: _MYSQL_ESCAPES.get(m[0], m[0][1]), token[1:-1]
    )


def _copy_text(field: str) -> str:
    return _COPY_ESCAPE_RE.sub(
        lambda m: _COPY_ESCAPES.get(m[1], m[1]), field
    )


def _parse_timestamp(raw: str) -> _dt.datetime:
    """A naive UTC datetime. An offset (pg `timestamptz` text such as
    `07:30:00+07`) is applied here: pyarrow would keep an aware value's
    wall-clock time when it goes into the naive Arrow column."""
    ts = _dt.datetime.fromisoformat(raw)
    if ts.tzinfo is not None:
        ts = ts.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return ts


# Text -> value per column type (StringType keeps the text).
_PARSERS = {
    LongType(): int,
    DoubleType(): float,
    BooleanType(): lambda v: v.lower() in ("1", "true", "t"),
    DateType(): _dt.date.fromisoformat,
    TimestampType(): _parse_timestamp,
    StringType(): str,
}


def _mysql_converter(parse):
    """An INSERT literal token (quoted, NULL or bare) -> value."""
    def convert(token: str):
        if token[0] in "'\"":
            return parse(_mysql_string(token))
        return None if token.upper() == "NULL" else parse(token)
    return convert


def _copy_converter(parse):
    """A COPY text field -> value."""
    def convert(field: str):
        if field == "\\N":
            return None
        return parse(_copy_text(field) if "\\" in field else field)
    return convert


# A COPY block: (table, column list text or None, data lines).
_CopyBlock = tuple[str, str | None, list[str]]


def _scan(text: str) -> tuple[list[str], list[_CopyBlock]]:
    """One pass over the dump's lines, then one statement split.

    `--` comment lines and psql meta-commands (`\\c` ...) are dropped.
    pg_dump `COPY t (cols) FROM stdin; ... \\.` blocks are lifted out
    whole: their data is newline-framed, not ';'-terminated, and a data
    line may hold anything. Returns the statements and the blocks."""
    kept: list[str] = []
    blocks: list[_CopyBlock] = []
    data: list[str] | None = None
    for line in text.splitlines():
        stripped = line.strip()
        if data is not None:
            if stripped == "\\.":
                data = None
            else:
                data.append(line)
        elif stripped.startswith(("--", "\\")):
            continue
        elif m := _COPY_RE.match(stripped):
            data = []
            blocks.append((_unquote(m.group(1)), m.group(2), data))
        else:
            kept.append(line)
    statements = [
        s.strip() for s in _STATEMENT_RE.findall("\n".join(kept))
    ]
    return [s for s in statements if s], blocks


def _split_statements(text: str) -> list[str]:
    """Split on top-level ';' (quote-aware); drop comments, psql
    meta-command lines and COPY data blocks."""
    return _scan(text)[0]


def _split_top_level(s: str) -> list[str]:
    """Split on ',' outside parens and quoted strings."""
    parts, buf, depth = [], [], 0
    for token in _TOP_LEVEL_TOKEN_RE.findall(s):
        if token == "," and depth == 0:
            parts.append("".join(buf).strip())
            buf = []
            continue
        if token == "(":
            depth += 1
        elif token == ")":
            depth -= 1
        buf.append(token)
    parts.append("".join(buf).strip())
    return [p for p in parts if p]


@dataclass
class _TableDef:
    name: str
    fields: list[tuple[str, _ColumnType]] = field(default_factory=list)
    primary_keys: list[str] = field(default_factory=list)
    foreign_keys: list[ForeignKey] = field(default_factory=list)
    rows: list[list] = field(default_factory=list)

    @property
    def schema(self) -> StructType:
        """The Spark schema: each column's Spark type of the same name."""
        from pyspark.sql import types as T

        return T.StructType([
            T.StructField(n, getattr(T, type(dt).__name__)(), True)
            for n, dt in self.fields
        ])

    def row_builder(self, columns: str | None, converter):
        """Values in `columns` order (a dump's column list text; None is
        field order) -> a row appended to `rows` in field order. Each
        column's converter is chosen here from its type, not per value.

        A row whose value count differs from the column list's raises
        ValueError, as the server loading the dump refuses it (MySQL
        ERROR 1136, pg COPY's "missing data for column" / "extra data
        after last expected column"); so does a column list naming a
        column the table lacks. Rows are numbered from 1 within the
        statement or COPY block, as the servers number them."""
        types = dict(self.fields)
        position = {n: i for i, (n, _) in enumerate(self.fields)}
        names = ([_unquote(c) for c in columns.split(",")] if columns
                 else [n for n, _ in self.fields])
        for n in names:
            if n not in position:
                raise ValueError(f"table {self.name}: unknown column {n}")
        slots = [(position[n], converter(_PARSERS[types[n]]))
                 for n in names]
        width, count = len(self.fields), len(slots)
        rows = self.rows
        first = len(rows)

        def build(values: list[str]) -> None:
            if len(values) != count:
                raise ValueError(
                    f"table {self.name}: row {len(rows) - first + 1}: "
                    f"expected {count} values, found {len(values)}"
                )
            row = [None] * width
            for (i, convert), value in zip(slots, values):
                row[i] = convert(value)
            rows.append(row)
        return build


def _parse_create(stmt: str) -> _TableDef | None:
    m = _CREATE_RE.match(stmt)
    if not m:
        return None
    table = _TableDef(name=_unquote(m.group(1)))
    for item in _split_top_level(m.group(2)):
        head = item.strip()
        if _CONSTRAINT_HEAD.match(head):
            pk = _PK_RE.search(head)
            if pk:
                table.primary_keys = [_unquote(c)
                                      for c in pk.group(1).split(",")]
            fk = _FK_RE.search(head)
            if fk:
                cols = [_unquote(c) for c in fk.group(1).split(",")]
                refcols = [_unquote(c) for c in fk.group(3).split(",")]
                # Composite FKs become independent single-column edges
                # (reference server/models/ForeignKey.js:1-9).
                for col, refcol in zip(cols, refcols):
                    table.foreign_keys.append(
                        ForeignKey(col, _unquote(fk.group(2)), refcol)
                    )
            continue
        parts = head.split(None, 1)
        if len(parts) < 2:
            continue
        name, rest = _unquote(parts[0]), parts[1]
        dtype: _ColumnType = StringType()
        for pattern, spark_type in _TYPE_MAP:
            if pattern.match(rest):
                dtype = spark_type
                break
        table.fields.append((name, dtype))
        if re.search(r"\bprimary\s+key\b", rest, re.I):
            table.primary_keys.append(name)
    return table


def _parse_dump(
    sql_text: str, default_db: str
) -> tuple[str, dict[str, _TableDef]]:
    """Dump text -> (db_name, parsed table definitions with their rows),
    all on the driver in plain Python."""
    db_name = default_db
    defs: dict[str, _TableDef] = {}
    statements, copy_blocks = _scan(sql_text)
    for stmt in statements:
        if _DISCARD_RE.match(stmt):
            continue
        use = _USE_RE.match(stmt)
        if use:
            db_name = _unquote(use.group(1))
            continue
        created = _parse_create(stmt)
        if created:
            defs[created.name] = created
            continue
        ins = _INSERT_RE.match(stmt)
        tdef = ins and defs.get(_unquote(ins.group(1)))
        if tdef:
            build = tdef.row_builder(ins.group(2), _mysql_converter)
            values: list[str] = []
            for literal, close in _VALUES_TOKEN_RE.findall(ins.group(3)):
                if close:
                    build(values)
                    values = []
                else:
                    values.append(literal)
    for tname, columns, lines in copy_blocks:
        tdef = defs.get(tname)
        if tdef:
            build = tdef.row_builder(columns, _copy_converter)
            for line in lines:
                build(line.split("\t"))
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
    """Dump text -> (db_name, parsed tables with their rows, annotated
    Catalog), on the driver. The catalog carries the same metadata the
    reference introspects from a live server, so `convert_schema` runs on
    dump input unchanged. A foreign key between columns of different
    types raises ValueError (see _check_fk_types)."""
    db_name, defs = _parse_dump(sql_text, default_db)
    _check_fk_types(defs)
    catalog = Catalog([
        TableMeta(
            name=tdef.name,
            num_rows=len(tdef.rows),
            columns=[n for n, _ in tdef.fields],
            primary_keys=tdef.primary_keys,
            foreign_keys=tdef.foreign_keys,
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
        columns = list(zip(*tdef.rows)) or [()] * len(tdef.fields)
        arrow = pa.Table.from_arrays(
            [pa.array(col, arrow_types[dt])
             for col, (_n, dt) in zip(columns, tdef.fields)],
            names=[n for n, _ in tdef.fields],
        )
        # An Arrow table becomes a JVM-local relation (LocalTableScan, or
        # Arrow batches decoded in the JVM past
        # spark.sql.execution.arrow.localRelationThreshold): every scan of
        # a dump table in the nesting jobs runs without a Python worker.
        tables[tdef.name] = spark.createDataFrame(arrow, tdef.schema)
    return db_name, tables, catalog
