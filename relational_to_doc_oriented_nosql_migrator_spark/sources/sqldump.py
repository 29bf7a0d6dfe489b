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
and pg_dump emit. Dumps are metadata-plus-literals scale; genuinely large
fact data arrives via parquet/JDBC, so driver-side parsing here mirrors
where the reference itself is driver-bound.
"""

from __future__ import annotations

import datetime as _dt
import re
from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from relational_to_doc_oriented_nosql_migrator_spark.plans.catalog import (
    Catalog,
    ForeignKey,
    TableMeta,
)

_TYPE_MAP: list[tuple[re.Pattern, T.DataType]] = [
    (re.compile(r"^(tiny|small|medium|big)?int", re.I), T.LongType()),
    (re.compile(r"^(decimal|numeric|float|double|real)", re.I),
     T.DoubleType()),
    (re.compile(r"^bool", re.I), T.BooleanType()),
    (re.compile(r"^date$", re.I), T.DateType()),
    (re.compile(r"^(datetime|timestamp)", re.I), T.TimestampType()),
]

# Arrow column type per Spark type of _TYPE_MAP (StringType otherwise).
# Timestamps go in naive: Spark reads them in the session time zone,
# which get_spark pins to UTC, and the parsers make every value naive UTC.
_ARROW_TYPES = {
    T.LongType(): pa.int64(),
    T.DoubleType(): pa.float64(),
    T.BooleanType(): pa.bool_(),
    T.DateType(): pa.date32(),
    T.TimestampType(): pa.timestamp("us"),
    T.StringType(): pa.string(),
}

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


def _unquote(ident: str) -> str:
    return ident.strip().strip('`"').split(".")[-1].strip('`"')


def _extract_copy_blocks(
    text: str,
) -> tuple[str, list[tuple[str, list[str] | None, list[str]]]]:
    """Pull pg_dump `COPY t (cols) FROM stdin; ... \\.` blocks out of the
    dump BEFORE statement splitting (COPY data is newline-framed, not
    ';'-terminated, and its lines may contain anything). Returns the dump
    text without the blocks plus [(table, cols|None, data_lines)]."""
    out_lines: list[str] = []
    blocks: list[tuple[str, list[str] | None, list[str]]] = []
    lines = text.splitlines()
    i = 0
    while i < len(lines):
        m = _COPY_RE.match(lines[i].strip())
        if not m:
            out_lines.append(lines[i])
            i += 1
            continue
        cols = (
            [_unquote(c) for c in m.group(2).split(",")]
            if m.group(2) else None
        )
        data: list[str] = []
        i += 1
        while i < len(lines) and lines[i].strip() != "\\.":
            data.append(lines[i])
            i += 1
        i += 1  # skip the \. terminator
        blocks.append((_unquote(m.group(1)), cols, data))
    return "\n".join(out_lines), blocks


# pg COPY text-format escapes (tab-separated, \N = NULL).
_COPY_ESCAPES = {"\\t": "\t", "\\n": "\n", "\\r": "\r", "\\\\": "\\"}


def _parse_copy_value(raw: str, dtype: T.DataType):
    if raw == "\\N":
        return None
    for esc, ch in _COPY_ESCAPES.items():
        raw = raw.replace(esc, ch)
    if isinstance(dtype, T.LongType):
        return int(raw)
    if isinstance(dtype, T.DoubleType):
        return float(raw)
    if isinstance(dtype, T.BooleanType):
        return raw.lower() in ("t", "true", "1")
    if isinstance(dtype, T.DateType):
        return _dt.date.fromisoformat(raw)
    if isinstance(dtype, T.TimestampType):
        return _parse_timestamp(raw)
    return raw


def _parse_timestamp(raw: str) -> _dt.datetime:
    """A naive UTC datetime. An offset (pg `timestamptz` text such as
    `07:30:00+07`) is applied here: pyarrow would keep an aware value's
    wall-clock time when it goes into the naive Arrow column."""
    ts = _dt.datetime.fromisoformat(raw)
    if ts.tzinfo is not None:
        ts = ts.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return ts


def _split_statements(text: str) -> list[str]:
    """Split on top-level ';' (quote-aware); drop comments and psql
    meta-command lines."""
    lines = []
    for line in text.splitlines():
        stripped = line.strip()
        if stripped.startswith("--") or stripped.startswith("\\"):
            continue
        lines.append(line)
    text = "\n".join(lines)
    stmts, buf, quote = [], [], None
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if quote:
            # mysqldump escapes quotes/backslashes with a backslash inside
            # string literals; the escaped char must not close the quote.
            if ch == "\\" and i + 1 < n:
                buf.append(ch)
                buf.append(text[i + 1])
                i += 2
                continue
            buf.append(ch)
            if ch == quote:
                quote = None
        elif ch in ("'", '"'):
            quote = ch
            buf.append(ch)
        elif ch == ";":
            stmt = "".join(buf).strip()
            if stmt:
                stmts.append(stmt)
            buf = []
        else:
            buf.append(ch)
        i += 1
    tail = "".join(buf).strip()
    if tail:
        stmts.append(tail)
    return stmts


def _split_top_level(s: str, sep: str = ",") -> list[str]:
    """Split on sep outside parens/quotes (backslash-escape aware, like
    `_split_statements`)."""
    parts, buf, depth, quote = [], [], 0, None
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        if quote:
            if ch == "\\" and i + 1 < n:
                buf.append(ch)
                buf.append(s[i + 1])
                i += 2
                continue
            buf.append(ch)
            if ch == quote:
                quote = None
        elif ch in ("'", '"'):
            quote = ch
            buf.append(ch)
        elif ch == "(":
            depth += 1
            buf.append(ch)
        elif ch == ")":
            depth -= 1
            buf.append(ch)
        elif ch == sep and depth == 0:
            parts.append("".join(buf).strip())
            buf = []
        else:
            buf.append(ch)
        i += 1
    if buf:
        parts.append("".join(buf).strip())
    return [p for p in parts if p]


@dataclass
class _TableDef:
    name: str
    fields: list[tuple[str, T.DataType]] = field(default_factory=list)
    primary_keys: list[str] = field(default_factory=list)
    foreign_keys: list[ForeignKey] = field(default_factory=list)
    rows: list[list] = field(default_factory=list)

    @property
    def schema(self) -> T.StructType:
        return T.StructType(
            [T.StructField(n, dt, True) for n, dt in self.fields]
        )


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
        dtype: T.DataType = T.StringType()
        for pattern, spark_type in _TYPE_MAP:
            if pattern.match(rest):
                dtype = spark_type
                break
        table.fields.append((name, dtype))
        if re.search(r"\bprimary\s+key\b", rest, re.I):
            table.primary_keys.append(name)
    return table


def _parse_literal(raw: str, dtype: T.DataType):
    v = raw.strip()
    if v.upper() == "NULL":
        return None
    if v.startswith("'") and v.endswith("'"):
        v = (v[1:-1].replace("''", "'").replace("\\'", "'")
             .replace("\\\\", "\\"))
    if isinstance(dtype, T.LongType):
        return int(v)
    if isinstance(dtype, T.DoubleType):
        return float(v)
    if isinstance(dtype, T.BooleanType):
        return v.strip("'").lower() in ("1", "true", "t")
    if isinstance(dtype, T.DateType):
        return _dt.date.fromisoformat(v)
    if isinstance(dtype, T.TimestampType):
        return _parse_timestamp(v)
    return v


def _parse_dump(
    sql_text: str, default_db: str
) -> tuple[str, dict[str, _TableDef]]:
    """Dump text -> (db_name, parsed table definitions with their rows),
    all on the driver in plain Python."""
    db_name = default_db
    defs: dict[str, _TableDef] = {}
    sql_text, copy_blocks = _extract_copy_blocks(sql_text)
    for stmt in _split_statements(sql_text):
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
        if ins:
            tname = _unquote(ins.group(1))
            tdef = defs.get(tname)
            if tdef is None:
                continue
            col_names = [f[0] for f in tdef.fields]
            if ins.group(2):
                col_names = [_unquote(c) for c in ins.group(2).split(",")]
            types = dict(tdef.fields)
            for tup in _split_top_level(ins.group(3)):
                if not (tup.startswith("(") and tup.endswith(")")):
                    continue
                values = _split_top_level(tup[1:-1])
                row = {
                    col: _parse_literal(v, types[col])
                    for col, v in zip(col_names, values)
                }
                tdef.rows.append(
                    [row.get(f[0]) for f in tdef.fields]
                )

    for tname, cols, data_lines in copy_blocks:
        tdef = defs.get(tname)
        if tdef is None:
            continue
        col_names = cols or [f[0] for f in tdef.fields]
        types = dict(tdef.fields)
        for line in data_lines:
            values = line.split("\t")
            row = {
                col: _parse_copy_value(v, types[col])
                for col, v in zip(col_names, values)
            }
            tdef.rows.append([row.get(f[0]) for f in tdef.fields])
    return db_name, defs


def import_sql_dump(
    spark: SparkSession, sql_text: str, default_db: str = "db"
) -> tuple[str, dict[str, DataFrame], Catalog]:
    """Dump text -> (db_name, DataFrames per table, annotated Catalog).

    The catalog carries the same metadata the reference introspects from a
    live server, so `convert_schema`/`materialize` run on dump input
    unchanged.
    """
    db_name, defs = _parse_dump(sql_text, default_db)
    tables: dict[str, DataFrame] = {}
    metas: list[TableMeta] = []
    for tdef in defs.values():
        columns = list(zip(*tdef.rows)) or [()] * len(tdef.fields)
        arrow = pa.Table.from_arrays(
            [pa.array(col, _ARROW_TYPES[dt])
             for col, (_n, dt) in zip(columns, tdef.fields)],
            names=[n for n, _ in tdef.fields],
        )
        # An Arrow table becomes a JVM-local relation (LocalTableScan, or
        # Arrow batches decoded in the JVM past
        # spark.sql.execution.arrow.localRelationThreshold): every scan of
        # a dump table in the nesting jobs runs without a Python worker.
        tables[tdef.name] = spark.createDataFrame(arrow, tdef.schema)
        metas.append(
            TableMeta(
                name=tdef.name,
                num_rows=len(tdef.rows),
                columns=[n for n, _ in tdef.fields],
                primary_keys=tdef.primary_keys,
                foreign_keys=tdef.foreign_keys,
            )
        )
    return db_name, tables, Catalog(metas)
