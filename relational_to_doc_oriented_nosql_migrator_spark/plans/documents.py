"""Driver-side document builder for dump inputs.

A SQL dump is parsed into Python columns on the driver
(sources/sqldump.py) and is bounded by the service's upload limit, so its
documents are built here in plain Python by the same document shapes
(plans/shape.py) the Catalyst nesting DAG is built from: one dict index per
join column, and each document rendered as the JSON text Spark's `toJSON`
writes for it — key order, null omission, `array_sort` element order,
Jackson's string escapes and Java's double spelling. Root documents are
rendered a chunk of CHUNK_ROWS rows at a time and column at a time: each
field's slice becomes JSON texts through one `map` of the renderer its
column type chose once, its key is prefixed the same way, and a row's
parts are joined with one more `map`. A chunk's documents can be written
out before the next chunk is rendered (sinks/documents.py), so a
collection's whole text is never held at once.
"""

from __future__ import annotations

import datetime as _dt
import math
import re
from collections import defaultdict
from collections.abc import Iterable, Iterator
from functools import partial
from itertools import compress, repeat
from json.encoder import encode_basestring
from operator import itemgetter, methodcaller
from zoneinfo import ZoneInfo

from relational_to_doc_oriented_nosql_migrator_spark.plans.shape import (
    BANGKOK_TZ,
    Shape,
)
from relational_to_doc_oriented_nosql_migrator_spark.sources.sqldump import (
    BooleanType,
    DateType,
    DoubleType,
    LongType,
    StringType,
    TimestampType,
)

_BANGKOK = ZoneInfo(BANGKOK_TZ)

# Root rows rendered per chunk: large enough that the per-chunk calls
# are negligible, small enough that a chunk's texts stay a few MB.
CHUNK_ROWS = 4096

# Jackson escapes '"', '\' and U+0000-U+001F: five by their short form,
# the rest as \u00XX with uppercase hex. Everything else is written raw.
_ESCAPES = {c: f"\\u{c:04X}" for c in range(0x20)}
_ESCAPES.update({ord('"'): '\\"', ord("\\"): "\\\\", 8: "\\b", 9: "\\t",
                 10: "\\n", 12: "\\f", 13: "\\r"})
# json's C encoder writes the same escapes, but spells the hex of these
# controls in lowercase.
_LOWER_HEX_CONTROLS = re.compile("[\x0b\x0e\x0f\x1a-\x1f]")


def _string(s: str) -> str:
    return '"' + s.translate(_ESCAPES) + '"'


def _double(x: float) -> str:
    """Java's Double.toString layout over Python's shortest digits: a
    plain decimal with at least one fractional digit for
    1e-3 <= |x| < 1e7, else d.dddE<n>; NaN and the infinities quoted."""
    if 1e-3 <= abs(x) < 1e7 or x == 0:
        return repr(x)  # Python's layout is Java's in this range
    if math.isnan(x):
        return '"NaN"'
    if math.isinf(x):
        return '"Infinity"' if x > 0 else '"-Infinity"'
    sign = "-" if x < 0 else ""
    mantissa, _, exp = repr(abs(x)).partition("e")
    whole, _, frac = mantissa.partition(".")
    digits = (whole + frac).lstrip("0")
    # digits[:point] is the integer part (negative: leading zeros after
    # the decimal point)
    point = len(digits) - len(frac) + int(exp or 0)
    digits = digits.rstrip("0")
    return f"{sign}{digits[0]}.{digits[1:] or '0'}E{point - 1}"


_PLAIN_LOW, _PLAIN_HIGH = 1e-3, 1e7


def _doubles(values: list) -> Iterable[str]:
    """repr when every value is 0 or in Java's plain range (no NaN or
    infinity either), else _double."""
    magnitudes = list(filter(None, map(abs, values)))
    if all(map(_PLAIN_LOW.__le__, magnitudes)) and all(
            map(_PLAIN_HIGH.__gt__, magnitudes)):
        return map(repr, values)
    return map(_double, values)


_BOOLEANS = {True: "true", False: "false"}
_TIMESTAMP = methodcaller("isoformat", timespec="milliseconds")

# A type's renderer of a column slice without nulls to its JSON texts.
# A timestamp's sink time zone is UTC (session.get_spark).
_RENDER = {
    BooleanType: lambda vs: map(_BOOLEANS.__getitem__, vs),
    LongType: lambda vs: map(str, vs),
    DoubleType: _doubles,
    TimestampType: lambda vs: map('"%sZ"'.__mod__, map(_TIMESTAMP, vs)),
    DateType: lambda vs: map('"%s"'.__mod__, map(_dt.date.isoformat, vs)),
}


def _renderer(dtype, column: list):
    """The renderer of a column's non-null slices, chosen once from its
    type and, for strings, its values."""
    if isinstance(dtype, StringType):
        # json's C encoder unless a value holds one of its lowercase hexes
        if _LOWER_HEX_CONTROLS.search("".join(filter(None, column))):
            return partial(map, _string)
        return partial(map, encode_basestring)
    return _RENDER[type(dtype)]


def _bangkok_date(ts: _dt.datetime) -> str:
    """functions/scalar.date_normalize on a driver timestamp: its
    Asia/Bangkok local date."""
    return ts.replace(tzinfo=_dt.timezone.utc).astimezone(_BANGKOK).date(
        ).isoformat()


def _key(v):
    """Spark's ascending order on one struct field: null first, NaN last."""
    return (0,) if v is None else (2,) if v != v else (1, v)


def _texts(render, values: list) -> list:
    """The JSON text of each value, None for each null."""
    if None not in values:
        return list(render(values))
    texts = render([v for v in values if v is not None])
    return [None if v is None else next(texts) for v in values]


def _documents(keys, renders, columns, array_keys, array_columns) -> list:
    """`{"k":v,...}` per row of the columns: the non-null values, each by
    its field's renderer, then the present arrays (each a (sort key,
    text) pair or None); the keys are the encoded '"name":'s. Without a
    null, every row is one `%` of a format string; else each present
    part is prefixed with its key and a row's parts are joined."""
    texts = [_texts(render, column)
             for render, column in zip(renders, columns)]
    texts += [[None if a is None else a[1] for a in column]
              for column in array_columns]
    keys = keys + array_keys
    if not any(None in column for column in texts):
        row = "{" + ",".join(k.replace("%", "%%") + "%s" for k in keys) + "}"
        return list(map(row.__mod__, zip(*texts)))
    parts = [[None if t is None else k + t for t in column]
             for k, column in zip(keys, texts)]
    rows = map(filter, repeat(None), zip(*parts))
    return list(map("{%s}".__mod__, map(",".join, rows)))


def _present(*values) -> bool:
    """Whether na.drop(how="all") keeps a row: NaN counts as null."""
    return any(v is not None and v == v for v in values)


class _Builder:
    def __init__(self, defs: dict, normalize_dates: bool):
        self.defs = defs
        self.normalize_dates = normalize_dates
        self._tables: dict[str, tuple[dict[str, int], list, list]] = {}

    def table(self, name: str) -> tuple[dict[str, int], list, list]:
        """(column -> position, columns, renderers), timestamp columns
        normalized to dates: each is mapped on its own, the rest are
        shared. A date's text and order are the same either way."""
        if name not in self._tables:
            tdef = self.defs[name]
            columns, renders = list(tdef.columns), []
            for i, (_n, dtype) in enumerate(tdef.fields):
                if self.normalize_dates and isinstance(dtype, TimestampType):
                    columns[i] = [None if v is None else _bangkok_date(v)
                                  for v in columns[i]]
                    dtype = StringType()
                renders.append(_renderer(dtype, columns[i]))
            self._tables[name] = (
                {n: i for i, (n, _t) in enumerate(tdef.fields)}, columns,
                renders)
        return self._tables[name]

    def _embeds(self, shape: Shape, pos: dict[str, int]):
        return [(self.arrays(e), pos[e.parent_key]) for e in shape.embedded]

    def roots(self, shape: Shape) -> Iterator[list[str]]:
        """The root documents, CHUNK_ROWS rows at a time (one list, maybe
        empty, for a table without rows)."""
        pos, columns, renders = self.table(shape.name)
        keys, array_keys = _keys(shape)
        cols = [pos[f.column] for f in shape.fields]
        field_renders = [renders[i] for i in cols]
        embeds = self._embeds(shape, pos)
        types = self.defs[shape.name].fields
        doubles = [isinstance(types[i][1], DoubleType) for i in cols]
        for start in range(0, max(len(columns[0]), 1), CHUNK_ROWS):
            values = [columns[i][start:start + CHUNK_ROWS] for i in cols]
            docs = _documents(
                keys, field_renders, values, array_keys,
                [list(map(g.get, columns[i][start:start + CHUNK_ROWS]))
                 for g, i in embeds])
            # na.drop(how="all") counts NaN as null: a field slice with
            # neither keeps every row
            if not any(None not in v and not d
                       for v, d in zip(values, doubles)):
                docs = list(compress(docs, map(_present, *values)))
            yield docs

    def arrays(self, shape: Shape) -> dict:
        """Link value -> (sort key, JSON array text) of the embedded
        documents joined to it, in array_sort order."""
        this = self.table(shape.name)
        pos, columns, _renders = this
        keys, array_keys = _keys(shape)
        other = shape.other and self.table(shape.other.table)
        link = pos[shape.link]
        rows = [row for row in zip(*columns) if row[link] is not None]
        if shape.other:
            # each row inner-joined to the other endpoint's rows
            opos, ocolumns, _r = other
            k, column = opos[shape.other.key], pos[shape.other.column]
            others = defaultdict(list)
            for o in zip(*ocolumns):
                if o[k] is not None:
                    others[o[k]].append(o)
            pairs = [(row, o) for row in rows
                     for o in others.get(row[column], ())]
        else:
            pairs = [(row, None) for row in rows]
        values, field_renders = [], []
        for f in shape.fields:
            opos, _c, orenders = other if f.other else this
            i = opos[f.column]
            values.append([(o if f.other else row)[i] for row, o in pairs])
            field_renders.append(orenders[i])
        arrays = [[g.get(row[i]) for row, _o in pairs]
                  for g, i in self._embeds(shape, pos)]
        docs = _documents(keys, field_renders, values, array_keys, arrays)
        sort_keys = zip(*[map(_key, v) for v in values],
                        *[[(0,) if a is None else (1, a[0]) for a in column]
                          for column in arrays])
        groups = defaultdict(list)
        for (row, _o), sort_key, doc in zip(pairs, sort_keys, docs):
            groups[row[link]].append((sort_key, doc))
        out = {}
        for value, group in groups.items():
            group.sort(key=itemgetter(0))
            out[value] = (tuple(k for k, _ in group),
                          "[" + ",".join(d for _, d in group) + "]")
        return out


def _keys(shape: Shape) -> tuple[list[str], list[str]]:
    """The encoded '"name":'s of the fields and of the arrays."""
    return ([_string(f.name) + ":" for f in shape.fields],
            [_string(e.name) + ":" for e in shape.embedded])


def document_chunks(
    defs: dict, shapes: list[Shape], normalize_dates: bool = True
) -> Iterator[tuple[str, list[str]]]:
    """(root collection, documents' JSON texts) chunks for parsed dump
    tables (sources.sqldump.read_dump) and the plan's document shapes, in
    plan order, each of at most CHUNK_ROWS source rows: a collection's
    chunks follow one another, and an empty collection yields one empty
    chunk."""
    builder = _Builder(defs, normalize_dates)
    for shape in shapes:
        for docs in builder.roots(shape):
            yield shape.name, docs


def build_documents(chunks) -> dict[str, list[str]]:
    """{collection: its documents} of a document_chunks stream, in plan
    order, for callers that want whole lists; an empty collection maps
    to an empty list."""
    out: dict[str, list[str]] = {}
    for name, docs in chunks:
        out.setdefault(name, []).extend(docs)
    return out
