"""Driver-side document builder for dump inputs.

A SQL dump is parsed into Python columns on the driver
(sources/sqldump.py) and is bounded by the service's upload limit, so its
documents are built here in plain Python by the same document shapes
(plans/shape.py) the Catalyst nesting DAG is built from: one dict index per
join column, and each document rendered as the JSON text Spark's `toJSON`
writes for it — key order, null omission, `array_sort` element order,
Jackson's string escapes and Java's double spelling. Rows are read as
`zip(*columns)` and rendered one at a time, each field by the renderer its
column type chose once.
"""

from __future__ import annotations

import datetime as _dt
import math
import re
from collections import defaultdict
from json.encoder import encode_basestring
from operator import add, call, itemgetter
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


def _timestamp(ts: _dt.datetime) -> str:
    # the sink's session time zone is UTC (session.get_spark)
    return '"' + ts.isoformat(timespec="milliseconds") + 'Z"'


_RENDER = {
    BooleanType: lambda v: "true" if v else "false",
    LongType: str,
    DoubleType: _double,
    TimestampType: _timestamp,
    DateType: lambda d: '"' + d.isoformat() + '"',
}


def _renderer(dtype, column: list):
    """The renderer of a column's non-null values, chosen once from its
    type and, for strings, its values."""
    if isinstance(dtype, StringType):
        # json's C encoder unless a value holds one of its lowercase hexes
        if _LOWER_HEX_CONTROLS.search("".join(filter(None, column))):
            return _string
        return encode_basestring
    return _RENDER[type(dtype)]


def _bangkok_date(v) -> str:
    """functions/scalar.date_normalize on a driver value: a timestamp's
    Asia/Bangkok local date, a date as is."""
    if isinstance(v, _dt.datetime):
        v = v.replace(tzinfo=_dt.timezone.utc).astimezone(_BANGKOK).date()
    return v.isoformat()


def _key(v):
    """Spark's ascending order on one struct field: null first, NaN last."""
    return (0,) if v is None else (2,) if v != v else (1, v)


def _document(keys, renders, values, array_keys, arrays) -> str:
    """`{"k":v,...}` over the non-null values, each by its field's
    renderer, then the present arrays (each a (sort key, text) pair);
    the keys are the encoded '"name":'s."""
    if None in values:
        parts = [k + render(v) for k, render, v in zip(keys, renders, values)
                 if v is not None]
    else:
        parts = list(map(add, keys, map(call, renders, values)))
    parts += [k + a[1] for k, a in zip(array_keys, arrays) if a is not None]
    return "{" + ",".join(parts) + "}"


class _Builder:
    def __init__(self, defs: dict, normalize_dates: bool):
        self.defs = defs
        self.normalize_dates = normalize_dates
        self._tables: dict[str, tuple[dict[str, int], list, list]] = {}

    def table(self, name: str) -> tuple[dict[str, int], list, list]:
        """(column -> position, columns, renderers), date columns
        normalized: each is mapped on its own, the rest are shared."""
        if name not in self._tables:
            tdef = self.defs[name]
            columns, renders = list(tdef.columns), []
            for i, (_n, dtype) in enumerate(tdef.fields):
                if self.normalize_dates and isinstance(
                        dtype, (DateType, TimestampType)):
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

    def roots(self, shape: Shape) -> list[str]:
        pos, columns, renders = self.table(shape.name)
        keys, array_keys = _keys(shape)
        cols = [pos[f.column] for f in shape.fields]
        field_renders = [renders[i] for i in cols]
        embeds = self._embeds(shape, pos)
        # na.drop(how="all") counts NaN as null: a field column with
        # neither keeps every row
        types = self.defs[shape.name].fields
        keep_all = any(None not in columns[i]
                       and not isinstance(types[i][1], DoubleType)
                       for i in cols)
        n = len(cols)
        docs = []
        for row in zip(*[columns[i] for i in cols],
                       *[columns[i] for _g, i in embeds]):
            values = row[:n]
            if not keep_all and all(v is None or v != v for v in values):
                continue
            docs.append(_document(
                keys, field_renders, values, array_keys,
                [g.get(v) for (g, _i), v in zip(embeds, row[n:])]))
        return docs

    def arrays(self, shape: Shape) -> dict:
        """Link value -> (sort key, JSON array text) of the embedded
        documents joined to it, in array_sort order."""
        this = self.table(shape.name)
        pos, columns, _renders = this
        keys, array_keys = _keys(shape)
        other = shape.other and self.table(shape.other.table)
        # (read from the other endpoint's row, position) and renderer
        cols, field_renders = [], []
        for f in shape.fields:
            opos, _c, orenders = other if f.other else this
            cols.append((f.other, opos[f.column]))
            field_renders.append(orenders[opos[f.column]])
        embeds = self._embeds(shape, pos)
        others = {}
        if shape.other:
            opos, ocolumns, _r = other
            k = opos[shape.other.key]
            others = defaultdict(list)
            for o in zip(*ocolumns):
                if o[k] is not None:
                    others[o[k]].append(o)
        link = pos[shape.link]
        groups = defaultdict(list)
        for row in zip(*columns):
            if row[link] is None:
                continue
            arrays = [g.get(row[i]) for g, i in embeds]
            array_order = tuple((0,) if a is None else (1, a[0])
                                for a in arrays)
            matches = ((None,) if shape.other is None
                       else others.get(row[pos[shape.other.column]], ()))
            for o in matches:
                values = [(o if from_other else row)[i]
                          for from_other, i in cols]
                groups[row[link]].append((
                    tuple(map(_key, values)) + array_order,
                    _document(keys, field_renders, values, array_keys,
                              arrays),
                ))
        out = {}
        for value, docs in groups.items():
            docs.sort(key=itemgetter(0))
            out[value] = (tuple(k for k, _ in docs),
                          "[" + ",".join(d for _, d in docs) + "]")
        return out


def _keys(shape: Shape) -> tuple[list[str], list[str]]:
    """The encoded '"name":'s of the fields and of the arrays."""
    return ([_string(f.name) + ":" for f in shape.fields],
            [_string(e.name) + ":" for e in shape.embedded])


def build_documents(
    defs: dict, shapes: list[Shape], normalize_dates: bool = True
) -> dict[str, list[str]]:
    """{root collection: its documents' JSON texts} for parsed dump tables
    (sources.sqldump.read_dump) and the plan's document shapes. An empty
    collection maps to an empty list."""
    builder = _Builder(defs, normalize_dates)
    return {shape.name: builder.roots(shape) for shape in shapes}
