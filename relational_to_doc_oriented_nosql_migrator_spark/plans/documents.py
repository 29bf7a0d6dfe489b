"""Driver-side document builder for dump inputs.

A SQL dump is parsed into Python rows on the driver (sources/sqldump.py)
and is bounded by the service's upload limit, so its documents are built
here in plain Python by the same document shapes (plans/shape.py) the
Catalyst nesting DAG is built from: one dict index per join column, and
each document rendered as the JSON text Spark's `toJSON` writes for it —
key order, null omission, `array_sort` element order, Jackson's string
escapes and Java's double spelling.
"""

from __future__ import annotations

import datetime as _dt
import math
from collections import defaultdict
from operator import itemgetter
from zoneinfo import ZoneInfo

from relational_to_doc_oriented_nosql_migrator_spark.plans.shape import (
    BANGKOK_TZ,
    Shape,
)
from relational_to_doc_oriented_nosql_migrator_spark.sources.sqldump import (
    DateType,
    TimestampType,
)

_BANGKOK = ZoneInfo(BANGKOK_TZ)

# Jackson escapes '"', '\' and U+0000-U+001F: five by their short form,
# the rest as \u00XX with uppercase hex. Everything else is written raw.
_ESCAPES = {c: f"\\u{c:04X}" for c in range(0x20)}
_ESCAPES.update({ord('"'): '\\"', ord("\\"): "\\\\", 8: "\\b", 9: "\\t",
                 10: "\\n", 12: "\\f", 13: "\\r"})


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
    str: _string,
    bool: lambda v: "true" if v else "false",
    int: str,
    float: _double,
    _dt.datetime: _timestamp,
    _dt.date: lambda d: '"' + d.isoformat() + '"',
}


def _bangkok_date(v) -> str:
    """functions/scalar.date_normalize on a driver value: a timestamp's
    Asia/Bangkok local date, a date as is."""
    if isinstance(v, _dt.datetime):
        v = v.replace(tzinfo=_dt.timezone.utc).astimezone(_BANGKOK).date()
    return v.isoformat()


def _key(v):
    """Spark's ascending order on one struct field: null first, NaN last."""
    return (0,) if v is None else (2,) if v != v else (1, v)


def _document(keys, values, arrays) -> str:
    """`{"k":v,...}` over the non-null values, then the present arrays
    (each a (sort key, text) pair); `keys` are the encoded '"name":'s."""
    parts = [k + _RENDER[type(v)](v) for k, v in zip(keys, values)
             if v is not None]
    parts += [k + a[1] for k, a in zip(keys[len(values):], arrays)
              if a is not None]
    return "{" + ",".join(parts) + "}"


class _Builder:
    def __init__(self, defs: dict, normalize_dates: bool):
        self.defs = defs
        self.normalize_dates = normalize_dates
        self._tables: dict[str, tuple[dict[str, int], list]] = {}

    def table(self, name: str) -> tuple[dict[str, int], list]:
        """(column -> position, rows), date columns normalized."""
        if name not in self._tables:
            tdef = self.defs[name]
            rows = tdef.rows
            dates = [i for i, (_n, dtype) in enumerate(tdef.fields)
                     if isinstance(dtype, (DateType, TimestampType))]
            if self.normalize_dates and dates:
                rows = [list(r) for r in rows]
                for r in rows:
                    for i in dates:
                        if r[i] is not None:
                            r[i] = _bangkok_date(r[i])
            self._tables[name] = (
                {n: i for i, (n, _t) in enumerate(tdef.fields)}, rows)
        return self._tables[name]

    def _embeds(self, shape: Shape, pos: dict[str, int]):
        return [(self.arrays(e), pos[e.parent_key]) for e in shape.embedded]

    def roots(self, shape: Shape) -> list[str]:
        pos, rows = self.table(shape.name)
        keys = _keys(shape)
        cols = [pos[f.column] for f in shape.fields]
        embeds = self._embeds(shape, pos)
        docs = []
        for row in rows:
            values = [row[i] for i in cols]
            # na.drop(how="all") counts NaN as null
            if all(v is None or v != v for v in values):
                continue
            docs.append(_document(
                keys, values, [g.get(row[i]) for g, i in embeds]))
        return docs

    def arrays(self, shape: Shape) -> dict:
        """Link value -> (sort key, JSON array text) of the embedded
        documents joined to it, in array_sort order."""
        pos, rows = self.table(shape.name)
        keys = _keys(shape)
        # (read from the other endpoint's row, position)
        cols = [(f.other, (self.table(shape.other.table)[0] if f.other
                           else pos)[f.column]) for f in shape.fields]
        embeds = self._embeds(shape, pos)
        others = {}
        if shape.other:
            opos, orows = self.table(shape.other.table)
            k = opos[shape.other.key]
            others = defaultdict(list)
            for o in orows:
                if o[k] is not None:
                    others[o[k]].append(o)
        link = pos[shape.link]
        groups = defaultdict(list)
        for row in rows:
            if row[link] is None:
                continue
            arrays = [g.get(row[i]) for g, i in embeds]
            array_keys = tuple((0,) if a is None else (1, a[0])
                               for a in arrays)
            matches = ((None,) if shape.other is None
                       else others.get(row[pos[shape.other.column]], ()))
            for o in matches:
                values = [(o if other else row)[i] for other, i in cols]
                groups[row[link]].append((
                    tuple(map(_key, values)) + array_keys,
                    _document(keys, values, arrays),
                ))
        out = {}
        for value, docs in groups.items():
            docs.sort(key=itemgetter(0))
            out[value] = (tuple(k for k, _ in docs),
                          "[" + ",".join(d for _, d in docs) + "]")
        return out


def _keys(shape: Shape) -> list[str]:
    names = [f.name for f in shape.fields] + [e.name for e in shape.embedded]
    return [_string(n) + ":" for n in names]


def build_documents(
    defs: dict, shapes: list[Shape], normalize_dates: bool = True
) -> dict[str, list[str]]:
    """{root collection: its documents' JSON texts} for parsed dump tables
    (sources.sqldump.read_dump) and the plan's document shapes. An empty
    collection maps to an empty list."""
    builder = _Builder(defs, normalize_dates)
    return {shape.name: builder.roots(shape) for shape in shapes}
