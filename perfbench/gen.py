"""Seeded input generators for the benchmark.

Everything the program receives is made here from the run's seed: the same
seed gives byte-identical inputs, and sizes depend only on the scale factor,
so every seed does the same amount of work.

- write_tables: TPC-H-shaped parquet tables (plus the events, documents and
  embeddings extension tables) in the layout `cli --tables` reads.
- mysql_general_log: a MySQL general query log whose writes land on
  lineitem and orders, which flips customer, supplier and orders from
  embedded to referenced collections.
- mysqldump: a mysqldump-style dump (PK/FK DDL, multi-row INSERTs) of the
  seven TPC-H tables.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
N_NATIONS = 25
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "old", "red", "small", "tiny")
PART_NOUN = ("bolt", "gear", "nut", "plate", "ring", "screw", "spring", "valve")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DIMS = 64
N_SOURCES = 20

# Rows per unit scale factor (TPC-H proportions; the extension tables
# follow the same linear rule).
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem")

# Primary and foreign keys of the seven TPC-H tables, as a dump declares them.
DUMP_PRIMARY_KEYS = {
    "region": ("r_regionkey",),
    "nation": ("n_nationkey",),
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey",),
    "lineitem": ("l_orderkey", "l_linenumber"),
}
DUMP_FOREIGN_KEYS = {
    "nation": (("n_regionkey", "region", "r_regionkey"),),
    "customer": (("c_nationkey", "nation", "n_nationkey"),),
    "supplier": (("s_nationkey", "nation", "n_nationkey"),),
    "orders": (("o_custkey", "customer", "c_custkey"),),
    "lineitem": (
        ("l_orderkey", "orders", "o_orderkey"),
        ("l_partkey", "part", "p_partkey"),
        ("l_suppkey", "supplier", "s_suppkey"),
    ),
}

_EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
_US_PER_DAY = 86_400_000_000


def table_sizes(sf: float) -> dict[str, int]:
    """Row count of every table at scale factor sf."""
    sizes = {"region": len(REGIONS), "nation": N_NATIONS}
    sizes.update({t: max(1, int(n * sf)) for t, n in ROWS_PER_SF.items()})
    return sizes


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in range(n)]


def _document_texts(rng, n: int) -> list[str]:
    """Word-salad texts of 8-95 tokens; every 97th doc repeats an earlier
    one, so the corpus holds exact duplicates."""
    vocab = np.array(VOCAB)
    lengths = rng.integers(8, 96, n)
    words = vocab[rng.integers(0, len(vocab), int(lengths.sum()))]
    texts, pos = [], 0
    for i, k in enumerate(lengths):
        texts.append(" ".join(words[pos:pos + k]))
        pos += k
    for i in range(97, n, 97):
        texts[i] = texts[i - 97]
    return texts


def make_tables(seed: int, sf: float,
                names: tuple[str, ...] | None = None) -> dict[str, pa.Table]:
    """Build the tables in memory. Every table draws from its own child
    seed, so asking for a subset yields the same rows as the full set."""
    sizes = table_sizes(sf)
    wanted = set(names or sizes)
    streams = dict(zip(sizes, np.random.SeedSequence(seed).spawn(len(sizes))))

    def rng(name):
        return np.random.default_rng(streams[name])

    out: dict[str, pa.Table] = {}
    n_c, n_s, n_p, n_o = (sizes[t] for t in
                          ("customer", "supplier", "part", "orders"))
    if "region" in wanted:
        out["region"] = pa.table({
            "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
            "r_name": list(REGIONS),
        })
    if "nation" in wanted:
        keys = np.arange(N_NATIONS, dtype=np.int32)
        out["nation"] = pa.table({
            "n_nationkey": keys,
            "n_name": [f"NATION_{k}" for k in keys],
            "n_regionkey": keys % len(REGIONS),
        })
    if "customer" in wanted:
        r = rng("customer")
        out["customer"] = pa.table({
            "c_custkey": np.arange(n_c, dtype=np.int64),
            "c_name": _names("Customer", n_c),
            "c_nationkey": r.integers(0, N_NATIONS, n_c, dtype=np.int32),
            "c_acctbal": _money(r, -999.99, 9999.99, n_c),
            "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_c)],
        })
    if "supplier" in wanted:
        r = rng("supplier")
        out["supplier"] = pa.table({
            "s_suppkey": np.arange(n_s, dtype=np.int64),
            "s_name": _names("Supplier", n_s),
            "s_nationkey": r.integers(0, N_NATIONS, n_s, dtype=np.int32),
            "s_acctbal": _money(r, -999.99, 9999.99, n_s),
        })
    if "part" in wanted:
        r = rng("part")
        keys = np.arange(n_p, dtype=np.int64)
        adj = np.array(PART_ADJ)[r.integers(0, len(PART_ADJ), n_p)]
        noun = np.array(PART_NOUN)[r.integers(0, len(PART_NOUN), n_p)]
        out["part"] = pa.table({
            "p_partkey": keys,
            "p_name": np.char.add(np.char.add(adj, " "), noun),
            "p_brand": np.char.add("Brand#", r.integers(1, 26, n_p)
                                   .astype(str)),
            "p_type": np.array(PART_TYPES)[r.integers(0, 6, n_p)],
            "p_size": r.integers(1, 51, n_p, dtype=np.int32),
            "p_retailprice": np.round(900 + (keys % 1000) / 10, 2),
        })
    if "orders" in wanted:
        r = rng("orders")
        out["orders"] = pa.table({
            "o_orderkey": np.arange(n_o, dtype=np.int64),
            "o_custkey": r.integers(0, n_c, n_o, dtype=np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_o)],
            "o_totalprice": _money(r, 1000.0, 500000.0, n_o),
            "o_orderdate": _EPOCH_1995 + r.integers(0, 2400, n_o)
            * np.timedelta64(1, "D"),
            "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_o)],
        })
    if "lineitem" in wanted:
        r = rng("lineitem")
        n_l = sizes["lineitem"]
        okeys = np.sort(r.integers(0, n_o, n_l, dtype=np.int64))
        starts = np.r_[0, np.flatnonzero(np.diff(okeys)) + 1]
        group_start = np.repeat(starts, np.diff(np.r_[starts, n_l]))
        qty = r.integers(1, 51, n_l).astype(np.float64)
        out["lineitem"] = pa.table({
            "l_orderkey": okeys,
            "l_partkey": r.integers(0, n_p, n_l, dtype=np.int64),
            "l_suppkey": r.integers(0, n_s, n_l, dtype=np.int64),
            "l_linenumber": (np.arange(n_l) - group_start + 1)
            .astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * r.uniform(900, 2000, n_l), 2),
            "l_discount": r.integers(0, 11, n_l) / 100,
            "l_tax": r.integers(0, 9, n_l) / 100,
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_l)],
            "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_l)],
            "l_shipdate": _EPOCH_1995 + r.integers(0, 2500, n_l)
            * np.timedelta64(1, "D"),
        })
    if "events" in wanted:
        r = rng("events")
        n_e = sizes["events"]
        out["events"] = pa.table({
            "event_id": np.arange(n_e, dtype=np.int64),
            "ts": _EPOCH_2024 + np.sort(
                r.integers(0, 30 * _US_PER_DAY, n_e)
            ).astype("timedelta64[us]"),
            "user_id": r.integers(0, n_c, n_e, dtype=np.int64),
            "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_e)],
            "value": np.round(r.exponential(50.0, n_e), 2),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_e)],
        })
    if "documents" in wanted:
        r = rng("documents")
        n_d = sizes["documents"]
        texts = _document_texts(r, n_d)
        out["documents"] = pa.table({
            "doc_id": np.arange(n_d, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[r.choice(len(LANGS), n_d, p=LANG_P)],
            "source": [f"src{k % N_SOURCES}" for k in range(n_d)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        })
    if "embeddings" in wanted:
        r = rng("embeddings")
        n_v = sizes["embeddings"]
        vecs = r.standard_normal((n_v, DIMS)).astype(np.float32)
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        out["embeddings"] = pa.table({
            "vec_id": np.arange(n_v, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.ravel()), DIMS
            ).cast(pa.list_(pa.float32())),
            "label": r.integers(0, 10, n_v, dtype=np.int32),
        })
    return {name: out[name] for name in sizes if name in out}


def write_tables(out_dir: str, seed: int, sf: float,
                 names: tuple[str, ...] | None = None) -> dict[str, int]:
    """Write <table>.parquet files; returns {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in make_tables(seed, sf, names).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


# ---------------------------------------------------------------------------
# MySQL general query log
# ---------------------------------------------------------------------------

def _select(rng, sizes) -> str:
    table = ("customer", "supplier", "part", "orders", "lineitem",
             "nation")[rng.integers(0, 6)]
    key = {"customer": "c_custkey", "supplier": "s_suppkey",
           "part": "p_partkey", "orders": "o_orderkey",
           "lineitem": "l_orderkey", "nation": "n_nationkey"}[table]
    hi = sizes.get(table, N_NATIONS)
    return (f"SELECT * FROM {table} WHERE {key} = "
            f"{int(rng.integers(0, hi))}")


def _join(rng, sizes) -> str:
    shape = int(rng.integers(0, 3))
    if shape == 0:
        return ("SELECT o.o_orderkey, SUM(l.l_extendedprice) FROM orders o "
                "JOIN lineitem l ON l.l_orderkey = o.o_orderkey WHERE "
                f"o.o_custkey = {int(rng.integers(0, sizes['customer']))} "
                "GROUP BY o.o_orderkey")
    if shape == 1:
        return ("SELECT c.c_name, o.o_totalprice FROM customer c JOIN orders "
                "o ON o.o_custkey = c.c_custkey WHERE c.c_nationkey = "
                f"{int(rng.integers(0, N_NATIONS))}")
    return ("SELECT s.s_name, l.l_quantity FROM supplier s JOIN lineitem l "
            "ON l.l_suppkey = s.s_suppkey WHERE l.l_orderkey = "
            f"{int(rng.integers(0, sizes['orders']))}")


def _write(rng, sizes) -> str:
    shape = int(rng.integers(0, 4))
    okey = int(rng.integers(0, sizes["orders"]))
    if shape == 0:
        return ("INSERT INTO lineitem (l_orderkey, l_partkey, l_suppkey, "
                "l_linenumber, l_quantity) VALUES "
                f"({okey}, {int(rng.integers(0, sizes['part']))}, "
                f"{int(rng.integers(0, sizes['supplier']))}, 99, "
                f"{int(rng.integers(1, 51))})")
    if shape == 1:
        return (f"UPDATE lineitem SET l_quantity = {int(rng.integers(1, 51))}"
                f" WHERE l_orderkey = {okey}")
    if shape == 2:
        return ("UPDATE orders SET o_orderstatus = 'F' WHERE o_orderkey = "
                f"{okey}")
    return f"DELETE FROM lineitem WHERE l_orderkey = {okey} AND l_linenumber = 99"


def mysql_general_log(seed: int, entries: int, sizes: dict[str, int]) -> tuple[str, dict]:
    """A MySQL general log of `entries` entries in the format the workload
    analyzer parses. The write share (25-35%) and join share (10-20%) of the
    Query entries are drawn from the seed; about one entry in twenty is a
    Connect/Quit/Init DB entry, which the analyzer must skip. Writes go to
    lineitem and orders only. Returns (text, {queries, writes, joins})."""
    rng = np.random.default_rng(seed)
    write_share = float(rng.uniform(0.25, 0.35))
    join_share = float(rng.uniform(0.10, 0.20))
    day = dt.datetime(2023, 10, 16)
    lines = [
        "/usr/sbin/mysqld, Version: 8.0.34 (MySQL Community Server - GPL). "
        "started with:",
        "Tcp port: 3306  Unix socket: /var/run/mysqld/mysqld.sock",
        "Time                 Id Command    Argument",
    ]
    stats = {"queries": 0, "writes": 0, "joins": 0}
    draws = rng.random(entries)
    kinds = rng.random(entries)
    for i in range(entries):
        stamp = (day + dt.timedelta(seconds=i // 10)).strftime("%y%m%d %H:%M:%S")
        conn = 10 + i % 37
        if draws[i] < 0.05:
            cmd = ("Connect", "Quit", "Init DB")[i % 3]
            arg = {"Connect": "app@localhost on tpch using TCP/IP",
                   "Quit": "", "Init DB": "tpch"}[cmd]
            lines.append(f"{stamp}\t{conn:>5} {cmd}\t{arg}")
            continue
        if kinds[i] < write_share:
            body = _write(rng, sizes)
            stats["writes"] += 1
        elif kinds[i] < write_share + join_share:
            body = _join(rng, sizes)
            stats["joins"] += 1
        else:
            body = _select(rng, sizes)
        stats["queries"] += 1
        lines.append(f"{stamp}\t{conn:>5} Query\t{body}")
    return "\n".join(lines) + "\n", stats


# ---------------------------------------------------------------------------
# mysqldump-style dump
# ---------------------------------------------------------------------------

def _sql_type(arrow_type: pa.DataType) -> str:
    if pa.types.is_integer(arrow_type):
        return "BIGINT" if arrow_type.bit_width == 64 else "INT"
    if pa.types.is_floating(arrow_type):
        return "DECIMAL(15,2)"
    if pa.types.is_timestamp(arrow_type):
        return "DATE"
    return "VARCHAR(64)"


def _sql_literal(value) -> str:
    if value is None:
        return "NULL"
    if isinstance(value, (int, np.integer)):
        return str(int(value))
    if isinstance(value, float):
        return repr(value)
    if isinstance(value, dt.datetime):
        return f"'{value.date().isoformat()}'"
    return "'" + str(value).replace("\\", "\\\\").replace("'", "\\'") + "'"


def mysqldump(seed: int, sf: float, rows_per_insert: int = 500) -> tuple[str, dict[str, int]]:
    """A mysqldump-style dump of the seven TPC-H tables at scale sf:
    DROP/CREATE TABLE with PRIMARY KEY and FOREIGN KEY constraints, then
    multi-row INSERTs inside LOCK TABLES. Returns (text, {table: rows})."""
    tables = make_tables(seed, sf, TPCH_TABLES)
    out = [
        "-- MySQL dump 10.13  Distrib 8.0.34, for Linux (x86_64)",
        "--",
        "-- Host: localhost    Database: tpch",
        "-- ------------------------------------------------------",
        "/*!40101 SET NAMES utf8mb4 */;",
        "SET FOREIGN_KEY_CHECKS=0;",
        "CREATE DATABASE IF NOT EXISTS `tpch`;",
        "USE `tpch`;",
    ]
    for name in TPCH_TABLES:
        table = tables[name]
        # DATE columns stay bare: the importer types a column DATE only
        # when nothing follows the type name.
        defs = [f"  `{f.name}` {_sql_type(f.type)}"
                + ("" if _sql_type(f.type) == "DATE" else " NOT NULL")
                for f in table.schema]
        defs.append("  PRIMARY KEY (" + ", ".join(
            f"`{c}`" for c in DUMP_PRIMARY_KEYS[name]) + ")")
        for i, (col, ref, refcol) in enumerate(DUMP_FOREIGN_KEYS.get(name, ())):
            defs.append(f"  CONSTRAINT `fk_{name}_{i}` FOREIGN KEY (`{col}`)"
                        f" REFERENCES `{ref}` (`{refcol}`)")
        out += [
            "",
            f"-- Table structure for table `{name}`",
            f"DROP TABLE IF EXISTS `{name}`;",
            f"CREATE TABLE `{name}` (",
            ",\n".join(defs),
            ") ENGINE=InnoDB DEFAULT CHARSET=utf8mb4;",
            f"LOCK TABLES `{name}` WRITE;",
        ]
        rows = table.to_pylist()
        for start in range(0, len(rows), rows_per_insert):
            tuples = ",".join(
                "(" + ",".join(_sql_literal(v) for v in row.values()) + ")"
                for row in rows[start:start + rows_per_insert]
            )
            out.append(f"INSERT INTO `{name}` VALUES {tuples};")
        out.append("UNLOCK TABLES;")
    out.append("SET FOREIGN_KEY_CHECKS=1;")
    out.append("-- Dump completed")
    return "\n".join(out) + "\n", {n: t.num_rows for n, t in tables.items()}
