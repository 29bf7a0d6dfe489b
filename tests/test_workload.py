"""The plain-Python workload analyzer against a Spark reference.

The reference is the log tokenizer as Spark built-ins (Java regex
`split`, `regexp_extract`, `regexp_replace`, `trim`, `lower`, `rlike`)
over the unchanged regex constants of workload.py, with
`extract_table_refs` for the refs and a Spark split + groupBy for the
counts. A case table pins the refs the SQL lexer reads in each dialect. Where Java and Python regex semantics differ (line terminators,
`\\s`, `\\b`, trim), the reference decides.
"""

import os
import sys

import pytest
from pyspark.sql import functions as F

from relational_to_doc_oriented_nosql_migrator_spark import workload as W
from relational_to_doc_oriented_nosql_migrator_spark.functions.sqlparse import (
    extract_table_refs,
)
from relational_to_doc_oriented_nosql_migrator_spark.operators.workload_ops import (
    MYSQL_LOG,
    PG_LOG,
)
from relational_to_doc_oriented_nosql_migrator_spark.plans.catalog import (
    Catalog,
    TableMeta,
)

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "perfbench"))
import gen  # noqa: E402

_TOKENIZER = {
    "mysql": (W.MYSQL_ENTRY_SPLIT, W.MYSQL_ENTRY_RE, 2),
    "postgres": (W.PG_ENTRY_SPLIT, W.PG_ENTRY_RE, 1),
}


def spark_statements(spark, log: str, dialect: str) -> list[str]:
    split_re, entry_re, body_group = _TOKENIZER[dialect]
    entries = spark.createDataFrame([(log,)], "value string").select(
        F.posexplode(F.split("value", split_re)).alias("pos", "entry"))
    if dialect == "mysql":
        entries = entries.filter(
            F.regexp_extract("entry", entry_re, 1) == "Query")
    stmts = entries.select(
        "pos",
        F.trim(F.regexp_replace(
            F.regexp_extract("entry", entry_re, body_group), r"\s+", " "
        )).alias("stmt"),
    ).filter(F.lower("stmt").rlike(W.STATEMENT_HEAD_RE))
    return [r["stmt"] for r in stmts.orderBy("pos").collect()]


def spark_access_counts(spark, stmts: list[str], dialect: str) -> dict:
    refs = [(ref,) for s in stmts for ref in extract_table_refs(s, dialect)]
    parts = F.split("ref", "::")
    counted = (
        spark.createDataFrame(refs, "ref string")
        .select(parts.getItem(0).alias("op"),
                parts.getItem(2).alias("table_name"))
        .filter(F.col("op").isin(*W.DML_OPS))
        .groupBy("table_name")
        .agg(F.count(F.lit(1)).alias("accesses"),
             F.count(F.when(F.col("op") != "select", 1)).alias("writes"))
    )
    return {r["table_name"]: (r["accesses"], r["writes"])
            for r in counted.collect()}


def _mysql(sep: str, bodies: list[str]) -> str:
    return sep.join(f"240807 10:15:{i:02d}\t   4{i % 10} Query\t{b}"
                    for i, b in enumerate(bodies)) + sep


def _pg(sep: str, bodies: list[str]) -> str:
    return sep.join(f"2024-08-07 10:15:{i:02d}.101 +07 [42{i}] LOG:  "
                    f"statement: {b}" for i, b in enumerate(bodies)) + sep


# Entry stamps beyond the reference's (an extension): MySQL 8's ISO
# stamps, pg `%t` (no milliseconds), and pg zones other than `+hh`.
_STAMPS = {
    "mysql": {
        "mysql8_utc": "2024-01-01T10:00:{i:02d}.123456Z\t   1{i} Query\t",
        "mysql8_offset":
            "2024-01-01T10:00:{i:02d}.123456+07:00\t   1{i} Query\t",
    },
    "postgres": {
        "pg_zone_utc": "2024-01-01 10:00:{i:02d}.123 UTC [42{i}] LOG:  "
                       "statement: ",
        "pg_zone_minus05": "2024-01-01 10:00:{i:02d}.123 -05 [42{i}] LOG:  "
                           "statement: ",
        "pg_zone_plus0530": "2024-01-01 10:00:{i:02d}.123 +05:30 [42{i}] "
                            "LOG:  statement: ",
        "pg_no_millis": "2024-01-01 10:00:{i:02d} UTC [42{i}] STATEMENT:  ",
    },
}


def _stamped(stamp: str, bodies: list[str]) -> str:
    return "".join(stamp.format(i=i) + b + "\n" for i, b in enumerate(bodies))


_BODIES = [
    "SELECT * FROM orders WHERE o_custkey = 7",
    "UPDATE lineitem SET l_quantity = 3 WHERE l_orderkey = 1",
    "select c_name from customer, nation where c_nationkey = n_nationkey",
    "DELETE FROM orders WHERE o_orderkey = 9",
]
_HEADS = [
    "select\u00b2 FROM orders",
    "select\u00e4 FROM orders",
    "select\u0301 FROM orders",
    "select_x FROM orders",
    "SELECT\u00a0* FROM orders",
    "\u0130NSERT INTO orders VALUES (1)",
    "insert\u0130 INTO orders VALUES (1)",
    "UPDATE\u2028orders SET o_orderstatus = 'F'",
    "create table t (x int)",
]
_SEPARATORS = {"crlf": "\r\n", "cr": "\r", "u2028": "\u2028",
               "u2029": "\u2029", "nel": "\u0085", "nbsp": "\u00a0",
               "vt": "\x0b", "fs": "\x1c"}

LOGS = {
    "fixture_mysql": ("mysql", MYSQL_LOG),
    "fixture_pg": ("postgres", PG_LOG),
    **{f"gen_seed{seed}": ("mysql", gen.mysql_general_log(
        seed, 5_000, gen.table_sizes(0.02))[0]) for seed in (7, 101)},
    **{f"mysql_sep_{name}": ("mysql", _mysql(sep, _BODIES))
       for name, sep in _SEPARATORS.items()},
    **{f"pg_sep_{name}": ("postgres", _pg(sep, _BODIES))
       for name, sep in _SEPARATORS.items()},
    "mysql_body_whitespace": ("mysql", _mysql("\n", [
        "SELECT\x0b*\x0bFROM\x1corders", "\x0cSELECT * FROM part\x0c",
        "\u00a0SELECT * FROM part", "SELECT * FROM\u00a0orders \x0b",
        "UPDATE orders\r\n\tSET o_orderstatus = 'F'\r\n\tWHERE o_orderkey = 1",
    ])),
    "mysql_heads": ("mysql", _mysql("\n", _HEADS)),
    "pg_heads": ("postgres", _pg("\n", _HEADS)),
    "mysql_multiline": ("mysql", _mysql("\n", [
        "SELECT *\nFROM orders\n\tJOIN lineitem ON l_orderkey = o_orderkey",
        "SELECT '240807 10:15:22 x' FROM part",
        "UPDATE orders SET o_comment = 'a\n240807 10:15:22\t9 Query\t"
        "DELETE FROM lineitem'",
        "INSERT INTO lineitem VALUES (1)\n\n\n",
    ])),
    "empty": ("mysql", ""),
    "empty_pg": ("postgres", ""),
    "no_query_entries": ("mysql",
                         "/usr/sbin/mysqld, Version: 5.7.44. started with:\n"
                         "240807 10:15:22\t   42 Connect\troot@localhost\n"
                         "240807 10:15:23\t   42 Init DB\ttpch\n"
                         "240807 10:15:24\t   42 Quit\t\n"),
    **{name: (dialect, _stamped(stamp, _BODIES))
       for dialect, stamps in _STAMPS.items()
       for name, stamp in stamps.items()},
    "no_statement_entries_pg": ("postgres",
                                "2024-08-07 10:15:25.404 +07 [4243] LOG:  "
                                "duration: 1.2 ms\n"),
}


@pytest.mark.parametrize("name", sorted(LOGS))
def test_python_core_matches_spark_reference(name, spark):
    dialect, log = LOGS[name]
    expected = spark_statements(spark, log, dialect)
    stmts = W.statements(log, dialect)
    assert stmts == expected
    assert W.access_counts(stmts, dialect) == spark_access_counts(
        spark, expected, dialect)


def test_generated_log_keeps_every_query():
    """The generator's own tallies, seeds 1-10: every Query entry is
    kept, each join shape names two tables and every other query one,
    and the writes are the write entries."""
    for seed in range(1, 11):
        log, stats = gen.mysql_general_log(seed, 2_000,
                                           gen.table_sizes(0.02))
        stmts = W.statements(log, "mysql")
        assert len(stmts) == stats["queries"], seed
        counts = W.access_counts(stmts, "mysql").values()
        assert sum(n for n, _ in counts) == (
            stats["queries"] + stats["joins"]), seed
        assert sum(w for _, w in counts) == stats["writes"], seed


def test_apply_workload_weights_by_row_count():
    catalog = Catalog([TableMeta("orders", 10), TableMeta("lineitem", 100),
                       TableMeta("unused", 5)])
    counts = W.apply_workload(catalog, MYSQL_LOG, "mysql")
    # orders: 2 selects + 2 updates; lineitem: 1 insert, 1 delete, 1 join
    assert (catalog.tables["orders"].gaf, catalog.tables["orders"].uaf) == (
        40, 20)
    assert (catalog.tables["lineitem"].gaf,
            catalog.tables["lineitem"].uaf) == (300, 200)
    assert (catalog.tables["unused"].gaf, catalog.tables["unused"].uaf) == (
        0, 0)
    # customer 1, nation 2, part 1, supplier 1, region 1
    assert counts == {"statements": 11, "unmatched_refs": 6}


def test_apply_workload_reports_refs_to_no_catalog_table():
    """MYSQL_LOG against a catalog without supplier: one DML ref
    matches no table."""
    names = ("region", "nation", "customer", "part", "orders", "lineitem")
    catalog = Catalog([TableMeta(n, 1) for n in names])
    assert W.apply_workload(catalog, MYSQL_LOG, "mysql") == {
        "statements": 11, "unmatched_refs": 1}
    assert W.apply_workload(Catalog([]), "", "mysql") == {
        "statements": 0, "unmatched_refs": 0}


def test_unknown_dialect_is_refused():
    with pytest.raises(ValueError, match="unknown dialect"):
        W.statements(MYSQL_LOG, "postgresql")


@pytest.mark.parametrize("name", [n for stamps in _STAMPS.values()
                                  for n in stamps])
def test_wider_entry_stamps_keep_every_statement(name):
    dialect, log = LOGS[name]
    assert W.statements(log, dialect) == _BODIES


# statement -> (mysql refs, postgres refs); a single list is both.
_REF_CASES = {
    "SELECT * FROM orders o, customer c WHERE o.o_custkey = c.c_custkey":
        ["select::null::orders", "select::null::customer"],
    "SELECT * FROM orders AS o, customer AS c":
        ["select::null::orders", "select::null::customer"],
    "SELECT * FROM t WHERE note = 'from x join y'": ["select::null::t"],
    "SELECT * FROM t -- from z": ["select::null::t"],
    "SELECT * FROM t /* join z */ WHERE a = 1": ["select::null::t"],
    "SELECT EXTRACT(YEAR FROM o_orderdate) FROM orders":
        ["select::null::orders"],
    "SELECT SUBSTRING(c_name FROM 2 FOR 3), TRIM(LEADING 'x' FROM c_name),"
    " POSITION('a' IN c_name) FROM customer": ["select::null::customer"],
    "SELECT EXTRACT(DAY FROM DATE(o_orderdate)) FROM orders":
        ["select::null::orders"],
    "SELECT * FROM `order`": (["select::null::order"], []),
    'SELECT * FROM "order"': ([], ["select::null::order"]),
    "SELECT * FROM a STRAIGHT_JOIN b": ["select::null::a", "select::null::b"],
    "SELECT * FROM t WHERE p = 'C:\\' OR q = ' from x'":
        (["select::null::t", "select::null::x"], ["select::null::t"]),
    "SELECT * FROM t WHERE p = E'\\' from x'": ["select::null::t"],
    "SELECT * FROM t WHERE p = '\\' from x'":
        (["select::null::t"], ["select::null::t", "select::null::x"]),
    # a string in MySQL, a name in Postgres: one token in both
    "SELECT * FROM t WHERE p = \"from x\"": ["select::null::t"],
    "INSERT INTO lineitem (a, b) VALUES (1, 'from q')":
        ["insert::null::lineitem"],
    "UPDATE orders o, customer c SET o.x = c.y":
        ["update::null::orders", "update::null::customer"],
    "SELECT * FROM generate_series(1, 3)": [],
    # multi-table writes, qualifiers, subqueries and non-tables
    "UPDATE a JOIN b ON a.id = b.id SET a.x = 1":
        ["update::null::a", "update::null::b"],
    "DELETE a FROM a JOIN b ON a.id = b.id":
        ["delete::null::a", "delete::null::b"],
    "SELECT * FROM db.t": ["select::db::t"],
    "CREATE TABLE IF NOT EXISTS tmp (x INT)": ["create::null::tmp"],
    "SELECT * FROM (SELECT * FROM x) y WHERE 1": ["select::null::x"],
    # a derived table in a comma list: the list goes on after it
    "SELECT * FROM (SELECT * FROM x) y, z":
        ["select::null::x", "select::null::z"],
    "SELECT * FROM a, (SELECT 1) t, b": ["select::null::a", "select::null::b"],
    "SELECT * FROM a, (SELECT * FROM (SELECT * FROM x) i) AS t JOIN b ON 1":
        ["select::null::a", "select::null::x", "select::null::b"],
    "SELECT 1 FROM dual": [],
    "GRANT ALL ON db TO root": [],
}


@pytest.mark.parametrize("dialect", W.DIALECTS)
@pytest.mark.parametrize("stmt", list(_REF_CASES))
def test_refs_are_read_from_the_lexers_tokens(stmt, dialect):
    want = _REF_CASES[stmt]
    if isinstance(want, tuple):
        want = want[W.DIALECTS.index(dialect)]
    assert extract_table_refs(stmt, dialect) == want
