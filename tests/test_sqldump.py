"""SQL-dump import (`src_sql_dump_import`): parsing, sanitization parity,
catalog metadata, and end-to-end migration from dump input."""

import pytest

from relational_to_doc_oriented_nosql_migrator_spark.operators.relational import (
    DUMP_FIXTURE,
)
from relational_to_doc_oriented_nosql_migrator_spark.plans import (
    convert_schema,
)
from relational_to_doc_oriented_nosql_migrator_spark.plans.nesting import (
    materialize,
)
from relational_to_doc_oriented_nosql_migrator_spark.sources.sqldump import (
    import_sql_dump,
)


def test_dump_tables_and_values(spark):
    db, tables, catalog = import_sql_dump(spark, DUMP_FIXTURE)
    assert db == "northlite"  # from USE, not the fallback
    assert set(tables) == {"dept", "employee"}
    dept = {r["id"]: r for r in tables["dept"].collect()}
    assert dept[1]["budget"] == 100.50
    assert dept[3]["budget"] is None and dept[3]["est"] is None
    assert str(dept[2]["est"]) == "2024-03-04"
    assert tables["employee"].count() == 3


def test_dump_catalog_metadata(spark):
    _, _, catalog = import_sql_dump(spark, DUMP_FIXTURE)
    dept = catalog.get_table("dept")
    emp = catalog.get_table("employee")
    assert dept.primary_keys == ["id"]          # inline PRIMARY KEY
    assert emp.primary_keys == ["emp_id"]       # constraint PRIMARY KEY
    assert [(fk.column, fk.referenced_table, fk.referenced_column)
            for fk in emp.foreign_keys] == [("dept_id", "dept", "id")]
    assert dept.is_referenced and dept.referencing_tables == ["employee"]
    assert dept.num_rows == 3 and emp.num_rows == 3


def test_dump_sanitization(spark):
    """DROP/CREATE DATABASE and comment/meta lines never become tables."""
    dump = """\\c somedb
DROP DATABASE x;
CREATE DATABASE y;
CREATE TABLE t (a INT);
INSERT INTO t VALUES (7);
"""
    db, tables, _ = import_sql_dump(spark, dump, default_db="fallback")
    assert db == "fallback"
    assert set(tables) == {"t"}
    assert tables["t"].collect()[0]["a"] == 7


def test_dump_drives_full_migration(spark):
    """The dump-derived catalog feeds the planner/materializer unchanged:
    employee (1 FK, idle workload) one-way-embeds into dept."""
    _, tables, catalog = import_sql_dump(spark, DUMP_FIXTURE)
    plan = convert_schema(catalog)
    collections = materialize(tables, catalog, plan)
    assert set(collections) == {"dept"}
    docs = {r["id"]: r for r in collections["dept"].collect()}
    # dept 1 embeds its two employees; the child FK column is dropped.
    emb = sorted(e["emp_name"] for e in docs[1]["employee"])
    assert emb == ["ada", "alan"]
    assert "dept_id" not in docs[1]["employee"][0].asDict()


PG_COPY_DUMP = """\\c pgdb
SET statement_timeout = 0;
CREATE TABLE dept (
  id INT,
  name VARCHAR(50),
  budget NUMERIC(10,2),
  est DATE,
  PRIMARY KEY (id)
);
CREATE TABLE employee (
  emp_id INT PRIMARY KEY,
  dept_id INT,
  emp_name VARCHAR(80),
  hired TIMESTAMP,
  active BOOLEAN,
  FOREIGN KEY (dept_id) REFERENCES dept (id)
);
COPY dept (id, name, budget, est) FROM stdin;
1\teng\t100.50\t2024-01-02
2\tops\t20.25\t2024-03-04
3\thr\t\\N\t\\N
\\.
COPY employee FROM stdin;
10\t1\tada\t2024-01-02 10:00:00\tt
11\t1\talan lo\\\\vell\t2024-02-03 11:30:00\tf
12\t2\trosa\t\\N\tt
\\.
"""


def test_pg_copy_blocks(spark):
    """pg_dump COPY ... FROM stdin data blocks: tab framing, \\N nulls,
    backslash escapes, with and without an explicit column list."""
    db, tables, catalog = import_sql_dump(spark, PG_COPY_DUMP,
                                          default_db="pgdb")
    dept = {r["id"]: r for r in tables["dept"].collect()}
    assert dept[1]["budget"] == 100.50 and str(dept[2]["est"]) == "2024-03-04"
    assert dept[3]["budget"] is None and dept[3]["est"] is None
    emp = {r["emp_id"]: r for r in tables["employee"].collect()}
    assert emp[11]["emp_name"] == "alan lo\\vell"   # unescaped backslash
    assert emp[10]["active"] is True and emp[11]["active"] is False
    assert str(emp[10]["hired"]).startswith("2024-01-02 10:00:00")
    assert emp[12]["hired"] is None
    assert catalog.get_table("dept").num_rows == 3
    assert [(fk.column, fk.referenced_table)
            for fk in catalog.get_table("employee").foreign_keys] == [
        ("dept_id", "dept")
    ]


def test_pg_copy_drives_full_migration(spark):
    from relational_to_doc_oriented_nosql_migrator_spark.engine import (
        migrate_from_dump,
    )

    out, _catalog, _plan = migrate_from_dump(spark, PG_COPY_DUMP)
    docs = {r["id"]: r.asDict(recursive=True) for r in out["dept"].collect()}
    assert {e["emp_name"] for e in docs[1]["employee"]} == {
        "ada", "alan lo\\vell"
    }


def test_escaped_quotes_with_separators_inside_strings(spark):
    """mysqldump backslash escapes: \\' inside a literal must not close the
    quote, so ';' and ',' inside the string never split the statement or
    the VALUES tuple."""
    dump = r"""CREATE TABLE t (a INT, b VARCHAR(100), c VARCHAR(100));
INSERT INTO t VALUES (1, 'it\'s; tricky', 'x'), (2, 'a\'b, c\'d', 'y\\');
INSERT INTO t VALUES (3, 'plain', 'z');
"""
    _, tables, _ = import_sql_dump(spark, dump)
    rows = {r["a"]: r for r in tables["t"].collect()}
    assert rows[1]["b"] == "it's; tricky" and rows[1]["c"] == "x"
    assert rows[2]["b"] == "a'b, c'd" and rows[2]["c"] == "y\\"
    assert rows[3]["b"] == "plain"


def test_timestamp_offsets_come_out_as_utc(spark):
    """A pg `timestamptz` value carries its offset: `07:30+07` in an
    INSERT literal or a COPY line is 00:30 UTC, not 07:30."""
    dump = """CREATE TABLE ev (id INT, at TIMESTAMP);
INSERT INTO ev VALUES (1, '2024-01-01 07:30:00+07');
COPY ev (id, at) FROM stdin;
2\t2024-01-01 07:30:00+07
\\.
"""
    _, tables, _ = import_sql_dump(spark, dump)
    got = tables["ev"].selectExpr("id", "CAST(at AS STRING) AS at")
    assert sorted(tuple(r) for r in got.collect()) == [
        (1, "2024-01-01 00:30:00"), (2, "2024-01-01 00:30:00"),
    ]


def test_dump_timestamps_ignore_the_host_time_zone(tmp_path):
    """A naive dump timestamp is UTC (as on the parquet path) whatever
    time zone the driver host is in."""
    import os
    import subprocess
    import sys

    code = (
        "from relational_to_doc_oriented_nosql_migrator_spark.session "
        "import get_spark\n"
        "from relational_to_doc_oriented_nosql_migrator_spark.sources."
        "sqldump import import_sql_dump\n"
        "spark = get_spark(master='local[1]')\n"
        "dump = ('CREATE TABLE ev (id INT, at DATETIME);\\n'\n"
        "        \"INSERT INTO ev VALUES (1, '2024-01-01 00:30:00');\\n\"\n"
        "        'COPY ev (id, at) FROM stdin;\\n'\n"
        "        '2\\t2024-01-01 07:30:00+07\\n\\\\.\\n')\n"
        "_, tables, _ = import_sql_dump(spark, dump)\n"
        "print(sorted(tuple(r) for r in tables['ev'].selectExpr("
        "'id', 'CAST(at AS STRING)').collect()))\n"
        "spark.stop()\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "TZ": "Asia/Bangkok",
           "SPARK_GRAFT_DRIVER_MEM": "512m",
           "SPARK_LOCAL_DIRS": str(tmp_path)}
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, check=True, cwd=str(tmp_path), env={
                             **env, "PYTHONPATH": repo},
                         timeout=300).stdout
    assert out.strip().splitlines()[-1] == (
        "[(1, '2024-01-01 00:30:00'), (2, '2024-01-01 00:30:00')]")


EDGE_DUMP = r"""CREATE TABLE edge (
  id INT PRIMARY KEY,
  flag BOOLEAN,
  note VARCHAR(60),
  nothing VARCHAR(10),
  d DATE,
  ts DATETIME,
  amount DOUBLE
);
INSERT INTO edge VALUES
  (1, 1, 'it\'s ''quoted'', ok', NULL, '2024-02-29', '2024-01-01 00:30:00', 1.5),
  (2, 0, 'Zürich — 東京 ✓', NULL, NULL, NULL, NULL),
  (3, TRUE, 'back\\slash', NULL, '1999-12-31', '1999-12-31 23:59:59.123456', -0.25),
  (4, NULL, '', NULL, NULL, '2024-06-01 12:00:00', 1e300);
CREATE TABLE empty_t (a INT, b VARCHAR(5), c TIMESTAMP, e BOOLEAN);
"""


# mysqldump escapes, as the MySQL server reads them: \% and \_ stay two
# characters, an unknown escape drops its backslash.
MYSQL_ESCAPE_DUMP = r"""CREATE TABLE esc (id INT PRIMARY KEY, s VARCHAR(60));
INSERT INTO esc VALUES (1, 'a\nb\tc'), (2, 'say \"hi\"'), (3, 'nul\0 sub\Z'),
  (4, 'back\\slash \'q\' ''d'''), (5, '50\% off'), (6, '\q');
"""

# pg COPY text escapes: `\t` is a TAB, `\\t` a backslash then t, and `\\N`
# the two characters \N where a bare `\N` is NULL.
PG_ESCAPE_DUMP = r"""CREATE TABLE esc (id INT PRIMARY KEY, s VARCHAR(60), t VARCHAR(60));
COPY esc (id, s, t) FROM stdin;
1|a\tb|c\\td
2|\\N|\N
\.
""".replace("|", "\t")


def test_escapes_decode_as_the_server_reads_them(spark):
    mysql = import_sql_dump(spark, MYSQL_ESCAPE_DUMP)[1]["esc"]
    assert {r["id"]: r["s"] for r in mysql.collect()} == {
        1: "a\nb\tc",
        2: 'say "hi"',
        3: "nul\x00 sub\x1a",
        4: "back\\slash 'q' 'd'",
        5: "50\\% off",
        6: "q",
    }
    pg = import_sql_dump(spark, PG_ESCAPE_DUMP)[1]["esc"]
    assert {r["id"]: (r["s"], r["t"]) for r in pg.collect()} == {
        1: ("a\tb", "c\\td"),
        2: ("\\N", None),
    }


# What mysqldump 8.0 writes beyond plain INSERTs: --insert-ignore and
# --replace rows, `_binary` introducers on BLOB values, and zero dates.
MYSQLDUMP8_DUMP = r"""CREATE TABLE blob_t (
  id INT NOT NULL,
  data BLOB,
  made DATE,
  seen DATETIME,
  PRIMARY KEY (id)
);
INSERT IGNORE INTO blob_t VALUES (1,_binary 'ab','0000-00-00',NULL),
  (2,_binary'c\'d',NULL,'0000-00-00 00:00:00');
REPLACE INTO blob_t (id, data, seen) VALUES
  (3,_utf8mb4 'x\\y','2024-01-02 03:04:05'),(4,NULL,'0000-00-00 00:00:00');
INSERT INTO blob_t VALUES (5,'plain','2024-02-29','2024-02-29 12:00:00');
"""


# Comments wherever the servers skip them (quotes and ';' inside them
# included), CRLF and lone-CR line ends, and raw line separators inside
# literals and COPY fields: mysqldump and pg_dump write them all raw but
# \n and \r.
COMMENTS_DUMP = (
    "/* leading */ CREATE TABLE dept (\r\n"
    "  id INT PRIMARY KEY, -- the key, don't (drop) it\r\n"
    "  name VARCHAR(40) /* a name; */,\r\n"
    "  est date DEFAULT NULL\r\n"
    "); -- a trailing comment with a ' quote\r\n"
    "CREATE TABLE emp (\n"
    "  emp_id INT PRIMARY KEY,\n"
    "  dept_id INT,\n"
    "  note TEXT,\n"
    "  FOREIGN KEY (dept_id) REFERENCES dept (id)\n"
    ");\n"
    "INSERT INTO dept VALUES (1,'a\u2028b\u2029c','2024-01-02'),\n"
    "-- between tuples, don't split\n"
    "(2,'d\x85e\x0bf\x0cg\x1ch\x1di\x1ej\rk\r\nl',NULL);\n"
    "COPY emp (emp_id, dept_id, note) FROM stdin;\r\n"
    "10\t1\tx\u2028y\x0cz\x1e\r\n"
    "11\t2\t-- not a comment\r"
    "12\t2\t\\\\c not meta\n"
    "\\.\n"
    "INSERT INTO emp VALUES (13, 1, 'p\n-- q\n\\\\r s');\n"
)


# Comments between the words of a statement head, and backtick- or
# double-quoted names holding ';', ',' or ')' (a doubled quote inside a
# name is one quote); mysqldump writes `/*!32312 IF NOT EXISTS*/`.
HEADS_DUMP = """CREATE TABLE `a;b` (
  `i)d` INT NOT NULL,
  `na,me` VARCHAR(40),
  PRIMARY KEY (`i)d`)
);
CREATE /* t */ TABLE /*!32312 IF NOT EXISTS*/ "c)d" (
  id INT PRIMARY KEY,
  ab_id INT,
  "q""t" TEXT,
  FOREIGN KEY (ab_id) REFERENCES `a;b` (`i)d`)
);
INSERT /* x */ INTO `a;b` VALUES (1,'one'),(2,'two');
INSERT /* x */ IGNORE INTO `a;b` (`i)d`, /* ) */ `na,me`) VALUES (3,'th;ree');
REPLACE -- r
INTO "c)d" VALUES (10,1,'x'),(11,3,NULL);
insert/**/into`c)d`(id,ab_id)values(12,2);
"""

# Names that Spark would read as syntax: a backtick, and a dot (a struct
# field access) in a key, a link, a date, a field and an embedded
# collection's name.
NAMES_DUMP = """CREATE TABLE `p.q` (
  `a.b` INT PRIMARY KEY,
  `q``t` VARCHAR(20),
  `d.t` DATE
);
CREATE TABLE `c``h` (
  id INT PRIMARY KEY,
  `a.b` INT,
  `x.y` VARCHAR(10),
  `q``t` DOUBLE,
  FOREIGN KEY (`a.b`) REFERENCES `p.q` (`a.b`)
);
INSERT INTO `p.q` VALUES (1,'one','2024-01-02'),(2,NULL,NULL),(3,'x',NULL);
INSERT INTO `c``h` VALUES (10,1,'x',1.5),(11,1,NULL,NULL),(12,NULL,'z',2.0),
  (13,3,'w',NULL);
"""

# pg_dump --inserts output: its header turns standard_conforming_strings
# on, after which a '...' literal keeps `\` as data and only E'...'
# unescapes.
PG_STANDARD_DUMP = r"""SET statement_timeout = 0;
SET standard_conforming_strings = on;
CREATE TABLE public.path (id integer NOT NULL, p text, q text,
  PRIMARY KEY (id));
INSERT INTO public.path VALUES (1, 'C:\new', 'C:\dir\');
INSERT INTO public.path VALUES (2, E'tab\there\\', 'it''s; \');
INSERT INTO public.path (id, p) VALUES (3, E'\x41\101\u00e9\'\q');
"""


def _driver_documents(dump: str, **kwargs) -> dict[str, list[str]]:
    """{collection: documents} of the driver-side dump migration."""
    from relational_to_doc_oriented_nosql_migrator_spark.dump_migration import (
        migrate_dump_on_driver,
    )
    from relational_to_doc_oriented_nosql_migrator_spark.plans.documents import (
        build_documents,
    )

    return build_documents(migrate_dump_on_driver(dump, **kwargs)[0])


def _perfbench_gen():
    import os
    import sys

    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "perfbench"))
    import gen

    return gen


def _dump_cases():
    gen = _perfbench_gen()
    return {
        "fixture": DUMP_FIXTURE,
        "pg_copy": PG_COPY_DUMP,
        "perfbench_seed7": gen.mysqldump(7, 0.001)[0],
        "edge": EDGE_DUMP,
        "mysql_escapes": MYSQL_ESCAPE_DUMP,
        "pg_escapes": PG_ESCAPE_DUMP,
        "mysqldump8": MYSQLDUMP8_DUMP,
        "comments": COMMENTS_DUMP,
        "heads": HEADS_DUMP,
        "pg_standard_strings": PG_STANDARD_DUMP,
        "names": NAMES_DUMP,
    }


def test_arrow_tables_match_the_row_path(spark):
    """Differential test against the row path the dump source used
    before (`createDataFrame(rows, schema)`, whose naive timestamps go
    through the host time zone, so it runs under TZ=UTC here): same
    schema, same rows in the same order — and no dump table's plan
    starts a Python worker."""
    import os
    import time

    from relational_to_doc_oriented_nosql_migrator_spark.sources.sqldump import (
        _parse_dump,
    )

    saved = os.environ.get("TZ")
    os.environ["TZ"] = "UTC"
    time.tzset()
    try:
        for case, dump in _dump_cases().items():
            _db, defs = _parse_dump(dump, "db")
            _db, tables, _ = import_sql_dump(spark, dump)
            assert list(tables) == list(defs), case
            for name, tdef in defs.items():
                ref = spark.createDataFrame(list(zip(*tdef.columns)),
                                            tdef.schema)
                got = tables[name]
                assert got.schema == ref.schema, (case, name)
                assert got.collect() == ref.collect(), (case, name)
                lineage = got._jdf.queryExecution().toRdd().toDebugString()
                assert "PythonRDD" not in lineage, (case, name)
    finally:
        if saved is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = saved
        time.tzset()
    edge = import_sql_dump(spark, EDGE_DUMP)[1]
    assert edge["empty_t"].count() == 0
    rows = {r["id"]: r for r in edge["edge"].collect()}
    assert rows[1]["note"] == "it's 'quoted', ok"
    assert rows[2]["note"] == "Zürich — 東京 ✓"
    assert rows[3]["note"] == "back\\slash"
    assert [rows[i]["flag"] for i in (1, 2, 3, 4)] == [True, False, True,
                                                       None]


_FK_TYPE_MISMATCH = """
CREATE TABLE p (
  id VARCHAR(10) NOT NULL,
  PRIMARY KEY (id)
);
CREATE TABLE c (
  cid INT NOT NULL,
  pid INT,
  PRIMARY KEY (cid),
  FOREIGN KEY (pid) REFERENCES p (id)
);
INSERT INTO p VALUES ('1'),('02'),('3');
INSERT INTO c VALUES (10,1),(11,2),(12,3);
"""


def test_fk_type_mismatch_is_rejected_on_both_dump_paths(spark):
    """MySQL and Postgres refuse an FK whose column type differs from
    the referenced column's; both dump entry points fail the same way
    instead of embedding (Spark) or dropping (driver) the child rows."""
    import pytest

    from relational_to_doc_oriented_nosql_migrator_spark.dump_migration import (
        migrate_dump_on_driver,
    )
    from relational_to_doc_oriented_nosql_migrator_spark.engine import (
        migrate_from_dump,
    )

    match = r"table c: foreign key column pid \(bigint\) references p\.id \(string\)"
    with pytest.raises(ValueError, match=match):
        migrate_dump_on_driver(_FK_TYPE_MISMATCH)
    with pytest.raises(ValueError, match=match):
        migrate_from_dump(spark, _FK_TYPE_MISMATCH)


def test_numeric_fk_pairs_are_accepted(spark):
    """An INT column may reference a DECIMAL one: both executors join
    numeric keys by value."""
    from relational_to_doc_oriented_nosql_migrator_spark.engine import (
        migrate_from_dump,
    )

    import json

    dump = _FK_TYPE_MISMATCH.replace("VARCHAR(10)", "DECIMAL(10,0)")
    documents = _driver_documents(dump)
    collections, _catalog, _plan = migrate_from_dump(spark, dump)
    for texts in (documents["p"], collections["p"].toJSON().collect()):
        docs = [json.loads(t) for t in texts]
        assert sorted(len(d["c"]) for d in docs) == [1, 1, 1]


def test_serial_keys_are_integers_that_integer_fks_reference():
    """Postgres SERIAL columns are integers, so an INTEGER column may
    reference one, and their values come out as numbers."""
    import json


    dump = """
CREATE TABLE p (id SERIAL PRIMARY KEY, name TEXT);
CREATE TABLE c (cid BIGSERIAL PRIMARY KEY, pid INTEGER,
  FOREIGN KEY (pid) REFERENCES p (id));
INSERT INTO p VALUES (1,'a');
INSERT INTO c VALUES (7,1);
"""
    documents = _driver_documents(dump)
    assert [json.loads(d) for d in documents["p"]] == [
        {"id": 1, "name": "a", "c": [{"cid": 7}]}
    ]


_WIDTH_TABLE = "CREATE TABLE t (id INT PRIMARY KEY, name VARCHAR(10));\n"


@pytest.mark.parametrize("dump, match", [
    # MySQL ERROR 1136: Column count doesn't match value count at row 2
    (_WIDTH_TABLE + "INSERT INTO t VALUES (1,'a'),(2),(3,'c');\n",
     r"table t: row 2: expected 2 values, found 1"),
    (_WIDTH_TABLE + "INSERT INTO t VALUES (1,'a'),(2,'b'),(3,'c','x');\n",
     r"table t: row 3: expected 2 values, found 3"),
    (_WIDTH_TABLE + "INSERT INTO t (id) VALUES (1),(2,'b');\n",
     r"table t: row 2: expected 1 values, found 2"),
    # pg COPY: "missing data for column" / "extra data after last
    # expected column"
    (_WIDTH_TABLE + "COPY t (id, name) FROM stdin;\n1\ta\n2\n\\.\n",
     r"table t: row 2: expected 2 values, found 1"),
    (_WIDTH_TABLE + "COPY t FROM stdin;\n1\ta\textra\n\\.\n",
     r"table t: row 1: expected 2 values, found 3"),
    (_WIDTH_TABLE + "INSERT INTO t (id, nme) VALUES (1,'a');\n",
     r"table t: unknown column nme"),
    (_WIDTH_TABLE + "COPY t (id, nme) FROM stdin;\n1\ta\n\\.\n",
     r"table t: unknown column nme"),
    # MySQL ERROR 1110: Column 'id' specified twice
    (_WIDTH_TABLE + "INSERT INTO t (id, id) VALUES (1,2);\n",
     r"table t: a column is listed twice"),
    # a comment inside a row is not skipped: it counts as a value
    (_WIDTH_TABLE + "INSERT INTO t VALUES (1,'a'),(2, /* c */ 'b');\n",
     r"table t: row 2: expected 2 values, found 3"),
], ids=["insert_short", "insert_long", "insert_column_list", "copy_short",
        "copy_long", "insert_unknown_column", "copy_unknown_column",
        "insert_repeated_column", "insert_comment_in_row"])
def test_rows_must_match_their_column_list(spark, dump, match):
    """A row whose value count differs from its column list, or a column
    list naming a column the table lacks, raises ValueError on both dump
    paths, as the server loading the dump refuses it."""
    from relational_to_doc_oriented_nosql_migrator_spark.dump_migration import (
        migrate_dump_on_driver,
    )

    with pytest.raises(ValueError, match=match):
        migrate_dump_on_driver(dump)
    with pytest.raises(ValueError, match=match):
        import_sql_dump(spark, dump)


def test_insert_ignore_and_replace_rows_load(spark):
    """mysqldump --insert-ignore and --replace rows load like INSERT rows
    on both dump paths (primary-key duplicates are not modelled)."""

    dump = ("CREATE TABLE t (id INT, PRIMARY KEY (id));\n"
            "INSERT IGNORE INTO t VALUES (1),(2);\n"
            "REPLACE INTO t VALUES (3);\n"
            "insert  ignore  into t (id) values (4);\n")
    documents = _driver_documents(dump)
    assert documents["t"] == [f'{{"id":{i}}}' for i in (1, 2, 3, 4)]
    table = import_sql_dump(spark, dump)[1]["t"]
    assert [r["id"] for r in table.collect()] == [1, 2, 3, 4]


def test_introducers_and_zero_dates(spark):
    """A charset introducer reads as its quoted text, and MySQL's zero
    dates load as NULL, on both dump paths."""
    from relational_to_doc_oriented_nosql_migrator_spark.sources.sqldump import (
        read_dump,
    )

    want = {
        1: ("ab", None, None),
        2: ("c'd", None, None),
        3: ("x\\y", None, "2024-01-02 03:04:05"),
        4: (None, None, None),
        5: ("plain", "2024-02-29", "2024-02-29 12:00:00"),
    }
    tdef = read_dump(MYSQLDUMP8_DUMP)[1]["blob_t"]
    assert {row[0]: (row[1], row[2] and str(row[2]), row[3] and str(row[3]))
            for row in zip(*tdef.columns)} == want
    table = import_sql_dump(spark, MYSQLDUMP8_DUMP)[1]["blob_t"]
    got = table.selectExpr("id", "data", "CAST(made AS STRING)",
                           "CAST(seen AS STRING)").collect()
    assert {r[0]: tuple(r[1:]) for r in got} == want
    documents = _driver_documents(MYSQLDUMP8_DUMP)["blob_t"]
    assert documents[0] == '{"id":1,"data":"ab"}'


_VALUE_TABLE = ("CREATE TABLE t (id INT PRIMARY KEY, name VARCHAR(10), "
                "d DATE);\n")


@pytest.mark.parametrize("values, match", [
    ("(1,X'41',NULL)", r"table t: column name: row 1: cannot read X'41' "
     r"as string: hexadecimal literals are not read"),
    ("(1,'a',NULL),(2,0x41,NULL)", r"table t: column name: row 2: cannot "
     r"read 0x41 as string: hexadecimal literals are not read"),
    ("(1,b'1',NULL)", r"table t: column name: row 1: cannot read b'1' as "
     r"string: bit literals are not read"),
    ("(1,'a',NULL),(2,'b',NULL),(x3,'c',NULL)", r"table t: column id: row "
     r"3: cannot read x3 as bigint"),
    ("(1,'a','2024-13-01')", r"table t: column d: row 1: cannot read "
     r"'2024-13-01' as date"),
    ("(1,'a',NULL),(2,NULL/*c*/,NULL)", r"table t: column name: row 2: "
     r"cannot read NULL/\*c\*/ as string: a comment inside a row is not "
     r"read"),
], ids=["hex_quoted", "hex_bare", "bit", "bad_int", "bad_date",
        "comment_in_value"])
def test_unreadable_values_name_table_column_and_row(spark, values, match):
    """A literal its column type cannot read, hex and bit literals
    included, raises ValueError naming the table, column and row on both
    dump paths."""
    from relational_to_doc_oriented_nosql_migrator_spark.dump_migration import (
        migrate_dump_on_driver,
    )

    dump = _VALUE_TABLE + f"INSERT INTO t VALUES {values};\n"
    with pytest.raises(ValueError, match=match):
        migrate_dump_on_driver(dump)
    with pytest.raises(ValueError, match=match):
        import_sql_dump(spark, dump)


@pytest.mark.parametrize("seed", range(1, 11))
def test_parsed_columns_equal_the_generated_tables(seed):
    """A parse oracle that does not go through the parser: the columns
    read from `gen.mysqldump` equal the tables the generator wrote it
    from (its timestamps are written as dates)."""
    import datetime as dt

    gen = _perfbench_gen()
    from relational_to_doc_oriented_nosql_migrator_spark.sources.sqldump import (
        read_dump,
    )

    tables = gen.make_tables(seed, 0.001, gen.TPCH_TABLES)
    _db, defs, catalog = read_dump(gen.mysqldump(seed, 0.001)[0])
    assert list(defs) == list(gen.TPCH_TABLES)
    for name, table in tables.items():
        tdef = defs[name]
        assert [n for n, _ in tdef.fields] == table.column_names, name
        assert catalog.get_table(name).num_rows == table.num_rows, name
        for (column, _dtype), got in zip(tdef.fields, tdef.columns):
            want = [v.date() if isinstance(v, dt.datetime) else v
                    for v in table.column(column).to_pylist()]
            assert got == want, (name, column)
            assert [type(v) for v in got] == [type(v) for v in want], (
                name, column)


def _loaded_rows(spark, dump: str, table: str) -> list[tuple]:
    """`table`'s column names, then its rows, as both dump paths load
    them, after checking that they agree: the driver-side parse
    (read_dump, which migrate_dump_on_driver runs) and the Spark
    tables."""
    from relational_to_doc_oriented_nosql_migrator_spark.sources.sqldump import (
        read_dump,
    )

    tdef = read_dump(dump)[1][table]
    rows = [tuple(n for n, _ in tdef.fields), *zip(*tdef.columns)]
    got = import_sql_dump(spark, dump)[1][table]
    assert [tuple(got.columns), *map(tuple, got.collect())] == rows
    return rows


_T = "CREATE TABLE t (id INT PRIMARY KEY, s VARCHAR(40));\n"
# Line separators other than \n and \r\n, which str.splitlines also splits
# on; a dump holds them raw.
_SEPARATORS = "\u2028\u2029\x85\x0b\x0c\x1c\x1d\x1e"


@pytest.mark.parametrize("dump, want", [
    (_T + f"INSERT INTO t VALUES (1,'a{_SEPARATORS}\rb');\n",
     [(1, f"a{_SEPARATORS}\rb")]),
    (_T + f"COPY t (id, s) FROM stdin;\n1\ta{_SEPARATORS}b\n2\tc\n\\.\n",
     [(1, f"a{_SEPARATORS}b"), (2, "c")]),
    (_T.replace(";\n", "; -- note\n") + "INSERT INTO t VALUES (1,'a'),(2,'b');\n",
     [(1, "a"), (2, "b")]),
    (_T.replace(";\n", "; -- don't\n") + "INSERT INTO t VALUES (1,'a'),(2,'b');\n",
     [(1, "a"), (2, "b")]),
    ("/* x */ " + _T + "INSERT INTO t VALUES (1,'a');\n", [(1, "a")]),
    ("CREATE TABLE t (\n  id INT, -- the key\n  s VARCHAR(40)\n);\n"
     "INSERT INTO t VALUES (1,'a');\n", [(1, "a")]),
    (_T + "INSERT INTO t VALUES (1,'a\n-- b'),(2,'c\n\\\\d');\n",
     [(1, "a\n-- b"), (2, "c\n\\d")]),
    (_T + "COPY t FROM stdin;\n1\ta\n\\.\nINSERT INTO t VALUES (2,'b');\n",
     [(1, "a"), (2, "b")]),
    ("SET standard_conforming_strings = on;\n" + _T
     + "INSERT INTO t VALUES (1,'C:\\new'),(2,'C:\\'),(3,'it''s'),"
     "(4,E'a\\tb\\'c\\\\'),(5,e'\\x41\\101\\u00e9\\q');\n",
     [(1, "C:\\new"), (2, "C:\\"), (3, "it's"), (4, "a\tb'c\\"),
      (5, "AA\u00e9q")]),
    ("SET standard_conforming_strings = on;\n"
     "SET standard_conforming_strings TO off;\n" + _T
     + "INSERT INTO t VALUES (1,'C:\\new');\n", [(1, "C:\new")]),
], ids=["separators_in_insert", "separators_in_copy", "trailing_comment",
        "quote_in_trailing_comment", "leading_block_comment",
        "comment_in_create_body", "comment_and_backslash_lines_in_strings",
        "file_order", "standard_conforming_strings",
        "standard_conforming_strings_off"])
def test_dump_reads_as_the_server_reads_it(spark, dump, want):
    """Comments are skipped wherever the server skips them and never
    inside a literal; line separators other than a COPY row's terminator
    are data; statements and COPY blocks apply in file order. After pg's
    `SET standard_conforming_strings = on` a '...' literal keeps `\\` as
    data, a trailing one too, and E'...' unescapes as pg reads it."""
    assert _loaded_rows(spark, dump, "t") == [("id", "s"), *want]


def test_full_line_comments_between_tuples_load_every_row(spark):
    dump = (_T + "INSERT INTO t VALUES\n(1,'a'),\n-- one\n(2,'b')\n"
            "-- two\n,(3,'c');\n")
    assert _loaded_rows(spark, dump, "t") == [
        ("id", "s"), (1, "a"), (2, "b"), (3, "c")]


def test_statement_heads_skip_comments_and_read_quoted_names(spark):
    """A comment between a head's words is skipped, and a quoted name is
    one token, whatever it holds: every row loads, under the name the
    server gives it, on both dump paths."""

    assert _loaded_rows(spark, HEADS_DUMP, "a;b") == [
        ("i)d", "na,me"), (1, "one"), (2, "two"), (3, "th;ree")]
    assert _loaded_rows(spark, HEADS_DUMP, "c)d") == [
        ("id", "ab_id", 'q"t'), (10, 1, "x"), (11, 3, None), (12, 2, None)]
    documents = _driver_documents(HEADS_DUMP)
    assert documents["a;b"] == [
        '{"i)d":1,"na,me":"one","c)d":[{"id":10,"q\\"t":"x"}]}',
        '{"i)d":2,"na,me":"two","c)d":[{"id":12}]}',
        '{"i)d":3,"na,me":"th;ree","c)d":[{"id":11}]}',
    ]


def test_dates_with_qualifiers_are_dates(spark):
    """`date NOT NULL` and `date DEFAULT NULL` are DATE columns, as a
    bare DATE is (a datetime is a timestamp): zero dates load as NULL, an
    invalid date raises, and a key may reference a bare DATE column."""
    import datetime as dt

    from relational_to_doc_oriented_nosql_migrator_spark.dump_migration import (
        migrate_dump_on_driver,
    )

    dump = ("CREATE TABLE p (d DATE, PRIMARY KEY (d));\n"
            "CREATE TABLE c (id INT, d date NOT NULL, made date DEFAULT NULL,"
            " at datetime NOT NULL, PRIMARY KEY (id),"
            " FOREIGN KEY (d) REFERENCES p (d));\n"
            "INSERT INTO p VALUES ('2024-01-02');\n"
            "INSERT INTO c VALUES (1,'2024-01-02','0000-00-00',"
            "'2024-01-02 03:04:05'),(2,'2024-01-02','2024-02-29',"
            "'2024-01-02 03:04:05');\n")
    day, at = dt.date(2024, 1, 2), dt.datetime(2024, 1, 2, 3, 4, 5)
    assert _loaded_rows(spark, dump, "c") == [
        ("id", "d", "made", "at"), (1, day, None, at), (2, day, dt.date(2024, 2, 29), at)]
    for normalize in (True, False):
        doc = _driver_documents(dump, normalize_dates=normalize)
        assert '{"id":2,"made":"2024-02-29",' in doc["p"][0]
    bad = dump.replace("2024-02-29", "2024-13-45")
    match = r"table c: column made: row 2: cannot read '2024-13-45' as date"
    with pytest.raises(ValueError, match=match):
        migrate_dump_on_driver(bad)
    with pytest.raises(ValueError, match=match):
        import_sql_dump(spark, bad)


# What mysqldump escapes in a string literal, and what pg's COPY TO
# escapes in a text field; every other character is written raw.
_MYSQLDUMP_ESCAPES = str.maketrans({
    "\0": "\\0", "\n": "\\n", "\r": "\\r", "\\": "\\\\", "'": "\\'",
    '"': '\\"', "\x1a": "\\Z"})
_COPY_TO_ESCAPES = str.maketrans({
    "\b": "\\b", "\f": "\\f", "\n": "\\n", "\r": "\\r", "\t": "\\t",
    "\v": "\\v", "\\": "\\\\"})
_ROUND_TRIP_ALPHABET = (
    ["'", '"', "\\", ";", "--", "/*", "*/", "\\N", "\t", "\x85", "\u2028",
     "\u2029", "\U0001F600", "a", "Z", " ", "(", ")", ","]
    + [chr(c) for c in range(0x20)])


def test_values_round_trip_through_both_dump_formats(spark):
    """Values written the way mysqldump (an extended INSERT) and pg_dump
    (a COPY block) write them come back exactly, on both dump paths; the
    expected values come from the generator, not from the parser."""
    import random

    rng = random.Random(14)
    values = [None, ""] + [
        "".join(rng.choice(_ROUND_TRIP_ALPHABET)
                for _ in range(rng.randrange(1, 16)))
        for _ in range(200)]
    literals = ["NULL" if v is None
                else "'" + v.translate(_MYSQLDUMP_ESCAPES) + "'"
                for v in values]
    fields = ["\\N" if v is None else v.translate(_COPY_TO_ESCAPES)
              for v in values]
    dump = (
        "CREATE TABLE ins (id INT PRIMARY KEY, s TEXT);\n"
        "CREATE TABLE cp (id INT PRIMARY KEY, s TEXT);\n"
        "INSERT INTO ins VALUES "
        + ",".join(f"({i},{lit})" for i, lit in enumerate(literals)) + ";\n"
        "COPY cp (id, s) FROM stdin;\n"
        + "".join(f"{i}\t{f}\n" for i, f in enumerate(fields)) + "\\.\n")
    want = [("id", "s"), *enumerate(values)]
    assert _loaded_rows(spark, dump, "ins") == want
    assert _loaded_rows(spark, dump, "cp") == want
