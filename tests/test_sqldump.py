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


def _dump_cases():
    import os
    import sys

    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "perfbench"))
    import gen

    return {
        "fixture": DUMP_FIXTURE,
        "pg_copy": PG_COPY_DUMP,
        "perfbench_seed7": gen.mysqldump(7, 0.001)[0],
        "edge": EDGE_DUMP,
        "mysql_escapes": MYSQL_ESCAPE_DUMP,
        "pg_escapes": PG_ESCAPE_DUMP,
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
                ref = spark.createDataFrame(tdef.rows, tdef.schema)
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
    from relational_to_doc_oriented_nosql_migrator_spark.dump_migration import (
        migrate_dump_on_driver,
    )
    from relational_to_doc_oriented_nosql_migrator_spark.engine import (
        migrate_from_dump,
    )

    import json

    dump = _FK_TYPE_MISMATCH.replace("VARCHAR(10)", "DECIMAL(10,0)")
    documents, _catalog, _plan = migrate_dump_on_driver(dump)
    collections, _catalog, _plan = migrate_from_dump(spark, dump)
    for texts in (documents["p"], collections["p"].toJSON().collect()):
        docs = [json.loads(t) for t in texts]
        assert sorted(len(d["c"]) for d in docs) == [1, 1, 1]


def test_serial_keys_are_integers_that_integer_fks_reference():
    """Postgres SERIAL columns are integers, so an INTEGER column may
    reference one, and their values come out as numbers."""
    import json

    from relational_to_doc_oriented_nosql_migrator_spark.dump_migration import (
        migrate_dump_on_driver,
    )

    dump = """
CREATE TABLE p (id SERIAL PRIMARY KEY, name TEXT);
CREATE TABLE c (cid BIGSERIAL PRIMARY KEY, pid INTEGER,
  FOREIGN KEY (pid) REFERENCES p (id));
INSERT INTO p VALUES (1,'a');
INSERT INTO c VALUES (7,1);
"""
    documents, _catalog, _plan = migrate_dump_on_driver(dump)
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
], ids=["insert_short", "insert_long", "insert_column_list", "copy_short",
        "copy_long", "insert_unknown_column", "copy_unknown_column"])
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
