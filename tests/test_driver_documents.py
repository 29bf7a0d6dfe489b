"""Differential test of the two dump executors: the driver-side document
builder (dump_migration.migrate_dump_on_driver, what the service and CLI
--dump run) against the Spark nesting path (engine.migrate_from_dump +
the single-file sink). Both must write the same collections, and per
collection the same documents, byte for byte."""

import json
import os

import pytest

from relational_to_doc_oriented_nosql_migrator_spark.dump_migration import (
    migrate_dump_on_driver,
)
from relational_to_doc_oriented_nosql_migrator_spark.engine import (
    migrate_from_dump,
)
from relational_to_doc_oriented_nosql_migrator_spark.plans.documents import (
    CHUNK_ROWS,
    build_documents,
)
from relational_to_doc_oriented_nosql_migrator_spark.plans.planner import (
    MAX_DOCUMENT_BYTES,
)
from relational_to_doc_oriented_nosql_migrator_spark.sinks import (
    write_documents,
    write_json_collections,
)
from tests.test_sqldump import _driver_documents, _dump_cases, _perfbench_gen

# A two-way junction: enrollment embeds into both endpoints with the
# other endpoint's columns, which replace the junction's (course.title
# over enrollment.title, nulls included); unmatched and null endpoint
# keys drop the junction row; duplicate rows tie in the array order.
TWO_WAY_DUMP = """CREATE TABLE student (id INT PRIMARY KEY, name VARCHAR(40), gpa DOUBLE);
CREATE TABLE course (id INT PRIMARY KEY, title VARCHAR(40), credits DOUBLE, starts DATE);
CREATE TABLE enrollment (
  student_id INT, course_id INT, title VARCHAR(40), grade VARCHAR(2),
  enrolled DATETIME,
  FOREIGN KEY (student_id) REFERENCES student (id),
  FOREIGN KEY (course_id) REFERENCES course (id)
);
INSERT INTO student VALUES (1, 'ada', 3.9), (2, 'alan', NULL), (3, NULL, NULL);
INSERT INTO course VALUES (10, 'logic', 4.0, '2024-01-08'), (11, NULL, 0.5, NULL),
  (12, 'unused', 1e-3, '1919-06-30');
INSERT INTO enrollment VALUES
  (1, 10, 'mine', 'A', '2024-01-08 17:30:00'),
  (1, 11, 'kept?', NULL, NULL),
  (1, 11, 'kept?', NULL, NULL),
  (2, 10, NULL, 'B', '1900-01-01 17:10:00'),
  (2, 99, 'no course', 'C', NULL),
  (2, NULL, 'null course', 'D', NULL),
  (NULL, 10, 'no student', 'E', NULL),
  (3, 12, '', '', '2024-02-29 23:59:59.999999');
"""

# Two levels of one-way embedding (region > nation > city): null FKs,
# null fields and an all-null root row; the leading field of each array
# element decides the order (null first, NaN last); control characters,
# '/', DEL and non-ASCII text; a pre-1920 timestamp, when Asia/Bangkok
# was at +06:42:04.
NESTED_DUMP = """CREATE TABLE region (id INT PRIMARY KEY, name VARCHAR(40));
CREATE TABLE nation (
  name VARCHAR(40), id INT PRIMARY KEY, region_id INT, pop DOUBLE, founded DATE,
  FOREIGN KEY (region_id) REFERENCES region (id)
);
CREATE TABLE city (
  rank DOUBLE, id INT PRIMARY KEY, nation_id INT, name VARCHAR(40), seen TIMESTAMP,
  FOREIGN KEY (nation_id) REFERENCES nation (id)
);
INSERT INTO region VALUES (1, 'asia'), (2, 'empty'), (NULL, 'keyless'), (NULL, NULL);
INSERT INTO nation VALUES
  ('thai', 10, 1, 69.8, '1238-01-01'),
  (NULL, 11, 1, NULL, NULL),
  ('thai', 12, 1, NaN, NULL),
  ('orphan', 13, NULL, 1.0, NULL),
  ('lost', 14, 77, 2.0, NULL),
  (NULL, NULL, 1, NULL, NULL);
INSERT INTO city VALUES
  (NaN, 100, 10, 'bkk', '1900-01-01 17:10:00'),
  (-Infinity, 101, 10, 'cnx', NULL),
  (Infinity, 102, 10, NULL, '2024-01-01 16:59:59'),
  (1.5, 103, 10, 'dup', NULL),
  (1.5, 103, 10, 'dup', NULL),
  (NULL, 104, 10, 'nullrank', NULL),
  (2.0, 105, NULL, 'nowhere', NULL),
  (NULL, NULL, 11, NULL, NULL),
  (0.25, 106, 12, 'tab\\there "q" \\\\ /slash \x01\x1f\x7f   Zürich', '2024-01-01 17:00:00');
"""

# Java's double spelling around its layout switches (1e-3 and 1e7) and
# near 1e16, plus zeros, NaN and the infinities.
DOUBLES_DUMP = (
    "CREATE TABLE num (id INT PRIMARY KEY, x DOUBLE, label VARCHAR(30));\n"
    "INSERT INTO num VALUES\n" + ",\n".join(
        f"  ({i}, {v}, '{v}')" for i, v in enumerate([
            "9999999999999998", "1e16", "1.0000000000000002e16",
            "9.999999999999999e15", "1e15", "123456789012345.6", "0.001",
            "0.0009999999999999998", "0.0010000000000000002", "0.00123",
            "1e7", "9999999.999999998", "10000000.000000002", "1e-4",
            "1e-8", "1.2345e-7", "123456.789", "-0.0", "0.0", "0.1",
            "-2.5", "100", "3.0", "4.35", "NaN", "Infinity", "-Infinity",
        ])) + ";\n"
)


# One shelf whose four books' text alone passes MongoDB's 16 MiB document
# limit: the planner references book (shelf_id_REF) instead of embedding
# it, on both executors.
WIDE_DUMP = (
    "CREATE TABLE shelf (id INT PRIMARY KEY, name VARCHAR(10));\n"
    "CREATE TABLE book (id INT PRIMARY KEY, shelf_id INT, body TEXT,\n"
    "  FOREIGN KEY (shelf_id) REFERENCES shelf (id));\n"
    "INSERT INTO shelf VALUES (1, 'tall');\n"
    "INSERT INTO book VALUES\n" + ",\n".join(
        f"  ({i}, 1, '{c * (MAX_DOCUMENT_BYTES // 4)}')"
        for i, c in enumerate("wxyz")) + ";\n"
)


# A junction whose two FKs reference one table: each copy links by its
# own FK and denormalizes the other one's endpoint, so a user holds two
# `follows` arrays, the users it follows and the users following it.
SELF_JUNCTION_DUMP = """CREATE TABLE usr (id INT PRIMARY KEY, name VARCHAR(20));
CREATE TABLE follows (
  a INT, b INT, since INT,
  FOREIGN KEY (a) REFERENCES usr (id),
  FOREIGN KEY (b) REFERENCES usr (id)
);
INSERT INTO usr VALUES (1, 'ann'), (2, 'bob'), (3, 'cy');
INSERT INTO follows VALUES (1, 2, 10), (1, 3, 11), (3, 1, 12);
"""


def _edge_row(i: int) -> str:
    """Row i of EDGES_DUMP's reading table."""
    if i in (10, 4095):  # every field NULL or NaN: the row is dropped
        return "(NULL, NaN, NULL, NULL, NULL, NULL)"
    rid = "NULL" if i in (4094, 4097) else str(i)
    x = {0: "0.0", 3: "1e-4", 5: "1e7", 7: "-0.0", 9: "NaN", 11: "Infinity",
         13: "-Infinity", 4096: "NULL", 4098: "NULL"}.get(i, str(i / 2 + .25))
    some = "NULL" if i % 3 == 0 else f"'v{i}'"
    made = ("'0000-00-00'" if i % 7 == 0 else "NULL" if i % 7 == 1
            else f"'2024-01-{i % 28 + 1:02d}'")
    seen = ("'2024-01-01 16:59:59'" if i % 4 == 0
            else "'2024-01-01 17:00:00'" if i % 4 == 1
            else "'0000-00-00 00:00:00'" if i % 4 == 2 else "NULL")
    return f"({rid}, {x}, NULL, {some}, {made}, {seen})"


# Every exit from the renderers' fast paths: one double column mixing
# 1e-4, 1e7, -0.0, NaN and the infinities with in-range values (and only
# in-range values past the first chunk), an all-NULL and a partly-NULL
# column, keys holding `%` (a null-free table's rows are one `%`
# format), rows whose fields are all NULL or NaN, MySQL zero dates and
# timestamps on both sides of the Asia/Bangkok day boundary, and a table
# longer than one chunk (plans.documents.CHUNK_ROWS) with NULLs and
# embedded arrays on both sides of the chunk boundary.
EDGES_DUMP = (
    "CREATE TABLE reading (id INT PRIMARY KEY, x DOUBLE, nothing "
    "VARCHAR(5), `pct%s` VARCHAR(8), made DATE, seen DATETIME);\n"
    "CREATE TABLE tag (id INT PRIMARY KEY, reading_id INT, label "
    "VARCHAR(8), FOREIGN KEY (reading_id) REFERENCES reading (id));\n"
    "INSERT INTO reading VALUES\n"
    + ",\n".join(map(_edge_row, range(5000))) + ";\n"
    "INSERT INTO tag VALUES " + ",".join(
        f"({j}, {r}, {label})" for j, (r, label) in enumerate([
            (1, "'a'"), (1, "NULL"), (4093, "'b'"), (4095, "'c'"),
            (4096, "'d'"), (4096, "'e'"), (4099, "NULL"), (4999, "'z'")]))
    + ";\nCREATE TABLE pcts (`a%s` INT PRIMARY KEY, `b%%` VARCHAR(3));\n"
    "INSERT INTO pcts VALUES (1, 'x'), (2, 'y');\n"
)


def _array_texts(text: str) -> list[str]:
    """The element texts of a single-file collection (`[doc,doc,...]`),
    exactly as written."""
    decoder = json.JSONDecoder()
    out, i = [], 1
    while text[i] != "]":
        _doc, end = decoder.raw_decode(text, i)
        out.append(text[i:end])
        i = end + (text[end] == ",")
    return out


def _collections(out_dir: str) -> dict[str, list[str]]:
    out = {}
    for name in os.listdir(out_dir):
        with open(os.path.join(out_dir, name), encoding="utf-8") as fh:
            out[name] = sorted(_array_texts(fh.read()))
    return out


def _assert_same(spark, tmp_path, dump, log=None, normalize_dates=True):
    spark_dir, driver_dir = tmp_path / "spark", tmp_path / "driver"
    collections, _catalog, spark_plan = migrate_from_dump(
        spark, dump, log_content=log, normalize_dates=normalize_dates)
    write_json_collections(collections, str(spark_dir), single_file=True)
    chunks, _catalog, driver_plan = migrate_dump_on_driver(
        dump, log_content=log, normalize_dates=normalize_dates)
    write_documents(chunks, str(driver_dir), single_file=True)
    assert spark_plan.size_referenced == driver_plan.size_referenced
    expected, got = _collections(spark_dir), _collections(driver_dir)
    assert sorted(got) == sorted(expected)
    for name in expected:
        assert got[name] == expected[name], name


_CASES = {**_dump_cases(), "two_way": TWO_WAY_DUMP, "nested": NESTED_DUMP,
          "doubles": DOUBLES_DUMP, "wide": WIDE_DUMP, "renderer_edges": EDGES_DUMP,
          "self_junction": SELF_JUNCTION_DUMP}


@pytest.mark.parametrize("normalize_dates", [True, False])
@pytest.mark.parametrize("case", list(_CASES))
def test_driver_documents_equal_spark(spark, tmp_path, case,
                                      normalize_dates):
    _assert_same(spark, tmp_path, _CASES[case],
                 normalize_dates=normalize_dates)


@pytest.mark.parametrize("seed", range(1, 11))
def test_driver_documents_equal_spark_on_perfbench_dumps(spark, tmp_path,
                                                         seed):
    """The benchmark's dump plus a 1,000-entry log, which flips
    write-hot tables to referenced `_REF` collections."""
    gen = _perfbench_gen()
    dump, _rows = gen.mysqldump(seed, 0.001)
    log, _stats = gen.mysql_general_log(seed, 1000, gen.table_sizes(0.001))
    _assert_same(spark, tmp_path, dump, log)


def test_the_new_dumps_reach_their_shapes():
    """The hand-written dumps exercise what they are for: a two-way
    junction in both endpoints, a two-level embed, rows dropped and
    arrays embedded across a chunk boundary, Java's exponent form, a
    child referenced by the document size rule, a junction linked and
    denormalized by its own FK in each copy."""
    docs = _driver_documents(TWO_WAY_DUMP)
    assert set(docs) == {"student", "course"}
    assert '"enrollment":[{"credits":0.5},{"credits":0.5},' in docs["student"][0]
    docs = _driver_documents(NESTED_DUMP)
    assert list(docs) == ["region"] and len(docs["region"]) == 3
    asia = json.loads(docs["region"][0])
    assert [n.get("name") for n in asia["nation"]] == [None, None, "thai",
                                                       "thai"]
    assert asia["nation"][2]["city"][-1]["seen"] == "1900-01-01"
    docs = _driver_documents(EDGES_DUMP)["reading"]
    assert _driver_documents(EDGES_DUMP)["pcts"][1] == '{"a%s":2,"b%%":"y"}'
    assert len(docs) == 4998 and CHUNK_ROWS == 4096
    assert docs[9] == ('{"id":9,"x":"NaN","made":"2024-01-10",'
                       '"seen":"2024-01-02"}')
    assert docs[4094] == ('{"id":4096,"pct%s":"v4096","seen":"2024-01-01",'
                          '"tag":[{"id":4,"label":"d"},{"id":5,"label":"e"}]}')
    docs = _driver_documents(DOUBLES_DUMP)["num"]
    assert '"x":1.0E16,' in docs[1] and '"x":1.0E-4,' in docs[13]
    chunks, _catalog, plan = migrate_dump_on_driver(WIDE_DUMP)
    docs = build_documents(chunks)
    assert plan.size_referenced == ["book"]
    assert docs["shelf"] == ['{"id":1,"name":"tall"}']
    assert [json.loads(d)["shelf_id_REF"] for d in docs["book"]] == [1] * 4
    ann, bob, cy = _driver_documents(SELF_JUNCTION_DUMP)["usr"]
    assert ('"follows":[{"since":10,"name":"bob"},{"since":11,"name":"cy"}]'
            in ann and '"follows":[{"since":12,"name":"cy"}]' in ann)
    assert bob == '{"id":2,"name":"bob","follows":[{"since":10,"name":"ann"}]}'
    assert ('"follows":[{"since":12,"name":"ann"}]' in cy
            and '"follows":[{"since":11,"name":"ann"}]' in cy)
