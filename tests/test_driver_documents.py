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
from relational_to_doc_oriented_nosql_migrator_spark.sinks import (
    write_documents,
    write_json_collections,
)
from tests.test_sqldump import _dump_cases, _perfbench_gen

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
    collections, _catalog, _plan = migrate_from_dump(
        spark, dump, log_content=log, normalize_dates=normalize_dates)
    write_json_collections(collections, str(spark_dir), single_file=True)
    documents, _catalog, _plan = migrate_dump_on_driver(
        dump, log_content=log, normalize_dates=normalize_dates)
    write_documents(documents, str(driver_dir), single_file=True)
    expected, got = _collections(spark_dir), _collections(driver_dir)
    assert sorted(got) == sorted(expected)
    for name in expected:
        assert got[name] == expected[name], name


_CASES = {**_dump_cases(), "two_way": TWO_WAY_DUMP, "nested": NESTED_DUMP,
          "doubles": DOUBLES_DUMP}


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
    junction in both endpoints, a two-level embed, Java's exponent form."""
    docs = migrate_dump_on_driver(TWO_WAY_DUMP)[0]
    assert set(docs) == {"student", "course"}
    assert '"enrollment":[{"credits":0.5},{"credits":0.5},' in docs["student"][0]
    docs = migrate_dump_on_driver(NESTED_DUMP)[0]
    assert list(docs) == ["region"] and len(docs["region"]) == 3
    asia = json.loads(docs["region"][0])
    assert [n.get("name") for n in asia["nation"]] == [None, None, "thai",
                                                       "thai"]
    assert asia["nation"][2]["city"][-1]["seen"] == "1900-01-01"
    docs = migrate_dump_on_driver(DOUBLES_DUMP)[0]["num"]
    assert '"x":1.0E16,' in docs[1] and '"x":1.0E-4,' in docs[13]
