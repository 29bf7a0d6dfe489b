"""Scalar column functions (SURVEY §2.8) — all JVM-side built-ins.

Each mirrors a scalar behavior of the reference; none requires a Python UDF,
so they all stay inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from relational_to_doc_oriented_nosql_migrator_spark.plans.documents import (
    BANGKOK_TZ,
)


def split_trim(col: Column | str, sep: str = ",") -> Column:
    """`fn_split_trim`: split a separator-joined list and trim each item
    (reference server/DBMigration.js:73,85-87)."""
    return F.transform(F.split(col, sep), lambda x: F.trim(x))


def whitespace_normalize(col: Column | str) -> Column:
    """`fn_whitespace_normalize`: collapse \\s+ to one space and trim
    (reference server/LogManager.js:24,41)."""
    return F.trim(F.regexp_replace(col, r"\s+", " "))


def date_normalize(col: Column | str) -> Column:
    """`fn_date_normalize`: timestamp -> Asia/Bangkok local 'yyyy-MM-dd'
    (reference server/MySQLDBManager.js:268-276; type-scoped per SURVEY
    §1.1 instead of the reference's value sniffing)."""
    return F.date_format(F.from_utc_timestamp(col, BANGKOK_TZ), "yyyy-MM-dd")


def case_when_referenced(is_referenced: Column) -> Column:
    """`fn_case_when_referenced`: the EXISTS-flag label (reference
    server/MySQLDBManager.js:101-105)."""
    return F.when(
        is_referenced, F.lit("Referenced by other tables")
    ).otherwise(F.lit("Not referenced by other tables"))
