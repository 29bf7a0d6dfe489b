"""Workload-analyzer operators (SURVEY §2.2, §2.4, §2.8) with DuckDB oracles.

The Spark side runs the real analyzer (workload.py: one plain-Python pass
over the log string — tokenizer -> statement filter -> table refs read
from the SQL lexer's tokens (functions/sqlparse.py) -> per-table counts)
and wraps its output with `createDataFrame`, so the registry and the
migrator share one implementation. The oracle reimplements the same
semantics independently in DuckDB SQL (gaps-and-islands entry
reconstruction + regexp ref extraction), so a
hash match is a genuine cross-engine check, not a tautology.
"""

from __future__ import annotations

from relational_to_doc_oriented_nosql_migrator_spark import workload as W
from relational_to_doc_oriented_nosql_migrator_spark.functions.sqlparse import (
    extract_table_refs,
)
from relational_to_doc_oriented_nosql_migrator_spark.operators.relational import (
    TABLES,
    q_agg_count_star,
)
from relational_to_doc_oriented_nosql_migrator_spark.plans.catalog import (
    MAF_FACTOR,
)

# Deterministic fixture logs (formats: reference server/LogManager.js:15-16,
# 36-37; FIXTURES.md §3). Cover: multi-line statements, non-Query commands,
# comma FROM-lists, JOINs, non-DML heads (GRANT), CREATE TABLE.
MYSQL_LOG = """240807 10:15:22\t   42 Query\tSELECT * FROM orders WHERE o_custkey = 7
240807 10:15:23\t   42 Query\tINSERT INTO lineitem VALUES (1,2,3,1,5.0,100.0,0.02,0.01,'N','O','2024-08-07')
240807 10:15:24\t   42 Connect\troot@localhost on testdb
240807 10:15:25\t   43 Query\tUPDATE orders SET o_orderstatus = 'F'
\tWHERE o_orderkey = 9
240807 10:15:26\t   43 Query\tDELETE FROM lineitem WHERE l_orderkey = 9
240807 10:15:27\t   44 Query\tSELECT o_orderkey, COUNT(*) FROM orders JOIN lineitem ON l_orderkey = o_orderkey GROUP BY o_orderkey
240807 10:15:28\t   44 Query\tselect c_name from customer, nation where c_nationkey = n_nationkey
240807 10:15:29\t   44 Quit\t
240807 10:15:30\t   45 Query\tCREATE TABLE tmp_agg (x INT)
240807 10:15:31\t   45 Query\tSELECT * FROM part
240807 10:15:32\t   45 Query\tGRANT ALL ON db TO root
240807 10:15:33\t   46 Query\tUPDATE orders SET o_orderpriority = '1-URGENT' WHERE o_orderkey = 11
240807 10:15:34\t   46 Query\tSELECT * FROM supplier WHERE s_suppkey = 3
240807 10:15:35\t   46 Query\tSELECT * FROM region JOIN nation ON n_regionkey = r_regionkey
"""

PG_LOG = """2024-08-07 10:15:22.101 +07 [4242] LOG:  statement: select o_orderkey, count(*) from orders join lineitem on l_orderkey = o_orderkey group by o_orderkey
2024-08-07 10:15:23.202 +07 [4242] LOG:  statement: insert into orders values (9001, 7, 'O', 123.45, '2024-08-07', '1-URGENT')
2024-08-07 10:15:24.303 +07 [4243] STATEMENT:  update customer set c_acctbal = 0
\twhere c_custkey = 7
2024-08-07 10:15:25.404 +07 [4243] LOG:  duration: 1.2 ms
2024-08-07 10:15:26.505 +07 [4244] LOG:  statement: delete from events where event_id = 5
2024-08-07 10:15:27.606 +07 [4244] LOG:  statement: select doc_id from documents
"""

# Statement-classification candidates for the standalone filter op.
CANDIDATE_STMTS = [
    "SELECT * FROM orders",
    "insert into lineitem values (1)",
    "Update customer set c_acctbal = 0",
    "delete from events",
    "CREATE TABLE t (x int)",
    "GRANT ALL ON db TO root",
    "SHOW TABLES",
    "selecting is not a select",
    "  select 1",
]


def q_src_log_text(spark, sf_dir):
    """Whole log as a single text value (reference server/DBMigration.js:
    17-18 reads the file into one string)."""
    return spark.createDataFrame([(MYSQL_LOG,)], "value string")


def q_fn_regex_log_extract_mysql(spark, sf_dir):
    return spark.createDataFrame(
        [(s,) for s in W.statements(MYSQL_LOG, "mysql")], "stmt string not null")


def q_fn_regex_log_extract_pg(spark, sf_dir):
    return spark.createDataFrame(
        [(s,) for s in W.statements(PG_LOG, "postgres")], "stmt string not null")


def q_filter_statement_type(spark, sf_dir):
    """Keep only select|insert|update|delete|create heads
    (reference server/LogManager.js:25,42)."""
    return spark.createDataFrame(
        [(s,) for s in CANDIDATE_STMTS if W.is_statement(s)], "stmt string")


def q_fn_sql_tablelist(spark, sf_dir):
    """Statement -> distinct '{op}::{db}::{table}' ref strings
    (reference server/LogManager.js:53-75)."""
    return spark.createDataFrame(
        [(ref,) for s in W.statements(MYSQL_LOG, "mysql")
         for ref in extract_table_refs(s, "mysql")],
        "ref string",
    )


_REFS_SCHEMA = "op string, db string, table_name string"


def q_fn_split_tableref(spark, sf_dir):
    """Split parser refs on '::' into (op, db, table_name)
    (reference server/LogManager.js:79-82)."""
    return spark.createDataFrame(
        W.table_refs(W.statements(MYSQL_LOG, "mysql")), _REFS_SCHEMA)


def q_filter_dml_type(spark, sf_dir):
    """Keep only select/insert/update/delete refs — drops e.g. CREATE
    (reference server/LogManager.js:85-91)."""
    refs = W.table_refs(W.statements(MYSQL_LOG, "mysql"))
    return spark.createDataFrame(
        [r for r in refs if r[0] in W.DML_OPS], _REFS_SCHEMA)


def _gaf_uaf_rows(spark, sf_dir) -> list[tuple[str, int, int]]:
    """(table_name, gaf, uaf) for the log's tables present in sf_dir."""
    num_rows = dict(q_agg_count_star(spark, sf_dir).collect())
    counts = W.access_counts(W.statements(MYSQL_LOG, "mysql"), "mysql")
    return [(name, accesses * num_rows[name], writes * num_rows[name])
            for name, (accesses, writes) in counts.items() if name in num_rows]


def q_agg_workload_gaf_uaf(spark, sf_dir):
    """Row-count-weighted access stats (reference server/LogManager.js:
    77-100 + server/models/Table.js:30-35)."""
    return spark.createDataFrame(
        _gaf_uaf_rows(spark, sf_dir),
        "table_name string, gaf long not null, uaf long not null",
    )


def q_agg_maf_scalar(spark, sf_dir):
    """maf = 0.0125 * sum(gaf) (reference models/RelationalDatabase.js:23)."""
    total = sum(gaf for _name, gaf, _uaf in _gaf_uaf_rows(spark, sf_dir))
    return spark.createDataFrame([(MAF_FACTOR * total,)], "maf double")


QUERIES = {
    "src_log_text": q_src_log_text,
    "fn_regex_log_extract_mysql": q_fn_regex_log_extract_mysql,
    "fn_regex_log_extract_pg": q_fn_regex_log_extract_pg,
    "filter_statement_type": q_filter_statement_type,
    "fn_sql_tablelist": q_fn_sql_tablelist,
    "fn_split_tableref": q_fn_split_tableref,
    "filter_dml_type": q_filter_dml_type,
    "agg_workload_gaf_uaf": q_agg_workload_gaf_uaf,
    "agg_maf_scalar": q_agg_maf_scalar,
}


# ---------------------------------------------------------------------------
# Oracles
# ---------------------------------------------------------------------------


def _sql_lit(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _sql_stmts_cte(log_literal: str, dialect: str) -> str:
    """CTE chain: raw log -> lines -> entries (gaps-and-islands on the
    timestamp anchor) -> command/body extraction -> normalized statements.
    The stamp and entry patterns are workload.py's own constants, read
    by DuckDB's regex engine."""
    if dialect == "mysql":
        anchor = "^" + W.MYSQL_STAMP
        extract = _sql_lit(W.MYSQL_ENTRY_RE)
        body = (
            f"SELECT regexp_extract(entry, {extract}, 2) AS body"
            f" FROM entry_text"
            f" WHERE regexp_extract(entry, {extract}, 1) = 'Query'"
        )
    else:
        anchor = "^" + W.PG_STAMP
        extract = _sql_lit(W.PG_ENTRY_RE)
        body = (
            f"SELECT regexp_extract(entry, {extract}, 1) AS body"
            f" FROM entry_text"
            f" WHERE regexp_matches(entry, {extract})"
        )
    return f"""
WITH raw AS (SELECT {_sql_lit(log_literal)} AS log),
lines AS (
  SELECT unnest(string_split(log, chr(10))) AS line,
         unnest(generate_series(1, len(string_split(log, chr(10))))) AS i
  FROM raw
),
entries AS (
  SELECT line, i,
         SUM(CASE WHEN regexp_matches(line, '{anchor}') THEN 1 ELSE 0 END)
           OVER (ORDER BY i ROWS UNBOUNDED PRECEDING) AS eid
  FROM lines
),
entry_text AS (
  SELECT string_agg(line, chr(10) ORDER BY i) AS entry
  FROM entries WHERE eid > 0 GROUP BY eid
),
bodies AS ({body}),
stmts AS (
  SELECT trim(regexp_replace(body, '\\s+', ' ', 'g')) AS stmt FROM bodies
)
SELECT stmt FROM stmts
WHERE regexp_matches(lower(stmt), '^(select|insert|update|delete|create)\\b')
"""


def _sql_refs_cte(log_literal: str, dialect: str, dml_only: bool = True) -> str:
    """Statements -> distinct (op, db, table_name) refs, via an independent
    regexp-based extraction (FROM comma-lists, JOIN, INSERT INTO, UPDATE,
    DELETE FROM, CREATE TABLE)."""
    stmts = _sql_stmts_cte(log_literal, dialect)
    dml_filter = (
        "WHERE op IN ('select','insert','update','delete')" if dml_only else ""
    )
    return f"""
WITH statements AS ({stmts}),
parsed AS (
  SELECT stmt, lower(regexp_extract(stmt, '^(\\w+)', 1)) AS op,
    list_distinct(flatten([
      flatten(list_transform(
        regexp_extract_all(stmt,
          '(?i)\\bfrom\\s+([a-zA-Z_][a-zA-Z0-9_]*(?:\\s*,\\s*[a-zA-Z_][a-zA-Z0-9_]*)*)', 1),
        g -> list_transform(string_split_regex(g, '\\s*,\\s*'),
                            x -> regexp_extract(trim(x), '^(\\w+)', 1)))),
      regexp_extract_all(stmt, '(?i)\\bjoin\\s+([a-zA-Z_][a-zA-Z0-9_]*)', 1),
      regexp_extract_all(stmt, '(?i)^insert\\s+into\\s+([a-zA-Z_][a-zA-Z0-9_]*)', 1),
      regexp_extract_all(stmt, '(?i)^update\\s+([a-zA-Z_][a-zA-Z0-9_]*)', 1),
      regexp_extract_all(stmt, '(?i)^delete\\s+from\\s+([a-zA-Z_][a-zA-Z0-9_]*)', 1),
      regexp_extract_all(stmt, '(?i)^create\\s+table\\s+(?:if\\s+not\\s+exists\\s+)?([a-zA-Z_][a-zA-Z0-9_]*)', 1)
    ])) AS tables
  FROM statements
),
refs AS (
  SELECT op, 'null' AS db, unnest(tables) AS table_name FROM parsed
)
SELECT op, db, table_name FROM refs {dml_filter}
"""


def _oracles() -> dict[str, str]:
    counts_union = " UNION ALL ".join(
        f"SELECT '{n}' AS table_name, COUNT(*) AS num_rows FROM {n}"
        for n in TABLES
    )
    gaf_uaf = f"""
WITH refs AS ({_sql_refs_cte(MYSQL_LOG, 'mysql')}),
row_counts AS ({counts_union}),
counted AS (
  SELECT table_name, COUNT(*) AS accesses,
         COUNT(CASE WHEN op <> 'select' THEN 1 END) AS writes
  FROM refs GROUP BY table_name
)
SELECT c.table_name,
       CAST(c.accesses * r.num_rows AS BIGINT) AS gaf,
       CAST(c.writes * r.num_rows AS BIGINT) AS uaf
FROM counted c JOIN row_counts r ON c.table_name = r.table_name
"""
    stmt_values = ", ".join(f"({_sql_lit(s)})" for s in CANDIDATE_STMTS)
    return {
        "src_log_text": f"SELECT {_sql_lit(MYSQL_LOG)} AS value",
        "fn_regex_log_extract_mysql": _sql_stmts_cte(MYSQL_LOG, "mysql"),
        "fn_regex_log_extract_pg": _sql_stmts_cte(PG_LOG, "postgres"),
        "filter_statement_type":
            f"SELECT stmt FROM (VALUES {stmt_values}) AS v(stmt) WHERE"
            f" regexp_matches(lower(stmt),"
            f" '^(select|insert|update|delete|create)\\b')",
        "fn_sql_tablelist":
            f"WITH refs AS ({_sql_refs_cte(MYSQL_LOG, 'mysql', False)})"
            f" SELECT op || '::' || db || '::' || table_name AS ref FROM refs",
        "fn_split_tableref": _sql_refs_cte(MYSQL_LOG, "mysql", False),
        "filter_dml_type": _sql_refs_cte(MYSQL_LOG, "mysql"),
        "agg_workload_gaf_uaf": gaf_uaf,
        "agg_maf_scalar":
            f"WITH stats AS ({gaf_uaf}) SELECT CAST(SUM(gaf) AS DOUBLE)"
            f" * 0.0125 AS maf FROM stats",
    }


ORACLES = _oracles()
