"""Live-DB schema introspection over JDBC — the reference's
INFORMATION_SCHEMA path (reference server/MySQLDBManager.js:97-127,
176-236; PostgresDBManager.js:130-162 does the same via pg_catalog).

Split in two so the logic is testable without a JDBC driver jar:

- `jdbc_meta_frames` issues the three catalog reads as JDBC pushdown
  subqueries (metadata-scale — single-partition reads are correct here;
  the DATA reads are the partitioned ones, sources/jdbc.py).
- `catalog_from_meta_frames` / `meta_tables_df` / `meta_fk_df` turn those
  frames into the engine's Catalog and into the exact meta-DataFrame
  shapes the `join_meta_*` operators consume (operators/relational.py),
  so a live database plugs into the same planner + query surface as the
  fixture catalogs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from relational_to_doc_oriented_nosql_migrator_spark.plans.catalog import (
    Catalog,
    ForeignKey,
    TableMeta,
)

# The reference's six introspection endpoints, SQL text verbatim (modulo
# whitespace) — `{db}`/`{table}` stand for the reference's template
# interpolations. tests/test_introspect_sql_parity.py extracts the
# originals from the reference JS and asserts normalized-text equality,
# so drift from the reference's wire-level SQL is caught, not assumed.
# MySQL: server/MySQLDBManager.js:97 (getTableData), 129 (getTableRows),
# 152 (getTableColumns), 177 (getPrimaryKeys), 203 (getForeignKeys),
# 229 (getReferenceInfo).
MYSQL_REFERENCE_SQL = {
    "table_data": """
      SELECT t.TABLE_NAME, COUNT(k.REFERENCED_TABLE_NAME) AS num_foreign_keys,
        CASE
          WHEN EXISTS (SELECT * FROM INFORMATION_SCHEMA.KEY_COLUMN_USAGE WHERE TABLE_SCHEMA = t.TABLE_SCHEMA AND REFERENCED_TABLE_NAME = t.TABLE_NAME)
          THEN 'Referenced by other tables'
          ELSE 'Not referenced by other tables'
        END AS reference_status
      FROM INFORMATION_SCHEMA.TABLES t
      LEFT JOIN INFORMATION_SCHEMA.KEY_COLUMN_USAGE k
        ON k.TABLE_SCHEMA = t.TABLE_SCHEMA AND k.TABLE_NAME = t.TABLE_NAME AND k.REFERENCED_TABLE_NAME IS NOT NULL
      WHERE t.TABLE_SCHEMA = '{db}' AND t.TABLE_TYPE = 'BASE TABLE'
      GROUP BY t.TABLE_NAME;
    """,
    "table_rows": """
      SELECT COUNT(*) AS num_rows
      FROM {table};
    """,
    "table_columns": """
      SELECT TABLE_NAME, GROUP_CONCAT(COLUMN_NAME ORDER BY ORDINAL_POSITION SEPARATOR ', ') AS table_columns
      FROM INFORMATION_SCHEMA.COLUMNS
      WHERE TABLE_SCHEMA = '{db}'
      GROUP BY TABLE_NAME;
    """,
    "primary_keys": """
      SELECT COLUMN_NAME
      FROM INFORMATION_SCHEMA.KEY_COLUMN_USAGE
      WHERE TABLE_SCHEMA = '{db}'
      AND TABLE_NAME = '{table}'
      AND CONSTRAINT_NAME = 'PRIMARY';
    """,
    "foreign_keys": """
      SELECT COLUMN_NAME, REFERENCED_TABLE_NAME, REFERENCED_COLUMN_NAME
      FROM INFORMATION_SCHEMA.KEY_COLUMN_USAGE
      WHERE TABLE_SCHEMA = '{db}'
      AND TABLE_NAME = '{table}'
      AND REFERENCED_TABLE_NAME IS NOT NULL;
    """,
    "reference_info": """
      SELECT REFERENCED_TABLE_NAME, GROUP_CONCAT(DISTINCT TABLE_NAME ORDER BY TABLE_NAME ASC SEPARATOR ', ') AS referencing_tables
      FROM INFORMATION_SCHEMA.KEY_COLUMN_USAGE
      WHERE TABLE_SCHEMA = '{db}' AND REFERENCED_TABLE_NAME IS NOT NULL
      GROUP BY REFERENCED_TABLE_NAME;
    """,
}

# Postgres: server/PostgresDBManager.js:127 (getTableData), 172
# (getTableRows), 186 (getTableColumns), 213 (getPrimaryKeys),
# 231 (getForeignKeys), 250 (getReferenceInfo).
POSTGRES_REFERENCE_SQL = {
    "table_data": """
      WITH table_info AS (
        SELECT
            c.oid AS table_oid,
            c.relname AS table_name,
            COUNT(DISTINCT tc.constraint_name) AS num_foreign_keys
        FROM
            pg_class c
            JOIN pg_namespace n ON n.oid = c.relnamespace
            LEFT JOIN information_schema.table_constraints tc
            ON tc.table_name = c.relname
            AND tc.constraint_type = 'FOREIGN KEY'
            AND tc.table_schema = n.nspname
        WHERE
            c.relkind = 'r'
            AND n.nspname NOT IN ('pg_catalog', 'information_schema')
        GROUP BY
            c.oid, c.relname
      )
      SELECT
          ti.table_name,
          ti.num_foreign_keys,
          CASE
              WHEN EXISTS (
                  SELECT 1
                  FROM pg_constraint ref_con
                  WHERE ref_con.confrelid = ti.table_oid
              ) THEN 'Referenced by other tables'
              ELSE 'Not referenced by other tables'
          END AS reference_status
      FROM
          table_info ti
      ORDER BY
          ti.table_name;
    """,
    "table_rows": """
      SELECT COUNT(*) AS num_rows
      FROM {table};
    """,
    "table_columns": """
      SELECT
          c.relname AS table_name,
          array_to_string(array_agg(a.attname ORDER BY a.attnum), ', ') AS table_columns
      FROM
          pg_class c
      JOIN
          pg_attribute a ON a.attrelid = c.oid
      JOIN
          pg_namespace n ON n.oid = c.relnamespace
      WHERE
          c.relkind = 'r'
          AND n.nspname NOT IN ('pg_catalog', 'information_schema')
          AND a.attnum > 0
      GROUP BY
          c.relname;
    """,
    "primary_keys": """
      SELECT kcu.column_name
      FROM information_schema.table_constraints tco
      JOIN information_schema.key_column_usage kcu ON kcu.constraint_name = tco.constraint_name
      WHERE tco.constraint_type = 'PRIMARY KEY'
      AND kcu.table_schema = 'public'
      AND kcu.table_name = '{table}';
    """,
    "foreign_keys": """
      SELECT kcu.column_name, ccu.table_name AS referenced_table_name, ccu.column_name AS referenced_column_name
      FROM information_schema.key_column_usage kcu
      JOIN information_schema.table_constraints tc ON kcu.constraint_name = tc.constraint_name
      JOIN information_schema.constraint_column_usage ccu ON kcu.constraint_name = ccu.constraint_name
      WHERE tc.constraint_type = 'FOREIGN KEY'
      AND kcu.table_schema = 'public'
      AND kcu.table_name = '{table}';
    """,
    "reference_info": """
      SELECT
          ref_table.relname AS referenced_table,
          array_to_string(array_agg(con_table.relname ORDER BY con_table.relname), ', ') AS referencing_tables
      FROM
          pg_constraint c
      JOIN
          pg_class ref_table ON ref_table.oid = c.confrelid
      JOIN
          pg_class con_table ON con_table.oid = c.conrelid
      JOIN
          pg_namespace n ON n.oid = ref_table.relnamespace
      WHERE
          c.contype = 'f'
          AND n.nspname NOT IN ('pg_catalog', 'information_schema')
      GROUP BY
          ref_table.relname;
    """,
}

REFERENCE_SQL = {
    "mysql": MYSQL_REFERENCE_SQL,
    "postgres": POSTGRES_REFERENCE_SQL,
}


def normalize_sql(sql: str) -> str:
    """Whitespace-collapse + strip the trailing statement terminator, so
    text comparisons pin semantics-bearing bytes only."""
    return " ".join(sql.split()).rstrip(";").strip()


# Reshaped set-returning variants of the same three catalog relations the
# engine's planner consumes, verbatim shapes
# (server/MySQLDBManager.js:99-111,152-159,176-226). {db} is the schema.
MYSQL_META_QUERIES = {
    "tables": (
        "SELECT TABLE_NAME AS table_name FROM INFORMATION_SCHEMA.TABLES"
        " WHERE TABLE_SCHEMA = '{db}' AND TABLE_TYPE = 'BASE TABLE'"
    ),
    "columns": (
        "SELECT TABLE_NAME AS table_name, ORDINAL_POSITION AS"
        " ordinal_position, COLUMN_NAME AS column_name,"
        " COLUMN_KEY AS column_key"
        " FROM INFORMATION_SCHEMA.COLUMNS WHERE TABLE_SCHEMA = '{db}'"
    ),
    "key_column_usage": (
        "SELECT TABLE_NAME AS table_name, COLUMN_NAME AS column_name,"
        " CONSTRAINT_NAME AS constraint_name,"
        " REFERENCED_TABLE_NAME AS referenced_table,"
        " REFERENCED_COLUMN_NAME AS referenced_column"
        " FROM INFORMATION_SCHEMA.KEY_COLUMN_USAGE"
        " WHERE TABLE_SCHEMA = '{db}'"
    ),
}


def jdbc_meta_frames(
    spark: SparkSession,
    url: str,
    db: str,
    properties: dict[str, str] | None = None,
) -> dict[str, DataFrame]:
    """Read the three INFORMATION_SCHEMA relations over JDBC (each query is
    pushed down as a subquery-aliased dbtable)."""
    out = {}
    for name, sql in MYSQL_META_QUERIES.items():
        reader = (
            spark.read.format("jdbc")
            .option("url", url)
            .option("dbtable", f"({sql.format(db=db)}) AS q")
        )
        for k, v in (properties or {}).items():
            reader = reader.option(k, v)
        out[name] = reader.load()
    return out


def meta_tables_df(meta: dict[str, DataFrame]) -> DataFrame:
    """(table_name) — the frame `join_meta_left`/`fn_case_when_referenced`
    consume (same shape as operators/relational._meta_tables_df)."""
    return meta["tables"].select("table_name")


def meta_fk_df(meta: dict[str, DataFrame]) -> DataFrame:
    """(table_name, column_name, referenced_table, referenced_column) —
    the FK-edge frame the `join_meta_*` operators consume."""
    return (
        meta["key_column_usage"]
        .filter(F.col("referenced_table").isNotNull())
        .select("table_name", "column_name", "referenced_table",
                "referenced_column")
    )


def meta_columns_df(meta: dict[str, DataFrame]) -> DataFrame:
    """(table_name, ordinal_position, column_name) — the ordered-columns
    frame (`agg_group_concat_ordered`)."""
    return meta["columns"].select(
        "table_name", "ordinal_position", "column_name"
    )


def catalog_from_meta_frames(
    meta: dict[str, DataFrame],
    row_counts: dict[str, int] | None = None,
) -> Catalog:
    """INFORMATION_SCHEMA frames -> the engine's Catalog (the structure
    the planner consumes; reference server/DBMigration.js:14-60 builds its
    RelationalDatabase from the same three queries + COUNT(*) per table).

    All three frames are metadata-scale (one row per table/column/FK), so
    collecting them to the driver mirrors where the reference itself is
    driver-bound — the planner is driver-side by design.
    """
    rc = row_counts or {}
    cols_by_table: dict[str, list[tuple[int, str]]] = {}
    pks: dict[str, list[tuple[int, str]]] = {}
    for r in meta["columns"].collect():
        cols_by_table.setdefault(r["table_name"], []).append(
            (r["ordinal_position"], r["column_name"])
        )
        if "column_key" in meta["columns"].columns and r["column_key"] == "PRI":
            pks.setdefault(r["table_name"], []).append(
                (r["ordinal_position"], r["column_name"])
            )
    fks: dict[str, list[ForeignKey]] = {}
    kcu = meta["key_column_usage"]
    for r in kcu.filter(F.col("referenced_table").isNotNull()).collect():
        fks.setdefault(r["table_name"], []).append(
            ForeignKey(r["column_name"], r["referenced_table"],
                       r["referenced_column"])
        )
    # PRIMARY-constraint rows are the PK fallback when COLUMN_KEY is absent
    # (reference getPrimaryKeys, server/MySQLDBManager.js:176-200).
    if not pks:
        for r in kcu.filter(F.col("constraint_name") == "PRIMARY").collect():
            pks.setdefault(r["table_name"], []).append(
                (0, r["column_name"])
            )

    tables = [
        TableMeta(
            name=r["table_name"],
            num_rows=rc.get(r["table_name"], 0),
            columns=[c for _, c in sorted(cols_by_table.get(
                r["table_name"], []))],
            primary_keys=[c for _, c in sorted(pks.get(r["table_name"], []))],
            foreign_keys=fks.get(r["table_name"], []),
        )
        for r in meta["tables"].collect()
    ]
    return Catalog(tables)


def jdbc_catalog(
    spark: SparkSession,
    url: str,
    db: str,
    row_counts: dict[str, int] | None = None,
    properties: dict[str, str] | None = None,
) -> Catalog:
    """End-to-end: live INFORMATION_SCHEMA -> Catalog (needs a JDBC driver
    jar on the classpath; the frame->Catalog logic above is what the
    fixture-backed tests exercise in a driverless sandbox)."""
    return catalog_from_meta_frames(
        jdbc_meta_frames(spark, url, db, properties), row_counts
    )


def _iter_rs(rs, cols):
    """Drain a java.sql.ResultSet into a list of dicts (metadata-scale)."""
    out = []
    while rs.next():
        out.append({c: rs.getObject(c) for c in cols})
    rs.close()
    return out


def metadata_catalog(
    spark: SparkSession,
    url: str,
    schema: str | None = None,
    count_rows: bool = True,
) -> Catalog:
    """Live-DB introspection via java.sql.DatabaseMetaData -> Catalog.

    The INFORMATION_SCHEMA path above mirrors the reference's wire-level
    SQL (MySQL/Postgres); this one uses the JDBC standard metadata API,
    which every driver implements — including embedded databases with no
    INFORMATION_SCHEMA at all (Derby, which ships in Spark's own jars and
    gives the live-JDBC path an executed in-sandbox proof:
    tests/test_jdbc_derby_live.py). Same driver-side, metadata-scale
    position as the reference's introspection (reference
    server/MySQLDBManager.js:97-236); row counts are COUNT(*) pushdowns
    per table (reference getTableRows, server/MySQLDBManager.js:129).
    """
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        md = conn.getMetaData()
        types = spark.sparkContext._gateway.new_array(
            jvm.java.lang.String, 1
        )
        types[0] = "TABLE"
        names = [
            r["TABLE_NAME"]
            for r in _iter_rs(
                md.getTables(None, schema, "%", types), ["TABLE_NAME"]
            )
        ]
        tables = []
        for name in names:
            cols = sorted(
                _iter_rs(
                    md.getColumns(None, schema, name, "%"),
                    ["COLUMN_NAME", "ORDINAL_POSITION"],
                ),
                key=lambda r: r["ORDINAL_POSITION"],
            )
            pks = sorted(
                _iter_rs(
                    md.getPrimaryKeys(None, schema, name),
                    ["COLUMN_NAME", "KEY_SEQ"],
                ),
                key=lambda r: r["KEY_SEQ"],
            )
            fks = [
                ForeignKey(r["FKCOLUMN_NAME"], r["PKTABLE_NAME"],
                           r["PKCOLUMN_NAME"])
                for r in _iter_rs(
                    md.getImportedKeys(None, schema, name),
                    ["FKCOLUMN_NAME", "PKTABLE_NAME", "PKCOLUMN_NAME"],
                )
            ]
            n = 0
            if count_rows:
                from relational_to_doc_oriented_nosql_migrator_spark.sources.jdbc import (
                    quote_ident,
                )

                st = conn.createStatement()
                rs = st.executeQuery(
                    f"SELECT COUNT(*) AS n FROM {quote_ident(name, url)}"
                )
                rs.next()
                n = rs.getLong(1)
                rs.close()
                st.close()
            tables.append(
                TableMeta(
                    name=name,
                    num_rows=n,
                    columns=[r["COLUMN_NAME"] for r in cols],
                    primary_keys=[r["COLUMN_NAME"] for r in pks],
                    foreign_keys=fks,
                )
            )
        return Catalog(tables)
    finally:
        conn.close()
