"""Relational operators (SURVEY §2.1-2.5, §2.8) with DuckDB oracles.

The reference delegates its metadata queries to INFORMATION_SCHEMA /
pg_catalog; here the same joins/aggregations run over literal metadata
DataFrames built from the testdata FK graph (plans/catalog.py), so the
computation — not the catalog plumbing — is what's exercised and checked.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType
from pyspark.sql.window import Window

from relational_to_doc_oriented_nosql_migrator_spark.functions.scalar import (
    case_when_referenced,
    date_normalize,
    split_trim,
    whitespace_normalize,
)
from relational_to_doc_oriented_nosql_migrator_spark.operators.common import (
    dec_avg,
    dec_sum,
    footer_col_minmax,
    scratch_dir,
    sql_dec_avg,
    sql_dec_sum,
    t,
)
from relational_to_doc_oriented_nosql_migrator_spark.plans.catalog import (
    TPCH_FOREIGN_KEYS,
)

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

TPCH_COLUMNS: dict[str, list[str]] = {
    "region": ["r_regionkey", "r_name"],
    "nation": ["n_nationkey", "n_name", "n_regionkey"],
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal",
                 "c_mktsegment"],
    "supplier": ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    "part": ["p_partkey", "p_name", "p_brand", "p_type", "p_size",
             "p_retailprice"],
    "orders": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                 "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus", "l_shipdate"],
    "events": ["event_id", "ts", "user_id", "event_type", "value", "props"],
    "documents": ["doc_id", "text", "lang", "source", "n_chars"],
    "embeddings": ["vec_id", "embedding", "label"],
}

# ---------------------------------------------------------------------------
# Metadata DataFrames / VALUES (shared by Spark side and oracle side)
# ---------------------------------------------------------------------------


def _meta_tables_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(name,) for name in TABLES], "table_name string"
    )


def _meta_fk_df(spark: SparkSession) -> DataFrame:
    rows = [
        (child, col, ref, refcol)
        for child, edges in TPCH_FOREIGN_KEYS.items()
        for col, ref, refcol in edges
    ]
    return spark.createDataFrame(
        rows,
        "table_name string, column_name string, referenced_table string,"
        " referenced_column string",
    )


def _meta_columns_df(spark: SparkSession) -> DataFrame:
    rows = [
        (name, i + 1, col)
        for name, cols in TPCH_COLUMNS.items()
        for i, col in enumerate(cols)
    ]
    return spark.createDataFrame(
        rows, "table_name string, ordinal_position int, column_name string"
    )


def _sql_values(rows: list[tuple], alias: str, cols: list[str]) -> str:
    def lit(v) -> str:
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        return str(v)

    body = ", ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
    return f"(VALUES {body}) AS {alias}({', '.join(cols)})"


def sql_meta_tables() -> str:
    return _sql_values([(n,) for n in TABLES], "t", ["table_name"])


def sql_meta_fk() -> str:
    rows = [
        (child, col, ref, refcol)
        for child, edges in TPCH_FOREIGN_KEYS.items()
        for col, ref, refcol in edges
    ]
    return _sql_values(
        rows, "k",
        ["table_name", "column_name", "referenced_table", "referenced_column"],
    )


def sql_meta_columns() -> str:
    rows = [
        (name, i + 1, col)
        for name, cols in TPCH_COLUMNS.items()
        for i, col in enumerate(cols)
    ]
    return _sql_values(
        rows, "c", ["table_name", "ordinal_position", "column_name"]
    )


# ---------------------------------------------------------------------------
# §2.1 sources
# ---------------------------------------------------------------------------


def q_src_full_scan(spark, sf_dir):
    """Full scan, all columns (reference server/MySQLDBManager.js:254-282)."""
    return t(spark, sf_dir, "nation")


# Fixture dump for `src_sql_dump_import` (covers the sanitization paths:
# DROP/CREATE DATABASE discarded, USE naming, quoted idents, NULLs).
DUMP_FIXTURE = """
-- northlite sample dump
DROP DATABASE IF EXISTS northlite_old;
CREATE DATABASE northlite;
USE northlite;
CREATE TABLE dept (
  id INT PRIMARY KEY,
  name VARCHAR(50),
  budget DECIMAL(10,2),
  est DATE
);
INSERT INTO dept VALUES (1, 'eng', 100.50, '2024-01-02'),
                        (2, 'ops', 20.25, '2024-03-04');
INSERT INTO dept (id, name, budget, est) VALUES (3, 'hr', NULL, NULL);
CREATE TABLE employee (
  emp_id INT,
  dept_id INT,
  emp_name VARCHAR(80),
  PRIMARY KEY (emp_id),
  FOREIGN KEY (dept_id) REFERENCES dept (id)
);
INSERT INTO employee VALUES (10, 1, 'ada'), (11, 1, 'alan'), (12, 2, 'rosa');
"""


def q_src_sql_dump_import(spark, sf_dir):
    """Import a .sql dump into DataFrames + catalog metadata without a
    staging database (reference server/MySQLDBManager.js:26-43 loads it
    into live MySQL and re-introspects)."""
    from relational_to_doc_oriented_nosql_migrator_spark.sources.sqldump import (
        import_sql_dump,
    )

    _db, tables, _catalog = import_sql_dump(spark, DUMP_FIXTURE)
    return tables["dept"]


def q_src_indexed_lookup(spark, sf_dir):
    """Point-predicate scan; the predicate reaches the parquet scan as a
    PushedFilter (reference server/MySQLDBManager.js:284-312)."""
    return t(spark, sf_dir, "orders").filter(F.col("o_custkey") == 7)


SKEW_TOP_K = 5


def q_ext_skew_report(spark, sf_dir):
    """Join-key skew diagnostic: the SKEW_TOP_K heaviest o_custkey values
    in `orders` with their share of total rows — the pre-flight that
    decides whether the nesting join needs salting (join_nest_salted) or
    AQE skew handling before a 100 TB run, instead of discovering the
    straggler task in production.

    Scale shape: one map-side-combined count per key, a top-K over the
    |keys|-sized aggregate (deterministic tiebreak), and the total rides
    the documented broadcast 1-row cross join — never the driver.
    """
    orders = t(spark, sf_dir, "orders")
    per_key = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    total = per_key.agg(F.sum("n_rows").alias("total"))
    w = Window.orderBy(F.desc("n_rows"), F.asc("o_custkey"))
    return (
        per_key.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= SKEW_TOP_K)
        .crossJoin(F.broadcast(total))
        .select(
            "rank",
            "o_custkey",
            "n_rows",
            F.round(F.col("n_rows").cast("double") / F.col("total"), 6)
            .alias("share"),
        )
    )


PROFILE_COLUMNS = ("c_custkey", "c_name", "c_mktsegment", "c_acctbal")

# Columns whose min/max render through DECIMAL(28,6): exactly the
# double-typed profile columns. ONE declaration consumed by BOTH the
# engine (which verifies it against the actual schema type and fails
# loudly on drift) and the static oracle SQL (which cannot inspect the
# parquet schema at import time) — so adding a double column to
# PROFILE_COLUMNS without extending this tuple raises instead of
# silently diverging engine vs oracle.
PROFILE_DECIMAL_RENDERED = ("c_acctbal",)


def q_ext_profile_table(spark, sf_dir):
    """Column profile of `customer` — per-column row/null/distinct
    counts plus min/max (stringified for a uniform schema): the
    data-quality pass a migration runs before trusting a source table.

    Scale shape: ALL columns profile in ONE full scan by construction —
    a single aggregation computes every column's statistics as parallel
    aggregate expressions (min/max aggregate the TYPED column, then
    stringify for the uniform output schema — a string-typed min would
    be lexicographic and numerically wrong), and the wide 1-row result
    unpivots to |columns| rows via stack(), not a self-union.
    """
    cust = t(spark, sf_dir, "customer")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in PROFILE_COLUMNS:
        # DOUBLE min/max are stringified via a fixed-scale decimal:
        # raw double->string formatting diverges between engines outside
        # [1e-3, 1e7) (Java switches to scientific notation, DuckDB
        # doesn't), while decimal rendering is plain fixed-point on both
        # at any magnitude the data reaches. The type check is on the
        # dataType instance (not its repr, which changed across PySpark
        # majors) and must agree with the PROFILE_DECIMAL_RENDERED
        # declaration the oracle SQL is generated from.
        is_double = isinstance(cust.schema[c].dataType, DoubleType)
        if is_double != (c in PROFILE_DECIMAL_RENDERED):
            raise TypeError(
                f"profile_table: column {c!r} is"
                f" {cust.schema[c].dataType}; update"
                f" PROFILE_DECIMAL_RENDERED so the oracle's rendering"
                f" branch matches the engine's"
            )

        def _s(agg_col, dec=is_double):
            if dec:
                agg_col = agg_col.cast("decimal(28,6)")
            return agg_col.cast("string")

        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            _s(F.min(F.col(c))).alias(f"{c}__min"),
            _s(F.max(F.col(c))).alias(f"{c}__max"),
        ]
    wide = cust.agg(*aggs)
    stack = ", ".join(
        f"'{c}', n_rows, {c}__nulls, {c}__distinct, {c}__min, {c}__max"
        for c in PROFILE_COLUMNS
    )
    return wide.select(
        F.expr(
            f"stack({len(PROFILE_COLUMNS)}, {stack}) AS"
            " (column_name, n_rows, n_nulls, n_distinct,"
            " min_value, max_value)"
        )
    )


BASKET_MIN_SUPPORT = 2


def q_ext_basket_pairs(spark, sf_dir):
    """Market-basket co-occurrence: part pairs appearing together in at
    least BASKET_MIN_SUPPORT orders — the affinity-analysis primitive
    behind 'frequently bought together'.

    Scale shape (r12 — guide §2.4): ONE l_orderkey aggregation collects
    each order's distinct sorted basket, ordered pairs expand IN-ARRAY
    (the minhash bucket idiom — bounded by basket size squared PER
    ORDER, ~7 items -> <=21 pairs, never corpus-quadratic), and the
    explode feeds the pair-frequency rollup's partial aggregation
    inside the same stage. Two exchanges total (basket groupBy + pair
    groupBy). The r11 shape was distinct + a within-order self-join —
    four exchanges, with the distinct's (okey, pkey)-hashed output
    re-shuffled on okey for BOTH join sides; same pair multiset, same
    counts (collect_set == the distinct, sorted order == part_a <
    part_b), adjudicated A/B and oracle-checked.
    """
    baskets = (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ids"))
    )
    # Narrower shuffle key (r13, guide §2.3): while every part key
    # provably fits in 31 bits — checked against the lineitem footers'
    # l_partkey column statistics, no Spark job — the ordered pair rides
    # the pair-frequency exchange PACKED into one BIGINT
    # (part_a << 32 | part_b; a bijection for 0 <= key < 2^31) and is
    # decoded after the aggregation. The rollup's shuffle rows shrink
    # from two BIGINT key columns + partial count (24 B) to one + count
    # (16 B), and the hash-agg keys on one long instead of a two-column
    # row — the rollup stage was ~39 s of the sf10 run. Pair multiset,
    # counts, and output schema are unchanged (sorted array + slice(i+2)
    # still yields exactly the part_a < part_b distinct pairs; decode is
    # exact). Corpora past the 31-bit bound — or with footers missing
    # the statistic — keep the unpacked shape.
    pk_range = footer_col_minmax(sf_dir, "lineitem", "l_partkey")
    if pk_range and 0 <= pk_range[0] and pk_range[1] < (1 << 31):
        packed_expr = (
            "flatten(transform(ids, (x, i) -> transform(slice(ids, i + 2,"
            " size(ids)), y -> shiftleft(x, 32) + y)))"
        )
        return (
            baskets.select(F.explode(F.expr(packed_expr)).alias("pk"))
            .groupBy("pk")
            .agg(F.count(F.lit(1)).alias("n_orders"))
            .filter(F.col("n_orders") >= BASKET_MIN_SUPPORT)
            .select(
                F.shiftrightunsigned("pk", 32).alias("part_a"),
                F.expr("pk & 4294967295").alias("part_b"),
                "n_orders",
            )
        )
    pairs_expr = (
        "flatten(transform(ids, (x, i) -> transform(slice(ids, i + 2,"
        " size(ids)), y -> struct(x AS part_a, y AS part_b))))"
    )
    return (
        baskets.select(F.explode(F.expr(pairs_expr)).alias("p"))
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= BASKET_MIN_SUPPORT)
    )


FUZZY_MAX_DIST = 1

_DELETE_KEYS = (
    "transform(sequence(0, length(nm)), i ->"
    " IF(i = 0, nm,"
    " concat(substring(nm, 1, i - 1), substring(nm, i + 1))))"
)


def q_ext_fuzzy_join_names(spark, sf_dir):
    """Fuzzy self-match over customer names at edit distance <= 1 — the
    record-linkage pass that finds near-identical entities before (or
    after) a migration merges two systems' customer tables.

    Blocking is SYMMETRIC-DELETE (SymSpell): each name emits itself plus
    every single-character deletion as keys; any two strings within edit
    distance 1 (substitution, insertion, or deletion) are GUARANTEED to
    share a key — so the equi-join on keys is a complete candidate
    generator, not a heuristic, and the cross product never
    materializes (the same shape as the MinHash band join). Candidates
    are then verified with the exact levenshtein distance.

    Scale shape — match DISTINCT names, then expand to id pairs.
    Real corpora duplicate entity names heavily (the sf10 testdata has
    1.5M customers over 15k distinct names), and id-level SymSpell pays
    the candidate join per ID pair: sum(bucket^2) there is 21.8 BILLION
    probes at sf10 (measured), where the distinct-name frame needs only
    ~|names|-scale work. So:
      1. dedup names (one narrow distinct over the scan);
      2. SymSpell key explode + merge-hinted self-join + levenshtein
         verify over DISTINCT names only — each name emits
         array_distinct'd deletion keys (zero-padded names would emit
         one key per zero in a run otherwise, squaring the join output
         per matching pair);
      3. expand matched name pairs back to id pairs with two linear
         equi-joins on name (both orderings of each cross-name match,
         plus the self-match branch for duplicated names) — the
         expansion is exactly the true output plus the discarded
         id_a >= id_b half, no wasted levenshtein, no quadratic probes.
    Every pair appears exactly once by construction (a given (id_a,
    id_b) matches exactly one ordered name pair), so no final distinct.
    The merge hint on the key join keeps the exploded key frame off the
    broadcast path (post-Generate size estimates never grow — the
    dup_rate class); the expansion joins carry post-shuffle frames with
    honest stats, so Catalyst's broadcast choice there scales safely.
    """
    # r13: the spread is HASH ON c_name, not round-robin — every
    # downstream step is name-keyed (the distinct over nm, the
    # id-expansion joins on na/nb), so the name-hashed layout lets the
    # distinct's partial dedup collapse fully per partition and feeds
    # the expansion joins (the dominant cost: the id-pair output is
    # quadratic per name group) without a relayout; round-robin's
    # sortBeforeRepartition local sort also disappears. Interleaved
    # A/B vs round-robin: 1.20x at sf1.0, 1.46x at sf10 (B won every
    # rep). Placement-only change — values identical. Name-skew note:
    # a hot name concentrates cust rows on one partition, but the
    # heavy per-row work (deletion-key explode, levenshtein) runs on
    # the DISTINCT-names frame, a hot name's quadratic id-pair output
    # dominates any input-layout effect in both shapes, and AQE's
    # skew-join splitting covers the expansion joins. The spread has
    # defaultParallelism partitions, so a session with fewer shuffle
    # partitions than cores keeps it.
    cust = (
        t(spark, sf_dir, "customer")
        .repartition(spark.sparkContext.defaultParallelism, F.col("c_name"))
        .select(F.col("c_custkey").alias("id"), F.col("c_name").alias("nm"))
    )
    dn = cust.select("nm").distinct()
    keys = dn.select(
        "nm", F.explode(F.array_distinct(F.expr(_DELETE_KEYS))).alias("k")
    )
    ka = keys.select(F.col("nm").alias("na"), "k")
    kb = keys.select(F.col("nm").alias("nb"), "k")
    cross = (
        ka.join(kb.hint("merge"), "k")
        .filter(F.col("na") < F.col("nb"))
        .select("na", "nb")
        .distinct()
        .withColumn("d", F.levenshtein("na", "nb"))
        .filter(F.col("d") <= FUZZY_MAX_DIST)
    )
    # Ordered name-pair relation: (na, nb, d) meaning "id_a carries na,
    # id_b carries nb". Cross matches expand in both orderings (the
    # id_a < id_b filter decides which applies per id pair); identical
    # names (distance 0) expand within one name group. Both orderings
    # come from ONE explode over the verified pairs — a union of cross
    # with its own swap would replay the whole candidate-verify plan
    # above the distinct's exchange a second time.
    both_orders = cross.select(
        F.explode(F.array(
            F.struct(F.col("na"), F.col("nb"), F.col("d")),
            F.struct(F.col("nb").alias("na"), F.col("na").alias("nb"),
                     F.col("d")),
        )).alias("p")
    ).select("p.*")
    ordered = both_orders.unionByName(
        dn.select(F.col("nm").alias("na"), F.col("nm").alias("nb"),
                  F.lit(0).alias("d"))
    )
    a = cust.select(F.col("id").alias("id_a"), F.col("nm").alias("na"))
    b = cust.select(F.col("id").alias("id_b"), F.col("nm").alias("nb"))
    return (
        a.join(ordered, "na")
        .join(b, "nb")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.col("na").alias("name_a"), F.col("nb").alias("name_b"),
            F.col("d").cast("int").alias("distance"),
        )
    )


def q_ext_migrate_reconcile(spark, sf_dir):
    """Migration reconciliation diff: full-outer compare of the source
    relation against the migrated target by key + row fingerprint,
    reporting matched / missing_in_target per row — the validation pass
    that certifies a migration actually moved every row unchanged. The
    target here is the deterministic 90% md5-bucket subset (simulating a
    partially-completed migration), so the diff is reproducible and
    non-empty in both statuses.

    Scale shape: both sides reduce to (key, fingerprint) before the
    full-outer join — one key-partitioned shuffle of two narrow frames,
    never the wide rows; the fingerprint is a JVM-side md5 over
    stably-stringified columns (doubles excluded: float-to-string
    formats differ across engines and a reconciler should fingerprint
    canonical encodings, not locale-ish renderings).
    """
    src = t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.md5(
            F.concat_ws("|", F.col("c_custkey").cast("string"),
                        "c_name", "c_mktsegment")
        ).alias("row_hash"),
    )
    bucket = F.expr(
        "CAST(conv(substring(md5(CAST(c_custkey AS STRING)), 1, 12), 16,"
        " 10) AS BIGINT) % 100"
    )
    tgt = src.filter(bucket < 90).select(
        F.col("c_custkey").alias("t_key"),
        F.col("row_hash").alias("t_hash"),
    )
    joined = src.join(
        tgt, F.col("c_custkey") == F.col("t_key"), "full_outer"
    )
    return joined.select(
        F.coalesce("c_custkey", "t_key").alias("c_custkey"),
        F.when(F.col("t_key").isNull(), F.lit("missing_in_target"))
        .when(F.col("c_custkey").isNull(), F.lit("missing_in_source"))
        .when(F.col("row_hash") != F.col("t_hash"), F.lit("changed"))
        .otherwise(F.lit("matched"))
        .alias("status"),
    )


# FK edges audited by ext_fk_orphan_audit (child, fk, parent, pk) — the
# same parent-child edges the migration planner nests on.
FK_AUDIT_EDGES = (
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
)


def q_ext_fk_orphan_audit(spark, sf_dir):
    """Referential-integrity audit: for every FK edge the migration plans
    to nest or reference on, count child rows whose FK has no matching
    parent key — the pre-flight check a relational-to-document migration
    runs before embedding children under a parent that may not exist
    (an orphan would silently vanish from the nested output).

    Scale shape: one left join + one-row aggregate per edge (parent keys
    are unique PKs, so the join never multiplies rows; AQE broadcasts
    small parents). Output is |edges| rows — audit-sized. A planted-
    orphan unit test proves the counter actually counts
    (tests/test_fk_orphan_audit.py); on intact testdata every edge
    reports zero orphans, which is the assertion a migration wants.
    """
    frames = []
    for child, fk, parent, pk in FK_AUDIT_EDGES:
        c = t(spark, sf_dir, child).select(F.col(fk).alias("fk_val"))
        p = t(spark, sf_dir, parent).select(
            F.col(pk).alias("fk_val"), F.lit(1).alias("parent_hit")
        )
        frames.append(
            c.join(p, "fk_val", "left")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.count(
                    F.when(F.col("parent_hit").isNull(), F.lit(1))
                ).alias("n_orphans"),
            )
            .select(
                F.lit(child).alias("child_table"),
                F.lit(fk).alias("fk_column"),
                F.lit(parent).alias("parent_table"),
                "n_rows",
                "n_orphans",
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


_INTERCHANGE_DIRS: dict[str, str] = {}


def _interchange_dir(sf_dir: str) -> str:
    """One cached scratch dir per (process, sf_dir) for the round-trip
    interchange sources — repeated builds (driver run, oracle audit,
    plan lint, registry sweeps) overwrite in place instead of leaking a
    fresh mkdtemp table copy per invocation. Keyed by sf_dir: a shared
    dir would let a build for one scale factor overwrite the files a
    STILL-LAZY frame returned for another scale factor reads at action
    time (silent wrong rows, same schema)."""
    import hashlib

    if sf_dir not in _INTERCHANGE_DIRS:
        tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        _INTERCHANGE_DIRS[sf_dir] = scratch_dir(f"sg_interchange_{tag}_")
    return _INTERCHANGE_DIRS[sf_dir]


def q_src_csv_import(spark, sf_dir):
    """CSV interchange source, verified round trip: export `customer`
    (free-text comment column exercises quoting) to headered CSV, read
    it back with the explicit source schema — the flat-file import path
    a relational-to-document migration starts from when no live DB or
    dump exists.

    Scale shape: both directions are distributed (one part-file per
    partition, no driver collect); the read carries an explicit schema,
    so no inference pass over the data. Embedded newlines would force
    multiLine CSV (single-threaded per file — a scale hazard); dataset
    columns have none, and corpora with them belong in the JSONL path
    below.
    """
    cust = t(spark, sf_dir, "customer")
    out = os.path.join(_interchange_dir(sf_dir), "customer_csv")
    cust.write.option("header", True).mode("overwrite").csv(out)
    return spark.read.schema(cust.schema).option("header", True).csv(out)


def q_src_parquet_mergeschema(spark, sf_dir):
    """Schema-evolution read, verified value-for-value: batch 1 is
    written under the OLD schema (no n_regionkey), batch 2 under the
    evolved schema; `mergeSchema` reads the mixed directory as the union
    schema with NULLs for the missing column — the additive-column lake
    pattern that avoids rewriting history when a field is introduced
    mid-stream.

    Scale shape: mergeSchema pays one footer read per file at planning
    time (why it's off by default); data movement is unchanged. Rows
    keep a `batch` marker so the oracle can pin exactly which rows got
    NULL-filled.
    """

    out = os.path.join(scratch_dir("sg_evolve_"), "nation")
    nat = t(spark, sf_dir, "nation")
    old = nat.select(
        "n_nationkey", "n_name", F.lit(1).cast("int").alias("batch")
    )
    new = nat.select(
        "n_nationkey", "n_name", "n_regionkey",
        F.lit(2).cast("int").alias("batch"),
    )
    old.write.mode("overwrite").parquet(out)
    new.write.mode("append").parquet(out)
    merged = spark.read.option("mergeSchema", True).parquet(out)
    return merged.select("n_nationkey", "n_name", "n_regionkey", "batch")


def q_src_jsonl_import(spark, sf_dir):
    """JSON-Lines interchange source, verified round trip: export
    `documents` to JSONL and read it back with the explicit schema —
    the de-facto LLM-corpus interchange format (one JSON object per
    line; embedded newlines/quotes live safely inside JSON escapes, so
    the file stays line-splittable and every partition parses in
    parallel, unlike multiLine CSV).

    Scale shape: distributed write and read, explicit schema (no
    inference scan). JSON omits null fields on write, so the explicit
    read schema is what keeps absent keys typed as nulls.
    """
    docs = t(spark, sf_dir, "documents")
    out = os.path.join(_interchange_dir(sf_dir), "documents_jsonl")
    docs.write.mode("overwrite").json(out)
    return spark.read.schema(docs.schema).json(out)


# ---------------------------------------------------------------------------
# §2.2 projections / filters
# ---------------------------------------------------------------------------


def q_proj_attribute_select(spark, sf_dir):
    """Name-list projection (reference server/DBMigration.js:441-447);
    Catalyst prunes the scan to exactly these columns."""
    return t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


def q_proj_drop_fk_column(spark, sf_dir):
    """One-way embedding drops the child's FK column
    (reference server/DBMigration.js:271-277)."""
    return t(spark, sf_dir, "orders").drop("o_custkey")


def q_proj_rename_ref(spark, sf_dir):
    """Referencing collections rename FK columns *_REF
    (reference server/DBMigration.js:319-333)."""
    df = t(spark, sf_dir, "lineitem")
    for c in ("l_orderkey", "l_partkey", "l_suppkey"):
        df = df.withColumnRenamed(c, c + "_REF")
    return df.select("l_orderkey_REF", "l_partkey_REF", "l_suppkey_REF",
                     "l_linenumber", "l_quantity")


def q_filter_fk_match(spark, sf_dir):
    """The FK match predicate (reference server/DBMigration.js:450) as the
    equi-join it really is."""
    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer")
    return orders.join(
        customer, orders.o_custkey == customer.c_custkey, "inner"
    ).select("o_orderkey", "c_custkey", "c_name")


def q_filter_nonempty_doc(spark, sf_dir):
    """Drop rows where every projected attribute is null (the Spark analog
    of the reference's empty-document filter, server/DBMigration.js:473)."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text", "lang",
                                                "source")
    return docs.na.drop(how="all", subset=["text", "lang", "source"])


def q_filter_nonempty_collection(spark, sf_dir):
    """Drop collections with zero documents from the output set
    (reference server/WriteToFile.js:9-11). `empty_demo` — a collection
    whose filter matches nothing — must vanish from the result."""
    counts = q_agg_count_star(spark, sf_dir).withColumnRenamed(
        "table_name", "collection"
    ).withColumnRenamed("num_rows", "n_docs")
    empty = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 0)
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(F.lit("empty_demo").alias("collection"), "n_docs")
    )
    return counts.unionByName(empty).filter(F.col("n_docs") > 0)


def q_sink_json_collections(spark, sf_dir):
    """Round-trip through the JSON collection sink (reference
    server/WriteToFile.js:5-62): migrate, write every non-empty collection
    as distributed JSON, return per-collection doc counts.
    Oracle: nesting preserves root-table row counts, so the expected frame
    is COUNT(*) per root collection straight from the base tables (the
    root set is pinned by the plan golden, operators/plan_golden.json)."""
    import shutil

    from relational_to_doc_oriented_nosql_migrator_spark.engine import migrate
    from relational_to_doc_oriented_nosql_migrator_spark.sinks import (
        write_json_collections,
    )

    out_dir = __import__("tempfile").mkdtemp(prefix="sink_json_")
    try:
        counts: dict[str, int] = {}
        written = write_json_collections(migrate(spark, sf_dir), out_dir,
                                         counts=counts)
        # Doc counts are write-time byproducts: an observe() metric on
        # each write job, no read-back pass over the written bytes.
        # tests/test_sink.py pins counts == written line counts.
        rows = sorted((name, counts[name]) for name in written)
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    return spark.createDataFrame(rows, "collection string, n_docs long")


# ---------------------------------------------------------------------------
# §2.3 joins
# ---------------------------------------------------------------------------


def nest_one_to_many_df(spark, sf_dir):
    """The workhorse 1:N nesting join (reference server/DBMigration.js:
    405-522, O(P x C) nested loop) as aggregate-then-join: one shuffle of
    orders keyed by FK, then a broadcast/SMJ join chosen by Catalyst.

    Returns the real nested type (`orders array<struct>`); the registered
    query wrapper stringifies it (the driver's canonicalizer can't sort
    list-typed pandas columns)."""
    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer")
    nested = orders.groupBy("o_custkey").agg(
        F.array_sort(
            F.collect_list(
                F.struct("o_orderkey", "o_orderstatus", "o_totalprice")
            )
        ).alias("orders")
    )
    return customer.select("c_custkey", "c_name").join(
        nested, customer.c_custkey == nested.o_custkey, "left"
    ).select("c_custkey", "c_name", "orders")


def nest_salted_df(spark, sf_dir):
    """Salted two-phase variant of `nest_one_to_many_df` (SURVEY §7.2
    step 7): children first aggregate per (fk, salt) so a hot parent's
    millions of children spread over SALT reducers, then the SALT
    partial arrays merge per fk. Same result.

    MEASURED SCOPE (r11 planted-skew adjudication, interleaved A/B on
    15M orders with 10% and 50% of rows on ONE customer): salting the
    nest aggregation is a WALL-CLOCK LOSS at both skew levels (50.7s vs
    26.1s trimmed at 50% hot on local[32]/8GB, ratio 0.515; values
    identical) — the stage-2 reshuffle of document-sized partial arrays
    costs more than the single-task straggler it removes, and the
    per-key flatten+sort merge is serial either way. Nor does it buy
    survival: at a 1 GB heap both variants OOM in the collect_list
    ArrayBuffer itself, because ONE 7.5M-child document row is the
    floor no matter how its inputs were spread. What salting does bound
    is the stage-1 shuffle-write buffer per task. The engine's real
    answers to this shape are volume-scaled FK repartition + sort-based
    aggregation (plans/nesting._attach_embedded) for many-moderate
    groups, and the planner's 16 MiB mean-document cap
    (plans/planner.py), which references a child instead of building
    giant documents — this op stays registered as the canonical salting
    shape with its trade-offs measured, not assumed."""
    salt_buckets = 8
    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer")
    partial = (
        orders.withColumn(
            "salt", F.pmod(F.hash("o_orderkey"), F.lit(salt_buckets))
        )
        .groupBy("o_custkey", "salt")
        .agg(
            F.collect_list(
                F.struct("o_orderkey", "o_orderstatus", "o_totalprice")
            ).alias("part")
        )
    )
    nested = partial.groupBy("o_custkey").agg(
        F.array_sort(F.flatten(F.collect_list("part"))).alias("orders")
    )
    return customer.select("c_custkey", "c_name").join(
        nested, customer.c_custkey == nested.o_custkey, "left"
    ).select("c_custkey", "c_name", "orders")


def _orders_as_string(col):
    """Canonical string form of the nested `orders array<struct>` column:
    rows joined with ';', fields with '|', doubles routed through
    decimal(18,6) so Spark and DuckDB print identical digits (same
    convention as dec_sum). NULL array (no children) stays NULL."""
    return F.array_join(
        F.transform(
            col,
            lambda s: F.concat_ws(
                "|",
                s["o_orderkey"].cast("string"),
                s["o_orderstatus"],
                s["o_totalprice"].cast("decimal(18,6)").cast("string"),
            ),
        ),
        ";",
    )


# DuckDB twin of _orders_as_string, inlined in the nest oracles below.
_SQL_ORDERS_AS_STRING = (
    "CASE WHEN COUNT(o_orderkey) = 0 THEN NULL ELSE"
    " string_agg(concat_ws('|', CAST(o_orderkey AS VARCHAR), o_orderstatus,"
    " CAST(CAST(o_totalprice AS DECIMAL(18,6)) AS VARCHAR)), ';'"
    " ORDER BY o_orderkey) END"
)


def q_join_nest_one_to_many(spark, sf_dir):
    """Registered wrapper over `nest_one_to_many_df` with the nested array
    serialized to a canonical string (driver-canonicalizer-safe)."""
    return nest_one_to_many_df(spark, sf_dir).select(
        "c_custkey", "c_name", _orders_as_string(F.col("orders")).alias("orders")
    )


def q_join_nest_salted(spark, sf_dir):
    """Registered wrapper over `nest_salted_df`, stringified like
    `q_join_nest_one_to_many` (same oracle must match both)."""
    return nest_salted_df(spark, sf_dir).select(
        "c_custkey", "c_name", _orders_as_string(F.col("orders")).alias("orders")
    )


def q_agg_collect_children(spark, sf_dir):
    """The nesting aggregate alone (reference server/DBMigration.js:515-517):
    children grouped per parent key into a sorted array, serialized to a
    comma-joined string for the driver canonicalizer."""
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.array_join(
                F.sort_array(F.collect_list("o_orderkey")).cast(
                    "array<string>"
                ),
                ",",
            ).alias("order_keys")
        )
    )


def q_join_denormalize_m2m(spark, sf_dir):
    """M:N fan-out merge (reference server/DBMigration.js:524-575): junction
    row joined to the other dimension, attributes flattened into one doc.
    The reference's per-row point probe becomes one broadcast join."""
    lineitem = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    return lineitem.join(
        F.broadcast(part), lineitem.l_partkey == part.p_partkey, "inner"
    ).select("l_orderkey", "l_linenumber", "l_quantity", "p_name", "p_brand",
             "p_retailprice")


def q_join_meta_left(spark, sf_dir):
    """INFORMATION_SCHEMA.TABLES left-join KEY_COLUMN_USAGE -> FK count per
    table (reference server/MySQLDBManager.js:99-111)."""
    tables = _meta_tables_df(spark)
    fks = _meta_fk_df(spark)
    return (
        tables.join(fks, "table_name", "left")
        .groupBy("table_name")
        .agg(F.count("referenced_table").alias("num_foreign_keys"))
    )


def q_join_meta_pg_catalog(spark, sf_dir):
    """The pg_catalog 3-way join shape (reference server/PostgresDBManager.
    js:130-147,186-204): FK edges joined to the table list on both ends."""
    fks = _meta_fk_df(spark)
    tables = _meta_tables_df(spark)
    child = tables.withColumnRenamed("table_name", "child_table")
    parent = tables.withColumnRenamed("table_name", "parent_table")
    return (
        fks.join(child, fks.table_name == child.child_table, "inner")
        .join(parent, fks.referenced_table == parent.parent_table, "inner")
        .select("child_table", "column_name", "parent_table",
                "referenced_column")
    )


def q_fn_case_when_referenced(spark, sf_dir):
    """EXISTS semi-join -> human-readable referenced flag
    (reference server/MySQLDBManager.js:101-105)."""
    tables = _meta_tables_df(spark)
    referenced = (
        _meta_fk_df(spark).select(F.col("referenced_table").alias("rt"))
        .distinct()
    )
    joined = tables.join(
        referenced, tables.table_name == referenced.rt, "left"
    )
    return joined.select(
        "table_name",
        case_when_referenced(F.col("rt").isNotNull()).alias(
            "reference_status"
        ),
    )


# ---------------------------------------------------------------------------
# §2.4 aggregations
# ---------------------------------------------------------------------------


def q_agg_count_star(spark, sf_dir):
    """COUNT(*) per table (reference server/MySQLDBManager.js:129-150)."""
    out = None
    for name in TABLES:
        part = (
            t(spark, sf_dir, name)
            .agg(F.count(F.lit(1)).alias("num_rows"))
            .select(F.lit(name).alias("table_name"), "num_rows")
        )
        out = part if out is None else out.unionByName(part)
    return out


def q_agg_fk_count_grouped(spark, sf_dir):
    """COUNT(DISTINCT referenced constraint) per referencing table — the PG
    variant (reference server/PostgresDBManager.js:134)."""
    return (
        _meta_fk_df(spark)
        .groupBy("table_name")
        .agg(F.countDistinct("referenced_table").alias("num_referenced"))
    )


def q_agg_group_concat_ordered(spark, sf_dir):
    """GROUP_CONCAT(col ORDER BY ordinal) — ordered string agg of column
    names (reference server/MySQLDBManager.js:154-159). Spark has no ordered
    collect; sort-by-struct-key then transform recovers determinism."""
    cols = _meta_columns_df(spark)
    return cols.groupBy("table_name").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("ordinal_position", "column_name")
                    )
                ),
                lambda s: s["column_name"],
            ),
            ", ",
        ).alias("table_columns")
    )


def q_agg_group_concat_distinct(spark, sf_dir):
    """GROUP_CONCAT(DISTINCT t ORDER BY t) — referencing-tables list per
    referenced table (reference server/MySQLDBManager.js:231-236)."""
    return (
        _meta_fk_df(spark)
        .groupBy(F.col("referenced_table").alias("table_name"))
        .agg(
            F.array_join(
                F.array_sort(F.collect_set("table_name")), ", "
            ).alias("referencing_tables")
        )
    )


def q_agg_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped pricing summary over lineitem — the headline scan+agg
    (sums routed through decimal for cross-engine determinism)."""
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz")
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum("l_quantity").alias("sum_qty"),
            dec_sum("l_extendedprice").alias("sum_base_price"),
            dec_sum(disc).alias("sum_disc_price"),
            dec_sum(charge).alias("sum_charge"),
            dec_avg("l_quantity").alias("avg_qty"),
            dec_avg("l_extendedprice").alias("avg_price"),
            dec_avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# §2.5 sort + §2.8 scalar functions
# ---------------------------------------------------------------------------


def q_sort_meta_output(spark, sf_dir):
    """ORDER BY table_name over the FK-count summary
    (reference server/PostgresDBManager.js:160-162)."""
    return q_join_meta_left(spark, sf_dir).orderBy("table_name")


def q_fn_date_normalize(spark, sf_dir):
    """Timestamp -> Asia/Bangkok 'yyyy-MM-dd' string (reference
    server/MySQLDBManager.js:268-276; type-scoped per SURVEY §1.1)."""
    return t(spark, sf_dir, "orders").select(
        "o_orderkey", date_normalize(F.col("o_orderdate")).alias("order_date")
    )


def q_fn_split_trim(spark, sf_dir):
    """Split + trim of a joined list (reference server/DBMigration.js:73).
    The token array is serialized '|'-joined for the driver canonicalizer;
    functions.scalar.split_trim remains the array-returning primitive."""
    return t(spark, sf_dir, "part").select(
        "p_partkey",
        F.array_join(split_trim(F.col("p_type"), " "), "|").alias(
            "type_tokens"
        ),
    )


def q_fn_whitespace_normalize(spark, sf_dir):
    """Collapse whitespace runs + trim (reference server/LogManager.js:24)."""
    return t(spark, sf_dir, "documents").select(
        "doc_id", whitespace_normalize(F.col("text")).alias("norm_text")
    )


QUERIES = {
    "src_full_scan": q_src_full_scan,
    "src_sql_dump_import": q_src_sql_dump_import,
    "src_indexed_lookup": q_src_indexed_lookup,
    "src_csv_import": q_src_csv_import,
    "src_jsonl_import": q_src_jsonl_import,
    "src_parquet_mergeschema": q_src_parquet_mergeschema,
    "ext_fk_orphan_audit": q_ext_fk_orphan_audit,
    "ext_migrate_reconcile": q_ext_migrate_reconcile,
    "ext_fuzzy_join_names": q_ext_fuzzy_join_names,
    "ext_basket_pairs": q_ext_basket_pairs,
    "ext_profile_table": q_ext_profile_table,
    "ext_skew_report": q_ext_skew_report,
    "proj_attribute_select": q_proj_attribute_select,
    "proj_drop_fk_column": q_proj_drop_fk_column,
    "proj_rename_ref": q_proj_rename_ref,
    "filter_fk_match": q_filter_fk_match,
    "filter_nonempty_doc": q_filter_nonempty_doc,
    "filter_nonempty_collection": q_filter_nonempty_collection,
    "sink_json_collections": q_sink_json_collections,
    "join_nest_one_to_many": q_join_nest_one_to_many,
    "join_nest_salted": q_join_nest_salted,
    "agg_collect_children": q_agg_collect_children,
    "join_denormalize_m2m": q_join_denormalize_m2m,
    "join_meta_left": q_join_meta_left,
    "join_meta_pg_catalog": q_join_meta_pg_catalog,
    "fn_case_when_referenced": q_fn_case_when_referenced,
    "agg_count_star": q_agg_count_star,
    "agg_fk_count_grouped": q_agg_fk_count_grouped,
    "agg_group_concat_ordered": q_agg_group_concat_ordered,
    "agg_group_concat_distinct": q_agg_group_concat_distinct,
    "agg_pricing_summary": q_agg_pricing_summary,
    "sort_meta_output": q_sort_meta_output,
    "fn_date_normalize": q_fn_date_normalize,
    "fn_split_trim": q_fn_split_trim,
    "fn_whitespace_normalize": q_fn_whitespace_normalize,
}


def _oracles() -> dict[str, str]:
    meta_t, meta_k, meta_c = sql_meta_tables(), sql_meta_fk(), sql_meta_columns()
    counts_union = " UNION ALL ".join(
        f"SELECT '{n}' AS table_name, COUNT(*) AS num_rows FROM {n}"
        for n in TABLES
    )
    return {
        "src_full_scan": "SELECT * FROM nation",
        "src_sql_dump_import":
            "SELECT * FROM (VALUES"
            " (1::BIGINT, 'eng', 100.50::DOUBLE, DATE '2024-01-02'),"
            " (2::BIGINT, 'ops', 20.25::DOUBLE, DATE '2024-03-04'),"
            " (3::BIGINT, 'hr', NULL::DOUBLE, NULL::DATE)"
            ") AS dept(id, name, budget, est)",
        # Same semantics as join_nest_one_to_many (salting is purely a
        # physical-plan change), so the same oracle must match both.
        "join_nest_salted":
            f"SELECT c_custkey, c_name, {_SQL_ORDERS_AS_STRING} AS orders"
            " FROM customer LEFT JOIN orders ON c_custkey = o_custkey"
            " GROUP BY c_custkey, c_name",
        "src_indexed_lookup": "SELECT * FROM orders WHERE o_custkey = 7",
        # Round-trip sources: a lossless interchange write+read must hand
        # back exactly the base relation.
        "src_csv_import": "SELECT * FROM customer",
        "src_jsonl_import": "SELECT * FROM documents",
        # Old-schema rows surface with a NULL for the evolved column.
        "src_parquet_mergeschema":
            "SELECT n_nationkey, n_name, CAST(NULL AS INTEGER)"
            " AS n_regionkey, 1 AS batch FROM nation"
            " UNION ALL SELECT n_nationkey, n_name, n_regionkey, 2"
            " FROM nation",
        "ext_skew_report": f"""
WITH per_key AS (
  SELECT o_custkey, COUNT(*) AS n_rows FROM orders GROUP BY o_custkey
),
tot AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS total FROM per_key)
SELECT rank, o_custkey, n_rows,
       round(n_rows::DOUBLE / total, 6) AS share
FROM (
  SELECT o_custkey, n_rows,
         row_number() OVER (ORDER BY n_rows DESC, o_custkey ASC) AS rank
  FROM per_key
), tot
WHERE rank <= {SKEW_TOP_K}
""",
        # TYPED min/max then stringify (a VARCHAR-typed MIN would be
        # lexicographic — numerically wrong for key/balance columns).
        # Doubles route through DECIMAL(28,6) to pin a fixed-point
        # rendering on both engines (raw double->string goes scientific
        # at different magnitudes per engine).
        "ext_profile_table": " UNION ALL ".join(
            f"SELECT '{c}' AS column_name, COUNT(*) AS n_rows,"
            f" SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)::BIGINT"
            f" AS n_nulls,"
            f" COUNT(DISTINCT {c}) AS n_distinct,"
            + (
                f" CAST(CAST(MIN({c}) AS DECIMAL(28,6)) AS VARCHAR)"
                f" AS min_value,"
                f" CAST(CAST(MAX({c}) AS DECIMAL(28,6)) AS VARCHAR)"
                f" AS max_value"
                if c in PROFILE_DECIMAL_RENDERED else
                f" CAST(MIN({c}) AS VARCHAR) AS min_value,"
                f" CAST(MAX({c}) AS VARCHAR) AS max_value"
            )
            + f" FROM customer"
            for c in PROFILE_COLUMNS
        ),
        "ext_basket_pairs": f"""
WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
       COUNT(*) AS n_orders
FROM d a JOIN d b ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
HAVING COUNT(*) >= {BASKET_MIN_SUPPORT}
""",
        "ext_fuzzy_join_names": f"""
WITH nm AS (SELECT c_custkey AS id, c_name AS nm FROM customer),
keys AS (
  SELECT id, nm,
         unnest([CASE WHEN i = 0 THEN nm
                      ELSE substr(nm, 1, i - 1) || substr(nm, i + 1)
                 END
                 for i in generate_series(0, length(nm))]) AS k
  FROM nm
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                  a.nm AS name_a, b.nm AS name_b
  FROM keys a JOIN keys b ON a.k = b.k AND a.id < b.id
)
SELECT id_a, id_b, name_a, name_b,
       CAST(levenshtein(name_a, name_b) AS INT) AS distance
FROM cand
WHERE levenshtein(name_a, name_b) <= {FUZZY_MAX_DIST}
""",
        "ext_migrate_reconcile": """
WITH src AS (
  SELECT c_custkey,
         md5(concat_ws('|', CAST(c_custkey AS VARCHAR), c_name,
                       c_mktsegment)) AS row_hash
  FROM customer
),
tgt AS (
  SELECT c_custkey AS t_key, row_hash AS t_hash FROM src
  WHERE ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 12))::BIGINT
        % 100 < 90
)
SELECT COALESCE(s.c_custkey, t.t_key) AS c_custkey,
       CASE WHEN t.t_key IS NULL THEN 'missing_in_target'
            WHEN s.c_custkey IS NULL THEN 'missing_in_source'
            WHEN s.row_hash <> t.t_hash THEN 'changed'
            ELSE 'matched'
       END AS status
FROM src s FULL OUTER JOIN tgt t ON s.c_custkey = t.t_key
""",
        "ext_fk_orphan_audit": " UNION ALL ".join(
            f"SELECT '{child}' AS child_table, '{fk}' AS fk_column,"
            f" '{parent}' AS parent_table, COUNT(*) AS n_rows,"
            f" COUNT(CASE WHEN p.{pk} IS NULL THEN 1 END) AS n_orphans"
            f" FROM {child} c LEFT JOIN {parent} p ON c.{fk} = p.{pk}"
            for child, fk, parent, pk in FK_AUDIT_EDGES
        ),
        "proj_attribute_select":
            "SELECT c_custkey, c_name, c_mktsegment FROM customer",
        "proj_drop_fk_column":
            "SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate,"
            " o_orderpriority FROM orders",
        "proj_rename_ref":
            "SELECT l_orderkey AS l_orderkey_REF, l_partkey AS l_partkey_REF,"
            " l_suppkey AS l_suppkey_REF, l_linenumber, l_quantity"
            " FROM lineitem",
        "filter_nonempty_collection": (
            "SELECT collection, n_docs FROM ("
            + " UNION ALL ".join(
                f"SELECT '{n}' AS collection, COUNT(*) AS n_docs FROM {n}"
                for n in TABLES
            )
            + " UNION ALL SELECT 'empty_demo' AS collection, COUNT(*) AS"
            " n_docs FROM orders WHERE o_orderkey < 0"
            ") WHERE n_docs > 0"
        ),
        "filter_fk_match":
            "SELECT o_orderkey, c_custkey, c_name FROM orders"
            " JOIN customer ON o_custkey = c_custkey",
        "filter_nonempty_doc":
            "SELECT doc_id, text, lang, source FROM documents WHERE NOT"
            " (text IS NULL AND lang IS NULL AND source IS NULL)",
        "join_nest_one_to_many":
            f"SELECT c_custkey, c_name, {_SQL_ORDERS_AS_STRING} AS orders"
            " FROM customer LEFT JOIN orders ON c_custkey = o_custkey"
            " GROUP BY c_custkey, c_name",
        "agg_collect_children":
            "SELECT o_custkey, string_agg(CAST(o_orderkey AS VARCHAR), ','"
            " ORDER BY o_orderkey) AS order_keys"
            " FROM orders GROUP BY o_custkey",
        "join_denormalize_m2m":
            "SELECT l_orderkey, l_linenumber, l_quantity, p_name, p_brand,"
            " p_retailprice FROM lineitem JOIN part ON l_partkey = p_partkey",
        "join_meta_left":
            f"SELECT t.table_name, COUNT(k.referenced_table) AS"
            f" num_foreign_keys FROM {meta_t} LEFT JOIN {meta_k}"
            f" ON t.table_name = k.table_name GROUP BY t.table_name",
        "join_meta_pg_catalog":
            f"SELECT k.table_name AS child_table, k.column_name,"
            f" k.referenced_table AS parent_table, k.referenced_column"
            f" FROM {meta_k} JOIN {meta_t} ON k.table_name = t.table_name"
            f" JOIN {sql_meta_tables().replace(' AS t(', ' AS p(')}"
            f" ON k.referenced_table = p.table_name",
        "fn_case_when_referenced":
            f"SELECT t.table_name, CASE WHEN EXISTS (SELECT 1 FROM {meta_k}"
            f" WHERE k.referenced_table = t.table_name)"
            f" THEN 'Referenced by other tables'"
            f" ELSE 'Not referenced by other tables' END AS reference_status"
            f" FROM {meta_t}",
        "agg_count_star": counts_union,
        "agg_fk_count_grouped":
            f"SELECT k.table_name, COUNT(DISTINCT k.referenced_table) AS"
            f" num_referenced FROM {meta_k} GROUP BY k.table_name",
        "agg_group_concat_ordered":
            f"SELECT c.table_name, string_agg(c.column_name, ', ' ORDER BY"
            f" c.ordinal_position) AS table_columns FROM {meta_c}"
            f" GROUP BY c.table_name",
        "agg_group_concat_distinct":
            f"SELECT k.referenced_table AS table_name,"
            f" string_agg(DISTINCT k.table_name, ', ' ORDER BY k.table_name)"
            f" AS referencing_tables FROM {meta_k} GROUP BY k.referenced_table",
        "agg_pricing_summary":
            "SELECT l_returnflag, l_linestatus,"
            f" {sql_dec_sum('l_quantity')} AS sum_qty,"
            f" {sql_dec_sum('l_extendedprice')} AS sum_base_price,"
            f" {sql_dec_sum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,"
            f" {sql_dec_sum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,"
            f" {sql_dec_avg('l_quantity')} AS avg_qty,"
            f" {sql_dec_avg('l_extendedprice')} AS avg_price,"
            f" {sql_dec_avg('l_discount')} AS avg_disc,"
            " COUNT(*) AS count_order"
            " FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'"
            " GROUP BY l_returnflag, l_linestatus",
        "sort_meta_output":
            f"SELECT t.table_name, COUNT(k.referenced_table) AS"
            f" num_foreign_keys FROM {meta_t} LEFT JOIN {meta_k}"
            f" ON t.table_name = k.table_name GROUP BY t.table_name"
            f" ORDER BY t.table_name",
        "fn_date_normalize":
            "SELECT o_orderkey, strftime(o_orderdate + INTERVAL 7 HOUR,"
            " '%Y-%m-%d') AS order_date FROM orders",
        "fn_split_trim":
            "SELECT p_partkey, array_to_string(list_transform("
            "string_split(p_type, ' '), x -> trim(x)), '|') AS type_tokens"
            " FROM part",
        "fn_whitespace_normalize":
            "SELECT doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g'))"
            " AS norm_text FROM documents",
        # Root collections are pinned by the plan golden
        # (operators/plan_golden.json); nesting never changes a root's
        # cardinality, so expected doc counts come from the base tables.
        "sink_json_collections": (
            "SELECT collection, n_docs FROM ("
            + " UNION ALL ".join(
                f"SELECT '{n}' AS collection, COUNT(*) AS n_docs FROM {n}"
                for n in ("documents", "embeddings", "events", "lineitem",
                          "part", "region")
            )
            + ")"
        ),
    }


ORACLES = _oracles()
