"""Shared helpers for operator builders."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from relational_to_doc_oriented_nosql_migrator_spark.sources.parquet import (
    load_table,
    parquet_paths,
    read_footer,
)


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Vanilla sessions get the huge-method codegen fallback inside
    # load_table's ensure_runtime_confs (see session.ensure_codegen_confs
    # — fused whole-stage methods past HotSpot's 8000-byte JIT ceiling
    # otherwise run interpreted, 7.7x on the similarity assignment loops).
    return load_table(spark, sf_dir, name)


_SCRATCH_DIRS: list[str] = []
# (semanticHash, schema, npart) -> [(staged DataFrame, parquet path)].
# semanticHash is a 32-bit Java hashCode, so distinct plans CAN collide
# on the key; each hit is re-verified with df.sameSemantics before
# reuse, so a collision degrades to a cache miss (extra list entry),
# never to serving another query's staged ranking data. See
# global_row_number. Cleared by cleanup_scratch().
_GRNK_STAGE_CACHE: dict[tuple, list] = {}


def scratch_dir(prefix: str) -> str:
    """mkdtemp whose removal is registered at process exit: round-trip
    sink/source operators materialize real files per invocation (that IS
    the operator), and the returned frames read them lazily — so cleanup
    can't happen in-operator, but an un-registered mkdtemp accumulates a
    table copy per call across a driver run. atexit bounds the leak to
    the process lifetime; long-lived harnesses that exit via os.execv /
    os._exit (which SKIP atexit — the sweep/probe rotation paths) must
    call cleanup_scratch() explicitly before replacing the process."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, True)
    _SCRATCH_DIRS.append(d)
    return d


def cleanup_scratch() -> None:
    """Remove every scratch dir this process created — for callers that
    terminate via os.execv / os._exit, where atexit never runs (at sf10
    a single global-rank staging dir is hundreds of MB; a rotating probe
    would otherwise leak one per generation until /tmp fills)."""
    import shutil

    _GRNK_STAGE_CACHE.clear()  # entries point into the dirs removed below
    while _SCRATCH_DIRS:
        shutil.rmtree(_SCRATCH_DIRS.pop(), True)


def footer_rows(sf_dir: str, name: str) -> int:
    """Table row count from parquet FOOTER metadata only — no Spark job
    (the planner's catalog trick)."""
    return read_footer(sf_dir, name).num_rows


def footer_col_minmax(
    sf_dir: str, name: str, col: str
) -> tuple[int, int] | None:
    """(min, max) of a column across a table's parquet FOOTER column
    statistics — no Spark job. Returns None when any row group lacks
    the statistic (callers must then take their conservative path)."""
    import pyarrow.parquet as pq

    lo, hi = None, None
    for p in parquet_paths(sf_dir, name):
        md = pq.read_metadata(p)
        try:
            idx = md.schema.names.index(col)
        except ValueError:
            return None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                return None
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
    return None if lo is None else (lo, hi)


def global_row_number(
    df: DataFrame,
    order_cols: list[Column],
    out: str = "_grnk",
    total_out: str | None = None,
) -> DataFrame:
    """Exact global row_number over a total order WITHOUT funneling the
    frame through one partition (`Window.orderBy` with no partition key
    executes on a single task — the whole job at 100 TB).

    The distributed zipWithIndex construction:
      1. range-repartition on the order key (sampled cut points; equal
         keys never straddle a range boundary, and callers include a
         unique tiebreak column so the order is total), stamp each row
         with its range-partition id, and MATERIALIZE that frame to
         scratch parquet — freezing _pid as DATA;
      2. row_number PER range partition — parallel windows keyed on the
         stored _pid column;
      3. add per-partition row-count offsets. The counts frame has at
         most spark.sql.shuffle.partitions rows (bounded by config, not
         by the corpus), so its cumulative-sum window is legitimately
         single-partition over a metadata-scale frame, and it joins back
         by broadcast.

    The materialization in step 1 is load-bearing for CORRECTNESS, not a
    cache (r05 ADVICE): the rank branch and the counts branch both
    consume _pid, and when they were two lazy branches over the same
    repartitionByRange, agreement depended on ReuseExchange deduplicating
    the shuffle — which silently FAILS when column pruning makes the two
    exchange subtrees non-canonical (observed on the perplexity-bucket
    plan: two range exchanges executed, each sampling its own cut
    points — offsets joined against mismatched _pid populations would
    corrupt every rank near a drifted boundary). With _pid stored in
    parquet, both branches read identical bytes; no optimizer behavior
    can diverge them. Cost: one write + two reads of the NARROW
    (order-cols + payload) frame — linear, split-parallel, and tiny next
    to the window itself at any scale. Rank arithmetic is bigint; the
    floor-of-double divisions in exact_ntile stay integer-exact below
    2^53 rows.

    When ``total_out`` is set, the total row count rides along on the
    same broadcast offsets frame (an unbounded-frame sum over the counts
    window) — no extra join or count() action.
    """
    spark = df.sparkSession
    npart = int(spark.conf.get("spark.sql.shuffle.partitions"))
    staged = df.repartitionByRange(npart, *order_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    # NOTE eager side effect (r06 ADVICE): the staging write runs at
    # plan-CONSTRUCTION time — merely BUILDING a plan that embeds a
    # global rank executes a Spark job and holds one scratch parquet
    # copy of the narrow frame until cleanup_scratch()/process exit.
    # The memo below bounds that to ONE copy per distinct staged plan
    # per process (semanticHash keys Catalyst-canonicalized plans, so
    # rebuilding the same query — plan lints, registry enumeration,
    # repeated harness builds — reuses the first write instead of
    # accumulating one corpus-scale copy each). An in-process source
    # REGENERATION at the same path keeps the same key — callers that
    # rewrite inputs mid-process must cleanup_scratch() (the test
    # fixtures and the sweep/probe rotation paths already do).
    import os

    key = (staged.semanticHash(), staged.schema.json(), npart)
    entries = _GRNK_STAGE_CACHE.setdefault(key, [])
    path = None
    live = []
    for cached_df, cached_path in entries:
        if not os.path.isdir(cached_path):
            continue  # scratch dir swept — evict (drop from `live`)
        try:
            same = staged.sameSemantics(cached_df)
        except Exception:
            # cached frame belongs to a stopped session (dead JVM
            # handle) — unusable, evict so later calls neither re-pay
            # the Py4J exception round-trip nor pin the plan tree on
            # the heap for process lifetime
            continue
        live.append((cached_df, cached_path))
        if path is None and same:
            path = cached_path
    entries[:] = live
    if path is None:
        path = scratch_dir("grnk_")
        staged.write.mode("overwrite").parquet(path)
        entries.append((staged, path))
    d = spark.read.parquet(path)
    local = F.row_number().over(
        Window.partitionBy("_pid").orderBy(*order_cols)
    )
    cnt = d.groupBy("_pid").agg(F.count(F.lit(1)).alias("_pc"))
    w = Window.orderBy("_pid")
    off_cols = [
        F.col("_pid"),
        F.coalesce(
            F.sum("_pc").over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("_off"),
    ]
    if total_out is not None:
        off_cols.append(
            F.sum("_pc")
            .over(
                w.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
            .alias(total_out)
        )
    off = cnt.select(*off_cols)
    return (
        d.withColumn("_local", local)
        .join(F.broadcast(off), "_pid")
        .withColumn(out, (F.col("_off") + F.col("_local")).cast("bigint"))
        .drop("_pid", "_local", "_off")
    )


def exact_ntile(rank: Column, total: Column, n: int) -> Column:
    """SQL NTILE(n) derived arithmetically from an exact global rank —
    no window: the first (total % n) buckets take floor(total/n)+1 rows,
    the rest floor(total/n) (the standard NTILE fill rule, matched by
    both Spark's and DuckDB's native ntile). Integer-exact below 2^53
    rows (bigint-through-double floor division)."""
    q = F.floor(total / F.lit(n)).cast("bigint")
    rem = (total % F.lit(n)).cast("bigint")
    big = q + F.lit(1)
    cut = rem * big
    r0 = rank - F.lit(1)
    return (
        F.when(rank <= cut, F.floor(r0 / big))
        .otherwise(rem + F.floor((r0 - cut) / F.greatest(q, F.lit(1))))
        + F.lit(1)
    ).cast("int")


def dec_sum(col: str | Column, scale: int = 6) -> Column:
    """Deterministic double sum: route through exact decimal arithmetic so
    Spark's partial-aggregation order and the DuckDB oracle's sequential sum
    produce bit-identical doubles. (A plain double SUM is order-dependent.)
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(18," + str(scale) + ")")).cast("double")


def dec_avg(col: str | Column, scale: int = 6) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    d = c.cast(f"decimal(18,{scale})")
    return (F.sum(d) / F.count(c)).cast(f"decimal(28,{scale})").cast("double")


def sql_dec_sum(expr: str, scale: int = 6) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE)"


def sql_dec_avg(expr: str, scale: int = 6) -> str:
    return (
        f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) / "
        f"COUNT({expr}) AS DECIMAL(28,{scale})) AS DOUBLE)"
    )
