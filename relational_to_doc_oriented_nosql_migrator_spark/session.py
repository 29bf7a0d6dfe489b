"""SparkSession factory tuned for the engine.

Defaults are chosen for correctness-at-scale first:
- Session timezone pinned to UTC so timestamp semantics are deterministic
  across engines (the DuckDB oracle reads the same naive parquet timestamps).
- Arrow enabled for any pandas-UDF path (vectorized Python boundary).
- Broadcast threshold raised to 64 MiB: every dimension table in the star
  schema (region/nation/customer/supplier/part) should broadcast rather than
  shuffle at any scale factor.
"""

from __future__ import annotations

import os
from typing import TYPE_CHECKING

# pyspark is imported where a session is built: the package __init__
# imports this module, and the driver-side dump path loads no Spark.
if TYPE_CHECKING:
    from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
_PACKAGE_PARENT = os.path.dirname(
    os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "relational-to-doc-migrator-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 << 20))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # HotSpot never JIT-compiles methods over 8000 bytecode bytes
        # (DontCompileHugeMethods): a fused whole-stage method holding a
        # 64-dim unrolled dot product inside a join inner loop crosses
        # that line and silently runs in the bytecode INTERPRETER —
        # measured 205s -> 5.1s (40x) on a 51M-pair centroid-assignment
        # loop at the 100x dataset with the flag. Code cache is raised
        # to fit the bigger compiled bodies. Driver-side flag covers the
        # executors too in local mode; on a real cluster mirror it in
        # spark.executor.extraJavaOptions.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:-DontCompileHugeMethods -XX:ReservedCodeCacheSize=512m",
        )
        .config(
            "spark.executor.extraJavaOptions",
            "-XX:-DontCompileHugeMethods -XX:ReservedCodeCacheSize=512m",
        )
        .config("spark.ui.enabled", "false")
        # NOTE on spark.cleaner.periodicGC.interval: deliberately LEFT AT
        # the 30min default here. ContextCleaner frees broadcast/shuffle
        # residue only when the driver GC collects the weak refs, and a
        # long-lived driver running hundreds of heavy ops can OOM before
        # a natural full GC (the r06 sf10 JSON-sink incident) — but an
        # aggressive 1min interval measured +17% across the whole bench
        # suite (forced full GCs stall every query). Long-running
        # multi-op harnesses opt in via extra_conf (the sf10 probe script
        # in git history at a6e084f did); per-query sessions must not pay
        # for it.
        # The testdata parquet carries TIMESTAMP(NANOS), which Spark has no
        # native type for; read as long and restore micros timestamps at the
        # source (sources/parquet.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Python tasks (the streamed sink's per-root stitch) import this
        # package on the workers: put its parent directory on their path.
        # Spark merges this with any PYTHONPATH the workers already have.
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        # PySpark 4 records the Python call site of every Column call in
        # the JVM (a session lookup, a conf read and two py4j calls each)
        # for the DataFrame query context of an error. Building the
        # nesting frames makes thousands of such calls; errors keep their
        # Python traceback and message without it.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


_HUGE_METHODS_FLAG = "-XX:-DontCompileHugeMethods"
# HotSpot's DontCompileHugeMethods ceiling: methods over 8000 bytecode
# bytes are never JIT-compiled (they run in the bytecode interpreter).
_HOTSPOT_HUGE_METHOD_BYTES = "8000"
_SPARK_HUGE_METHOD_DEFAULT = "65535"
_CODEGEN_CONF_DONE: set[str] = set()


def _wants_huge_method_fallback(
    jvm_args: str, executor_opts: str, current_limit: str
) -> bool:
    """Decision core of ensure_codegen_confs, factored pure for tests:
    lower the codegen huge-method limit only when (a) no JVM in the job
    carries the -XX:-DontCompileHugeMethods flag and (b) the limit still
    sits at Spark's default (an explicit user setting wins).

    Known blind spot, accepted: a user who explicitly pins the limit TO
    the default 65535 is indistinguishable from an unset conf here (the
    conf API returns the default either way), so the fallback still
    fires. The override is value-preserving — it only trades fused-
    interpreted execution for split-JIT — and anyone deliberately
    pinning 65535 without the JIT flag would be re-enabling interpreted
    hot loops; pin any OTHER value (e.g. 65534) to opt out exactly."""
    if _HUGE_METHODS_FLAG in jvm_args or _HUGE_METHODS_FLAG in executor_opts:
        return False
    return current_limit == _SPARK_HUGE_METHOD_DEFAULT


def ensure_codegen_confs(spark: SparkSession) -> None:
    """Keep whole-stage codegen honest about HotSpot's JIT ceiling in
    sessions the engine did not build.

    get_spark() passes -XX:-DontCompileHugeMethods so fused whole-stage
    methods holding a 64-dim unrolled dot product JIT-compile. A VANILLA
    session (a user's own builder, the scale sweep's plain 1 GB driver,
    the external correctness driver) lacks the flag, and Spark's default
    spark.sql.codegen.hugeMethodLimit=65535 happily keeps methods fused
    far past HotSpot's 8000-byte compile ceiling — the fused inner loop
    then runs INTERPRETED (measured: ext_similarity_ivf at sf1.0 133.1s
    vanilla vs 17.3s with the fallback, identical values). Lowering the
    limit to 8000 makes WholeStageCodegenExec fall back to un-fused
    operators exactly when the fused method could not JIT; the un-fused
    path generates expression code with INPUT_ROW available, so
    CodeGenerator splits it into ~1 KB methods that all compile. Values
    are bit-identical (same expressions, same fold order — pinned by the
    oracle hash suite). When any JVM in the job carries the flag, or the
    user set the limit explicitly, this is a no-op: fused + JIT remains
    the fastest shape (~1.3-2.4x over un-fused).

    Called from sources.parquet.ensure_runtime_confs — one conf check
    per session, crossed by every table-reading path (registry ops and
    the migrate/entry pipeline alike) — so the guard applies regardless
    of who built the SparkSession. Session-level side effect by design,
    same class as streaming.ensure_streaming_confs.
    """
    try:
        app_id = spark.sparkContext.applicationId
    except Exception:
        # Spark Connect (no driver-side SparkContext/_jvm): the JVM's
        # flags are unknowable from here, so leave codegen confs alone
        # rather than fail every operator — the guard is an optimization,
        # never a prerequisite.
        return
    if app_id in _CODEGEN_CONF_DONE:
        return
    _CODEGEN_CONF_DONE.add(app_id)
    try:
        jvm_args = " ".join(
            str(a)
            for a in spark._jvm.java.lang.management.ManagementFactory
            .getRuntimeMXBean().getInputArguments()
        )
    except Exception:  # pragma: no cover — non-JVM-introspectable gateway
        jvm_args = ""
    executor_opts = (
        spark.conf.get("spark.executor.extraJavaOptions", "") or ""
    )
    current = spark.conf.get(
        "spark.sql.codegen.hugeMethodLimit", _SPARK_HUGE_METHOD_DEFAULT
    )
    if _wants_huge_method_fallback(jvm_args, executor_opts, current):
        spark.conf.set(
            "spark.sql.codegen.hugeMethodLimit", _HOTSPOT_HUGE_METHOD_BYTES
        )
