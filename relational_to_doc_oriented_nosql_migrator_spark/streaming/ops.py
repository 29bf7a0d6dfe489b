"""Structured Streaming operators (SURVEY §2.11 — extension surface; the
reference is batch-only, BASELINE mandates a streaming path).

Design:
- `read_events_stream` is a file-stream source over the same events parquet
  the batch ops read (nanos timestamps normalized identically), so every
  streaming op has a batch twin with identical semantics.
- Each op returns a STREAMING DataFrame; `run_stream_to_batch` executes it
  with `trigger(availableNow=True)` and returns the result as a batch
  DataFrame. Ops whose output is corpus-proportional (windowed rollups,
  sessions, deduped events, matched pairs) land in a distributed files
  sink — foreachBatch parquet overwrite for complete mode, the
  checkpointed parquet streaming sink for append — because the memory
  sink ships rows through driver task results; only the per-user-bounded
  update-mode ops use the memory sink. That makes streaming ops
  first-class `queries()` entries with real DuckDB oracles — the whole
  source->watermark->stateful-op->sink path is hash-checked, not
  smoke-run.
- Watermarks bound state at scale; with availableNow over a finite input
  the final result in complete/update mode equals the batch answer (the
  late-data DROP path is exercised by the multi-batch test in
  tests/test_streaming.py, where append mode + watermark provably discards
  a record older than the watermark).

State-store scale notes: windowed aggs and dropDuplicatesWithinWatermark
keep state keyed by (window/key) and evict by watermark — memory is bounded
by the active window span, not the stream length. applyInPandasWithState
state is one tiny tuple per user.
"""

from __future__ import annotations

import itertools
import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from relational_to_doc_oriented_nosql_migrator_spark.operators.common import (
    dec_sum,
    scratch_dir,
)
from relational_to_doc_oriented_nosql_migrator_spark.sources.parquet import (
    ensure_runtime_confs,
    footer_schema,
    parquet_files,
)

_MEM_COUNTER = itertools.count()


def ensure_streaming_confs(spark: SparkSession) -> None:
    """RocksDB state store for every stream op (set at the one source
    choke point so the driver's vanilla session gets it too): the default
    HDFSBackedStateStoreProvider keeps ALL state on the executor heap, so
    a complete-mode rollup whose state is corpus-proportional (time
    windows, sessions, distinct event keys) eventually OOMs executors at
    scale. RocksDB keeps state off-heap with disk spill — bounded memory
    regardless of state size. Hash-verified value-identical across every
    stateful op, including the applyInPandasWithState ones; checkpoints
    here are per-call scratch dirs, so the provider's state format never
    crosses a provider change."""
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
    path: str | None = None,
) -> DataFrame:
    """File-stream source over the events table (new files picked up as
    they land — the production shape for a continuously-ingested corpus)."""
    ensure_runtime_confs(spark)
    ensure_streaming_confs(spark)
    if path is None:
        # Glob form: the file-stream source requires its basePath to be a
        # directory, and the glob keeps it at sf_dir while matching only
        # the events table file(s).
        path = os.path.join(sf_dir, "events.*")
    # The on-disk schema (under nanosAsLong TIMESTAMP(NANOS) -> long),
    # from the footer of the first file.
    disk_schema, nanos_cols = footer_schema(
        pq.read_metadata(parquet_files(path)[0]))
    reader = spark.readStream.schema(disk_schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    sdf = reader.parquet(path)
    for field in disk_schema.fields:
        # Plain TIMESTAMP (not NTZ): watermarks only accept it. Session tz
        # is pinned UTC (ensure_runtime_confs), so the cast back to NTZ in
        # each op's output projection is the identity on wall-clock values.
        # Two on-disk encodings normalize to it: TIMESTAMP(NANOS) (read as
        # long under nanosAsLong) and native micros (read as NTZ).
        if field.name in nanos_cols:
            sdf = sdf.withColumn(
                field.name,
                F.expr(f"timestamp_micros({field.name} div 1000)")
                .cast("timestamp"),
            )
        elif isinstance(field.dataType, T.TimestampNTZType):
            sdf = sdf.withColumn(
                field.name, F.col(field.name).cast("timestamp")
            )
    return sdf


def run_stream_to_batch(
    sdf: DataFrame, output_mode: str, sink: str = "memory"
) -> DataFrame:
    """Execute a streaming DataFrame over all currently-available input
    (`availableNow`); return the materialized result.

    sink="memory" is fine for bounded results (per-user state), but the
    memory sink ships every partition's rows to the driver inside the
    task-result/commit messages — a corpus-scale result OOMs the
    driver's dispatcher long before the heap fills with the rows
    themselves (observed at sf10: 9.55M session rows killed the
    scheduler event loop). sink="files" is the scale path for results
    proportional to the corpus — executors write parquet directly,
    nothing transits the driver — with the mechanism picked by output
    mode:
      - complete: foreachBatch overwrites a scratch dir with each
        batch's full result; the LAST complete-mode batch is by
        definition the final answer, so overwrite-per-batch is
        exactly-once without any upsert machinery (the parquet
        streaming sink itself cannot run in complete mode);
      - append: the real checkpointed parquet streaming sink —
        exactly-once via the _spark_metadata commit log, the same
        shape stream_to_json_files ships;
      - update: unsupported here by design — a batch's update output
        is only the CHANGED rows, so neither overwrite nor blind
        append reconstructs the result without upsert keys (that is
        ext_stream_cdc_upsert's foreachBatch job). The update-mode ops
        keep the memory sink because their state (and thus output) is
        per-user bounded.
    """
    if sink == "files":
        out = scratch_dir("sg_stream_files_")
        # Read-back passes the stream's schema explicitly: an all-filtered
        # result commits a batch with zero data files, and schema
        # INFERENCE over an empty parquet dir raises instead of returning
        # the empty, correctly-typed frame the memory sink would have.
        if output_mode == "append":
            query = (
                sdf.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", scratch_dir("sg_stream_ckpt_"))
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            query.awaitTermination()
            return sdf.sparkSession.read.schema(sdf.schema).parquet(out)
        if output_mode != "complete":
            raise ValueError(
                "sink='files' supports complete (foreachBatch overwrite) "
                "and append (parquet streaming sink) modes only; update-"
                "mode results need upsert keys (see ext_stream_cdc_upsert)"
            )

        def _write_batch(bdf: DataFrame, _epoch: int) -> None:
            bdf.write.mode("overwrite").parquet(out)

        query = (
            sdf.writeStream.foreachBatch(_write_batch)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        return sdf.sparkSession.read.schema(sdf.schema).parquet(out)
    name = f"sg_stream_{next(_MEM_COUNTER)}"
    query = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return sdf.sparkSession.table(name)


def stream_to_json_files(
    sdf: DataFrame, out_dir: str, checkpoint_dir: str
) -> None:
    """File sink: append-mode newline-JSON with exactly-once checkpointing
    (the streaming twin of sink_json_collections — restarts resume from the
    checkpoint instead of re-emitting)."""
    query = (
        sdf.writeStream.format("json")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()


def stream_tumbling_agg(events: DataFrame, watermark: str = "30 minutes"):
    """10-minute tumbling event-time windows (streaming twin of
    ext_tumbling_agg)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "10 minutes").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_sliding_agg(events: DataFrame, watermark: str = "30 minutes"):
    """10-minute windows sliding every 5 (streaming twin of
    ext_sliding_agg)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value").alias("sum_value"),
        )
        .select(F.col("w.start").cast("timestamp_ntz").alias("window_start"),
                "n_events", "sum_value")
    )


def stream_session_agg(events: DataFrame, watermark: str = "30 minutes"):
    """Per-user session windows, 30-minute gap (streaming twin of
    ext_session_agg)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            F.col("w.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def stream_enrich_agg(
    events: DataFrame, dim: DataFrame, watermark: str = "30 minutes"
):
    """Stream-static enrichment: join the event stream against a batch
    dimension (customer) and aggregate per 10-minute tumbling window and
    market segment — the standard "enrich then window" shape of a
    production ingest pipeline.

    Scale shape: a stream-static equi-join needs no stream-side state
    beyond the aggregation's own; the dimension side is a batch relation
    Spark re-plans per micro-batch (broadcast when it fits, the usual
    case for dimensions). Watermark applied before the stateful agg
    bounds window state as usual.
    """
    enriched = events.withWatermark("ts", watermark).join(
        dim, events.user_id == dim.c_custkey
    )
    return (
        enriched.groupBy(
            F.window("ts", "10 minutes").alias("w"),
            F.col("c_mktsegment").alias("mktsegment"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "mktsegment",
            "n_events",
            "sum_value",
        )
    )


def stream_interval_join(events: DataFrame, watermark: str = "30 minutes"):
    """Stream-stream interval join: for each purchase, the same user's
    clicks in the preceding 30 minutes (click-attribution, the canonical
    two-stream correlation).

    Scale shape: a watermarked interval join keeps per-key state only for
    the interval span on each side — Spark evicts click state older than
    (watermark + interval) and purchase state older than the watermark,
    so state is bounded by event rate x window, not stream length. The
    join condition carries BOTH the user-id equality (hash-partitionable)
    and the time range, so the shuffle key is user_id, never a cross
    product.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")
        ),
    )
    return joined.select(
        "purchase_id", "click_id", F.col("p_user").alias("user_id")
    )


def stream_dedup_keys(events: DataFrame, watermark: str = "30 minutes"):
    """Stateful streaming dedup: first arrival per (user_id, event_type)
    within the watermark horizon; key-only projection keeps the output
    deterministic (which duplicate row survives is arrival-order-dependent,
    which keys exist is not)."""
    return (
        events.withWatermark("ts", watermark)
        .select("user_id", "event_type", "ts")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )


def stream_user_stats(events: DataFrame):
    """Custom stateful operator via applyInPandasWithState: running
    per-user event count + exact micro-scaled value sum. State is one
    (count, sum) pair per user, updated per micro-batch."""
    import pandas as pd  # noqa: F401 — required by the worker closure
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id bigint, n_events bigint, sum_value_micros bigint"
    )
    state_schema = "n bigint, s bigint"

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n, s = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # Exact integer micros: deterministic across engines, unlike a
            # float running sum.
            s += int((pdf["value"] * 1_000_000).round().astype("int64").sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value_micros": [s]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )


SESSION_GAP_MICROS = 30 * 60 * 1_000_000


def stream_sessionize(events: DataFrame):
    """Custom stateful streaming sessionization via INTERVAL UNION: each
    user's state is the merged set of [ts, ts + 30 min) activity
    intervals; the running outputs are the session count and span.

    Unlike a last-ts/gap counter, interval union is ORDER-INSENSITIVE:
    events may arrive in any order across and within micro-batches (file
    splits do not preserve per-user time order) and the final state is
    identical — which is what makes the batch gaps-and-islands SQL a
    valid oracle for the streaming run. State size is bounded by the
    number of distinct sessions per user (merged intervals), not events.
    """
    import pandas as pd  # noqa: F401 — required by the worker closure
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id bigint, n_sessions int,"
        " first_start_micros bigint, last_end_micros bigint"
    )
    state_schema = "starts array<bigint>, ends array<bigint>"

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        if state.exists:
            starts, ends = state.get
            ivals = [[s, e] for s, e in zip(starts, ends)]
        else:
            ivals = []
        for pdf in pdfs:
            micros = (
                pd.to_datetime(pdf["ts"])
                .astype("datetime64[ns]")
                .astype("int64")
                // 1000
            )
            ivals.extend(
                [int(t0), int(t0) + SESSION_GAP_MICROS] for t0 in micros
            )
        ivals.sort()
        merged: list[list[int]] = []
        for s, e in ivals:
            if merged and s < merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], e)
            else:
                merged.append([s, e])
        state.update(
            ([s for s, _ in merged], [e for _, e in merged])
        )
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_sessions": [len(merged)],
                "first_start_micros": [merged[0][0]],
                "last_end_micros": [merged[-1][1]],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# queries()/oracle_sql() registry — each op run end-to-end via availableNow.
# Complete/update modes over the finite input yield the batch-equivalent
# answer, so the batch SQL oracles apply unchanged.
# ---------------------------------------------------------------------------


# The windowed complete-mode rollups and the append-mode event streams
# all produce corpus-proportional output (time windows x types, distinct
# events, matched pairs), so they take the files sink; only the two
# update-mode per-user state ops stay on the memory sink (bounded by
# |users|, and update output needs upsert keys to land in files).


def q_ext_stream_tumbling_agg(spark, sf_dir):
    return run_stream_to_batch(
        stream_tumbling_agg(read_events_stream(spark, sf_dir)), "complete",
        sink="files",
    )


def q_ext_stream_sliding_agg(spark, sf_dir):
    return run_stream_to_batch(
        stream_sliding_agg(read_events_stream(spark, sf_dir)), "complete",
        sink="files",
    )


def q_ext_stream_session_agg(spark, sf_dir):
    # files sink: per-user 30-min sessions are corpus-proportional (a
    # sparse event stream yields nearly one session per event — 9.55M at
    # sf10), so the result must land distributed, not in driver task
    # results. Values are sink-independent; the oracle is unchanged.
    return run_stream_to_batch(
        stream_session_agg(read_events_stream(spark, sf_dir)), "complete",
        sink="files",
    )


def q_ext_stream_enrich_agg(spark, sf_dir):
    from relational_to_doc_oriented_nosql_migrator_spark.sources.parquet import (
        load_table,
    )

    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    return run_stream_to_batch(
        stream_enrich_agg(read_events_stream(spark, sf_dir), dim),
        "complete", sink="files",
    )


def q_ext_stream_dedup(spark, sf_dir):
    return run_stream_to_batch(
        stream_dedup_keys(read_events_stream(spark, sf_dir)), "append",
        sink="files",
    )


def q_ext_stream_interval_join(spark, sf_dir):
    return run_stream_to_batch(
        stream_interval_join(read_events_stream(spark, sf_dir)), "append",
        sink="files",
    )


def q_ext_stream_stateful(spark, sf_dir):
    return run_stream_to_batch(
        stream_user_stats(read_events_stream(spark, sf_dir)), "update"
    )


def q_ext_stream_sessionize(spark, sf_dir):
    return run_stream_to_batch(
        stream_sessionize(read_events_stream(spark, sf_dir)), "update"
    )


def q_stream_to_json_files(spark, sf_dir):
    """Checkpointed streaming JSON sink, verified end to end: stream the
    events table through the file sink, read the files back, hash-compare
    against the source. Integer/string projection only — the JSON text
    round-trip is then exact by construction."""

    base = scratch_dir("sg_stream_sink_")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    events = read_events_stream(spark, sf_dir).select(
        "event_id", "user_id", "event_type"
    )
    stream_to_json_files(events, out, ckpt)
    return spark.read.schema(
        "event_id bigint, user_id bigint, event_type string"
    ).json(out)


def stream_cdc_upsert(events: DataFrame, state_base: str,
                      checkpoint_dir: str,
                      app_id: str | None = None) -> None:
    """foreachBatch streaming SCD-1 upsert: every micro-batch MERGEs into
    a parquet current-state table (latest version per (user_id,
    event_type) + version count) — the streaming twin of
    ext_cdc_merge_latest and the shape of a continuously-maintained
    serving table.

    Merge math: the state row holds max(struct(ts, event_id, value)) and
    n_versions; merging a batch is groupBy(key).agg(max(m),
    sum(n_versions)) over previous-state ∪ batch-partial — associative,
    so ANY batch split of the input converges to the batch answer
    (proven by the oracle: a full recompute).

    Crash safety + idempotence: state lives in (app, batch)-stamped dirs
    (`current_{app_id}_b{id}`). A batch writes the merged state to a
    temp dir, atomically renames it into place, and only THEN removes
    older stamps — at every instant a complete state dir exists, and
    readers take the max batch id. foreachBatch is at-least-once, so a
    replayed batch (its id <= the stamp FOR THE SAME app_id) is skipped
    instead of double-merged — the n_versions counter can't inflate.
    The skip guard is scoped to app_id because Spark batch ids are only
    comparable within one checkpoint lineage (Delta's txnAppId/
    txnVersion contract): app_id defaults to a hash of checkpoint_dir,
    so a FRESH checkpoint over kept state never skips genuinely-new
    batches (it re-merges instead — pass the same app_id explicitly when
    re-delivering identical input and exact skip semantics are wanted).
    Stale stamps from a crash between rename and cleanup are swept on
    the next batch (every stamp below the latest is removed, not just
    the immediate predecessor). Scale shape per batch: one map-side-
    combined agg over the batch + one |state|-sized merge — O(delta +
    |state|), never a rescan of history.
    """
    import hashlib
    import shutil

    if app_id is None:
        app_id = hashlib.md5(checkpoint_dir.encode()).hexdigest()[:8]

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        latest, stale = _latest_cdc_state(state_base, app_id)
        for path in stale:  # crash leftovers below the latest stamp
            shutil.rmtree(path, ignore_errors=True)
        if (
            latest is not None
            and latest[0] == app_id
            and latest[1] >= batch_id
        ):
            return  # at-least-once replay of an applied batch (same app)
        part = batch_df.groupBy("user_id", "event_type").agg(
            F.max(F.struct("ts", "event_id", "value")).alias("m"),
            F.count(F.lit(1)).alias("n_versions"),
        )
        if latest is not None:
            prev = batch_df.sparkSession.read.parquet(latest[2])
            part = (
                prev.unionByName(part)
                .groupBy("user_id", "event_type")
                .agg(
                    F.max("m").alias("m"),
                    F.sum("n_versions").alias("n_versions"),
                )
            )
        tmp = os.path.join(state_base, f"tmp_{app_id}_b{batch_id}")
        part.write.mode("overwrite").parquet(tmp)
        os.rename(
            tmp, os.path.join(state_base, f"current_{app_id}_b{batch_id}")
        )
        if latest is not None:
            shutil.rmtree(latest[2], ignore_errors=True)

    query = (
        events.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()


def _latest_cdc_state(state_base: str, app_id: str | None = None):
    """((app, batch_id, path) of the newest complete state dir or None,
    [stale dir paths below it]). "Newest" prefers the caller's app_id
    stamps, then falls back to the highest batch id of any app (the
    kept-state-new-checkpoint takeover case); every other stamp is
    returned as stale so callers can sweep crash leftovers."""
    import re

    stamps = []
    if os.path.isdir(state_base):
        for name in os.listdir(state_base):
            # Greedy group: app ids may contain '_' — the final '_b<N>'
            # is the stamp delimiter.
            m = re.fullmatch(r"current_(.+)_b(\d+)", name)
            if m:
                stamps.append(
                    (m.group(1), int(m.group(2)),
                     os.path.join(state_base, name))
                )
    if not stamps:
        return None, []
    mine = [st for st in stamps if st[0] == app_id]
    pool = mine if mine else stamps
    best = max(pool, key=lambda st: st[1])
    return best, [st[2] for st in stamps if st[2] != best[2]]


def q_ext_stream_cdc_upsert(spark, sf_dir):
    """Streaming upsert driven over a 3-file split of the events table
    (maxFilesPerTrigger=1 -> three real micro-batches), then the final
    state read back — value-identical to the batch CDC compaction."""

    from relational_to_doc_oriented_nosql_migrator_spark.sources.parquet import (
        load_table,
    )

    base = scratch_dir("sg_stream_cdc_")
    src = os.path.join(base, "src")
    load_table(spark, sf_dir, "events").repartition(3).write.parquet(src)
    events = read_events_stream(
        spark, sf_dir, max_files_per_trigger=1,
        path=os.path.join(src, "*.parquet"),
    )
    state = os.path.join(base, "state")
    os.makedirs(state, exist_ok=True)
    stream_cdc_upsert(events, state, os.path.join(base, "ckpt"))
    final = spark.read.parquet(_latest_cdc_state(state)[0][2])
    return final.select(
        "user_id",
        "event_type",
        F.col("m.ts").cast("timestamp_ntz").alias("last_ts"),
        F.col("m.event_id").alias("last_event_id"),
        F.col("m.value").alias("last_value"),
        "n_versions",
    )


QUERIES = {
    "stream_to_json_files": q_stream_to_json_files,
    "ext_stream_cdc_upsert": q_ext_stream_cdc_upsert,
    "ext_stream_tumbling_agg": q_ext_stream_tumbling_agg,
    "ext_stream_sliding_agg": q_ext_stream_sliding_agg,
    "ext_stream_session_agg": q_ext_stream_session_agg,
    "ext_stream_enrich_agg": q_ext_stream_enrich_agg,
    "ext_stream_interval_join": q_ext_stream_interval_join,
    "ext_stream_dedup": q_ext_stream_dedup,
    "ext_stream_stateful": q_ext_stream_stateful,
    "ext_stream_sessionize": q_ext_stream_sessionize,
}

from relational_to_doc_oriented_nosql_migrator_spark.operators.common import (  # noqa: E402
    sql_dec_sum,
)

ORACLES = {
    # Full recompute over the whole changelog — the 3-micro-batch
    # incremental upsert must converge to it exactly.
    "ext_stream_cdc_upsert": """
SELECT user_id, event_type, ts AS last_ts, event_id AS last_event_id,
       value AS last_value, n_versions
FROM (
  SELECT user_id, event_type, ts, event_id, value,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS r,
         COUNT(*) OVER (PARTITION BY user_id, event_type) AS n_versions
  FROM events
) WHERE r = 1
""",
    "ext_stream_tumbling_agg": f"""
SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start, event_type,
       COUNT(*) AS n_events, {sql_dec_sum('value')} AS sum_value
FROM events GROUP BY 1, 2
""",
    "ext_stream_sliding_agg": f"""
WITH assigned AS (
  SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start, value
  FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes', value
  FROM events
)
SELECT window_start, COUNT(*) AS n_events, {sql_dec_sum('value')} AS sum_value
FROM assigned GROUP BY 1
""",
    "ext_stream_session_agg": f"""
WITH ordered AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL '30 minutes'
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
islands AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM ordered
)
SELECT user_id, MIN(ts) AS session_start,
       MAX(ts) + INTERVAL '30 minutes' AS session_end,
       COUNT(*) AS n_events, {sql_dec_sum('value')} AS sum_value
FROM islands GROUP BY user_id, session_id
""",
    "ext_stream_enrich_agg": f"""
SELECT time_bucket(INTERVAL '10 minutes', e.ts) AS window_start,
       c.c_mktsegment AS mktsegment,
       COUNT(*) AS n_events, {sql_dec_sum('value')} AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
""",
    "ext_stream_interval_join": """
SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
FROM events p JOIN events c
  ON p.event_type = 'purchase' AND c.event_type = 'click'
 AND c.user_id = p.user_id
 AND c.ts <= p.ts AND p.ts <= c.ts + INTERVAL '30 minutes'
""",
    "ext_stream_dedup": """
SELECT DISTINCT user_id, event_type FROM events
""",
    "ext_stream_stateful": """
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
         AS sum_value_micros
FROM events GROUP BY user_id
""",
    "stream_to_json_files": """
SELECT event_id, user_id, event_type FROM events
""",
    # Batch gaps-and-islands equivalent of the interval-union state:
    # islands count = session count; span = [min ts, max ts + gap).
    "ext_stream_sessionize": """
WITH ordered AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
)
SELECT user_id,
       CAST(SUM(new_session) AS INT) AS n_sessions,
       epoch_us(MIN(ts)) AS first_start_micros,
       epoch_us(MAX(ts)) + 30 * 60 * 1000000 AS last_end_micros
FROM ordered GROUP BY user_id
""",
}
