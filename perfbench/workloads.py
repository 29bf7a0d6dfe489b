"""The benchmark's workloads: inputs, jobs, output checks and metrics.

Workloads drive the program through its public entry points: `cli.main`
in this process, or the HTTP service in a subprocess. A run has two
phases:
  setup   make the seeded inputs, start the program (Spark session, or
          the HTTP service subprocess) and run the workload's warm-up jobs
          one at a time; timed together as `setup_s`.
  window  warm jobs for `--seconds` seconds (closed loop; the service
          workload runs two client threads). Every job's output is checked
          after its timing stops.

With --trace 1 the window alternates untraced and traced jobs (the service
switches tracing on halfway), and the result carries the per-layer metrics
of the traced jobs instead of the end-to-end ones.
"""

from __future__ import annotations

import contextlib
import hashlib
import http.client
import io
import json
import os
import queue
import re
import shutil
import signal
import struct
import subprocess
import sys
import threading
import time
import zipfile
import zlib

import pyarrow as pa
import pyarrow.compute as pc

import gen
import measure
import spans as tracing

HERE = os.path.dirname(os.path.abspath(__file__))
# The configuration every run benchmarks (run.py exports both): local[CORES],
# and a 1 GiB driver heap rather than the program's 8g default, so that a run
# stays small on a machine shared with other work.
CORES = 4
DRIVER_MEM = "1g"
# Jobs run one at a time before the timed window: the cold one (codegen,
# class loading, page cache), then more while the JIT compiles the hot
# paths. The CLI job keeps getting faster over its first six or so runs
# (by about a quarter), so it gets three; a service request is as fast
# after one.
WARMUP_JOBS = {"cli": 4, "service": 2}

E2E_UNITS = {
    "setup_s": "s",
    "job_s_p50": "s",
    "rows_per_s": "rows/s",
    "output_bytes_per_row": "bytes/row",
    "peak_rss_mb": "MB",
}


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_out"):
        return "bytes"
    if name.endswith("core_util"):
        return "ratio"
    return "count"


PER_LAYER = (
    ["session.start_s", "sources.catalog_s", "sources.sqldump_s",
     "sources.input_bytes", "workload.apply_s", "workload.statements",
     "workload.core_util", "planner.convert_s", "planner.roots",
     "planner.embedded", "planner.referenced", "nesting.materialize_s",
     "nesting.exec_s", "nesting.shuffle_write_bytes", "nesting.spill_bytes",
     "nesting.core_util", "sinks.write_s", "sinks.self_s", "sinks.bytes_out",
     "sinks.files_out", "sinks.docs_out", "service.run_migration_s",
     "service.lock_wait_s", "service.queue_s"]
    + [f"{layer}.{counter}" for layer in tracing.LAYERS
       for counter in ("jobs", "tasks", "failed_tasks", "gc_s")]
    + ["trace.job_s", "trace.unattributed_s", "trace.unattributed_jobs",
       "trace.overhead_s"]
)


class CheckFailed(Exception):
    pass


class Run:
    """State of one benchmark run."""

    def __init__(self, root: str, work: str, seed: int, seconds: int,
                 trace: bool):
        self.root, self.work, self.seed = root, work, seed
        self.seconds, self.trace = seconds, trace
        self.jobs: list[dict] = []
        self.errors: list[str] = []
        self.tracer = tracing.Tracer() if trace else None
        self.info: dict = {}
        self.lock = threading.Lock()
        self.peak_rss_mb = 0.0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def record(self, phase: str, start: float, end: float, ok: bool,
               error: str | None = None, traced: bool | None = False,
               out_bytes: int = 0) -> None:
        with self.lock:
            self.jobs.append({"phase": phase, "start": start, "end": end,
                              "s": end - start, "ok": ok, "traced": traced,
                              "out_bytes": out_bytes})
            if error:
                self.errors.append(error)

    def warm(self, traced=False) -> list[dict]:
        return [j for j in self.jobs
                if j["phase"] == "warm" and j["ok"] and j["traced"] is traced]

    def result(self, metrics: dict) -> dict:
        failed = sum(not j["ok"] for j in self.jobs)
        return {
            "correct": failed == 0 and bool(self.jobs),
            "attempted": len(self.jobs),
            "failed": failed,
            "metrics": metrics,
        }

    def e2e(self, setup_s: float, rows: int) -> dict:
        """setup_s is inputs + program start; the warm-up jobs are added
        here."""
        warmup = [j["s"] for j in self.jobs if j["phase"] == "warmup"]
        warm = self.warm()
        self.info["first_job_s"] = warmup[0] if warmup else 0.0
        values = {
            "setup_s": setup_s + sum(warmup),
            "job_s_p50": measure.median([j["s"] for j in warm])
            if warm else 0.0,
            "rows_per_s": rows * len(warm) / measure.busy_seconds(
                [(j["start"], j["end"]) for j in warm]) if warm else 0.0,
            "output_bytes_per_row": measure.median(
                [j["out_bytes"] for j in warm]) / rows if warm else 0.0,
            "peak_rss_mb": self.peak_rss_mb,
        }
        tail = measure.tail_percentile([j["s"] for j in warm])
        self.info["job_s_tail"] = (
            {"percentile": tail[0], "value": tail[1], "beyond": tail[2]}
            if tail else f"none: {len(warm)} warm jobs, a tail needs "
            f"{measure.MIN_BEYOND} samples beyond it"
        )
        return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}


# ---------------------------------------------------------------------------
# Output checks
# ---------------------------------------------------------------------------

def _canon(value):
    """A document in a form that ignores what may legitimately vary between
    writers: key order, the order of embedded documents, int vs float
    spelling of numbers. Number arrays (embeddings) compare at float32
    precision, the precision of their source column."""
    kind = type(value)
    if kind is dict:
        return {k: float(v) if type(v) is int else
                _canon(v) if type(v) in (dict, list) else v
                for k, v in value.items()}
    if kind is list:
        if value and type(value[0]) is dict:
            return sorted((_canon(v) for v in value), key=_canon_bytes)
        if value and all(type(v) in (int, float) for v in value):
            n = len(value)
            return list(struct.unpack(f"{n}f", struct.pack(f"{n}f", *value)))
        return [_canon(v) for v in value]
    return float(value) if kind is int else value


_CANON_JSON = json.JSONEncoder(sort_keys=True, separators=(",", ":"))


def _canon_bytes(doc) -> bytes:
    return _CANON_JSON.encode(doc).encode()


def documents_digest(docs_by_coll: dict) -> dict[str, list]:
    """{collection: [order-insensitive hash of the canonical documents,
    documents]}."""
    out: dict[str, list] = {}
    for coll, docs in docs_by_coll.items():
        acc = out.setdefault(coll, [0, 0])
        for doc in docs:
            h = hashlib.blake2b(_canon_bytes(_canon(doc)), digest_size=8)
            acc[0] = (acc[0] + int.from_bytes(h.digest(), "little")) % (1 << 64)
            acc[1] += 1
    return out


def expected_documents(tables: dict) -> dict:
    """The documents the migration must write for the generated tables under
    the plan the benchmark's hot query log gives: nation embedded in region
    (without its link column n_regionkey), every other table a collection of
    its own whose foreign-key columns carry the `_REF` suffix. Timestamps
    (UTC) become yyyy-MM-dd strings in the reference's local time,
    Asia/Bangkok (UTC+7, no daylight saving).
    Returns {collection: iterable of documents}."""
    fks = {t: {col for col, _ref, _refcol in keys}
           for t, keys in gen.DUMP_FOREIGN_KEYS.items()}

    bangkok = pa.scalar(7 * 3600 * 10**6, pa.duration("us"))

    def flat(name):
        table = tables[name]
        refs = fks.get(name, set())
        keys = [f"{k}_REF" if k in refs else k for k in table.column_names]
        columns = []
        for col in table.columns:
            if pa.types.is_timestamp(col.type):
                col = pc.cast(pc.cast(pc.add(col, bangkok), pa.date32()),
                              pa.string())
            columns.append(col.to_pylist() if pa.types.is_list(col.type)
                           else col.to_numpy(zero_copy_only=False).tolist())
        for values in zip(*columns):
            yield dict(zip(keys, values))

    nations: dict[int, list] = {}
    for n in tables["nation"].to_pylist():
        nations.setdefault(n["n_regionkey"], []).append(
            {"n_nationkey": n["n_nationkey"], "n_name": n["n_name"]})
    out = {"region": [{**r, "nation": nations.get(r["r_regionkey"], [])}
                      for r in tables["region"].to_pylist()]}
    for name in tables:
        if name not in ("region", "nation"):
            out[name] = flat(name)
    return out


def _part_files(coll_dir: str) -> list[str]:
    return sorted(os.path.join(root, name)
                  for root, _dirs, names in os.walk(coll_dir)
                  for name in names if not name.startswith((".", "_")))


def ndjson_digest(out_dir: str) -> tuple[dict[str, list], int]:
    """({collection: [order-insensitive hash of the lines, lines]}, bytes)
    over every NDJSON part file under out_dir/<collection>/."""
    out: dict[str, list] = {}
    nbytes = 0
    for coll in sorted(os.listdir(out_dir)):
        acc = out.setdefault(coll, [0, 0])
        for path in _part_files(os.path.join(out_dir, coll)):
            nbytes += os.path.getsize(path)
            with open(path, "rb") as fh:
                for line in fh:
                    line = line.rstrip(b"\n")
                    acc[0] = (acc[0] + zlib.crc32(line) + (len(line) << 32)) \
                        % (1 << 64)
                    acc[1] += 1
    return out, nbytes


def ndjson_documents(out_dir: str, colls) -> dict:
    def docs(coll):
        for path in _part_files(os.path.join(out_dir, coll)):
            with open(path, "rb") as fh:
                for line in fh:
                    yield json.loads(line)
    return {coll: docs(coll) for coll in colls}


def check_documents(expected: dict[str, list], docs_by_coll: dict) -> None:
    """Raises CheckFailed unless the documents are exactly the expected ones
    (expected is documents_digest of expected_documents)."""
    got = documents_digest(docs_by_coll)
    wrong = {c: f"{got.get(c, [0, 0])[1]} docs, expected "
             f"{expected.get(c, [0, 0])[1]}"
             for c in sorted(set(got) | set(expected))
             if got.get(c) != expected.get(c)}
    if wrong:
        # equal counts: the content differs
        raise CheckFailed(f"documents differ from the expected: {wrong}")


# ---------------------------------------------------------------------------
# In-process Spark session (CLI workloads)
# ---------------------------------------------------------------------------

def session_conf(run: Run) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": run.path("warehouse"),
        "spark.local.dir": run.path("local"),
    }
    if run.trace:
        conf.update(tracing.eventlog_conf(run.path("events")))
    return conf


def start_session(run: Run):
    if run.tracer is not None:
        run.tracer.install()
    from relational_to_doc_oriented_nosql_migrator_spark.session import (
        get_spark,
    )

    spark = get_spark(app_name="perfbench", extra_conf=session_conf(run))
    spark.sparkContext.setLogLevel("ERROR")
    if run.tracer is not None:
        run.tracer.attach(spark)
    return spark


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait for processes to exit; SIGKILL what remains after timeout."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")
                and not _is_zombie(p)]
        if not pids:
            return
        time.sleep(0.1)
    for p in pids:
        with contextlib.suppress(OSError):
            os.kill(p, signal.SIGKILL)


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def stop_session(spark) -> None:
    """Stop Spark, close the gateway and wait until the JVM and its
    Python workers have exited."""
    from pyspark import SparkContext

    descendants = measure.process_tree(os.getpid())[1:]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            with contextlib.suppress(OSError):
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    wait_gone(descendants, 30)


# ---------------------------------------------------------------------------
# Per-layer metrics from spans and the event log
# ---------------------------------------------------------------------------

def layer_metrics(run: Run, spans: list[dict], root_name: str,
                  session_s: float, input_bytes: int, statements: int,
                  client_latency: list[float] | None = None) -> dict:
    jobs = tracing.read_event_log(run.path("events"))
    span_jobs = tracing.attribute_jobs(jobs, spans)
    by_run: dict[int, list[dict]] = {}
    for s in spans:
        by_run.setdefault(s["run"], []).append(s)
    per_run = []
    for run_spans in by_run.values():
        root = next((s for s in run_spans if s["parent"] is None), None)
        if root is None or root["name"] != root_name:
            continue
        per_run.append(_run_metrics(root, run_spans, span_jobs))
    values = {name: measure.median([m.get(name, 0.0) for m in per_run])
              if per_run else 0.0 for name in PER_LAYER}
    values["session.start_s"] = session_s
    values["sources.input_bytes"] = input_bytes
    values["workload.statements"] = statements
    traced, untraced = run.warm(traced=True), run.warm(traced=False)
    if traced and untraced:
        # seconds per job of each phase; the noop execution of the
        # nested collections is traced-only work, not overhead
        values["trace.overhead_s"] = (
            _seconds_per_job(traced) - values["nesting.exec_s"]
            - _seconds_per_job(untraced))
    if client_latency:
        values["service.queue_s"] = (measure.median(client_latency)
                                     - values["service.run_migration_s"])
    run.info["traced_runs"] = len(per_run)
    return {k: {"value": v, "unit": _unit(k)} for k, v in values.items()}


def _seconds_per_job(jobs: list[dict]) -> float:
    return measure.busy_seconds([(j["start"], j["end"]) for j in jobs]) / len(jobs)


def _run_metrics(root: dict, run_spans: list[dict], span_jobs) -> dict:
    totals = tracing.layer_totals(run_spans, span_jobs, CORES)

    def wall(name):
        return sum(s["end"] - s["start"] for s in run_spans
                   if s["name"] == name)

    def attr(name, key):
        return sum(s["attrs"].get(key, 0) for s in run_spans
                   if s["name"] == name)

    m = {
        "sources.catalog_s": wall("sources.catalog"),
        "sources.sqldump_s": wall("sources.sqldump"),
        "workload.apply_s": wall("workload.apply"),
        "planner.convert_s": wall("planner.convert"),
        "nesting.materialize_s": wall("nesting.materialize"),
        "nesting.exec_s": wall("nesting.exec"),
        "sinks.write_s": wall("sinks.write"),
        "service.run_migration_s": wall("service.run_migration"),
        "trace.job_s": root["end"] - root["start"],
        "trace.unattributed_s": tracing.self_seconds(root, run_spans),
        # Spark jobs no layer span covers
        "trace.unattributed_jobs": len(span_jobs.get(root["id"], [])),
    }
    m["sinks.self_s"] = m["sinks.write_s"] - m["nesting.exec_s"]
    for key in ("roots", "embedded", "referenced"):
        m[f"planner.{key}"] = attr("planner.convert", key)
    for key in ("bytes_out", "files_out", "docs_out"):
        m[f"sinks.{key}"] = attr("sinks.write", key)
    children = [s["start"] for s in run_spans if s["parent"] == root["id"]]
    if root["name"] == "service.run_migration" and children:
        m["service.lock_wait_s"] = min(children) - root["start"]
    for layer, t in totals.items():
        for key in ("jobs", "tasks", "failed_tasks", "gc_s"):
            m[f"{layer}.{key}"] = t[key]
        if layer in ("workload", "nesting"):
            m[f"{layer}.core_util"] = t["core_util"]
        if layer == "nesting":
            m[f"{layer}.shuffle_write_bytes"] = t["shuffle_write_bytes"]
            m[f"{layer}.spill_bytes"] = t["spill_bytes"]
    return m


# ---------------------------------------------------------------------------
# Job loop shared by the in-process workloads
# ---------------------------------------------------------------------------

def _timed_job(run: Run, phase: str, job, check, traced: bool) -> None:
    tracer = run.tracer
    ctx = contextlib.nullcontext()
    if traced:
        tracer.enabled = True
        ctx = tracer.span("job", "job")
    start = time.perf_counter()
    try:
        with ctx:
            out = job()
    except Exception as exc:  # a failed job counts in `failed`
        run.record(phase, start, time.perf_counter(), False,
                   f"{phase} job: {exc!r}", traced)
        return
    finally:
        if tracer is not None:
            tracer.enabled = False
    end = time.perf_counter()
    try:
        out_bytes = check(out)
    except CheckFailed as exc:
        run.record(phase, start, end, False, f"{phase} check: {exc}", traced)
        return
    run.record(phase, start, end, True, None, traced, out_bytes)


@contextlib.contextmanager
def peak_rss_window(run: Run, program_pid: int):
    """Takes the program's peak RSS over the timed window; it is reset at
    the window's start, so setup does not count."""
    pids = measure.program_pids(program_pid)
    measure.reset_peak_rss(pids)
    yield
    by_process = measure.peak_rss_mb(pids)
    run.info["peak_rss_mb"] = by_process
    run.peak_rss_mb = sum(by_process.values())


def in_process(run: Run, prepare, make_job, rows_of) -> dict:
    """setup -> warm-up jobs -> window, for workloads that drive the program
    through its Python entry points in this process."""
    t0 = time.perf_counter()
    state = prepare(run)
    s0 = time.perf_counter()
    spark = start_session(run)
    session_s = time.perf_counter() - s0
    setup_s = time.perf_counter() - t0
    try:
        job, check = make_job(run, spark, state)
        for _ in range(WARMUP_JOBS["cli"]):
            _timed_job(run, "warmup", job, check, False)
        with peak_rss_window(run, os.getpid()):
            start = time.perf_counter()
            traced = False
            while (time.perf_counter() - start < run.seconds
                   or (run.trace
                       and not (run.warm(True) and run.warm(False)))):
                _timed_job(run, "warm", job, check, traced)
                traced = run.trace and not traced
                if len(run.jobs) > 200:
                    break
    finally:
        stop_session(spark)
    run.info["inputs"] = state["inputs"]
    if not run.trace:
        return run.e2e(setup_s, rows_of(state))
    run.tracer.dump(os.path.join(run.root, ".perfbench_work", "traces",
                                 f"{run.info['workload']}-{run.seed}.json"))
    return layer_metrics(run, run.tracer.spans, "job", session_s,
                         state["input_bytes"], state["statements"])


# ---------------------------------------------------------------------------
# Workload: CLI batch migration with a hot query log
# ---------------------------------------------------------------------------

def cli_migration(sf: float, log_entries: int):
    def prepare(run: Run) -> dict:
        tables = run.path("inputs", "tables")
        rows = gen.write_tables(tables, run.seed, sf)
        text, stats = gen.mysql_general_log(run.seed, log_entries,
                                            gen.table_sizes(sf))
        log = run.path("inputs", "general.log")
        with open(log, "w") as fh:
            fh.write(text)
        return {
            "tables": tables, "log": log, "rows": rows,
            "statements": stats["queries"],
            "input_bytes": len(text) + sum(
                os.path.getsize(os.path.join(tables, f))
                for f in os.listdir(tables)),
            "inputs": {"sf": sf, "rows": rows, "log": {
                "entries": log_entries, "bytes": len(text), **stats}},
        }

    def make_job(run: Run, spark, state):
        from relational_to_doc_oriented_nosql_migrator_spark import cli

        expected = documents_digest(expected_documents(
            gen.make_tables(run.seed, sf)))
        counts = {c: n for c, (_h, n) in expected.items()}
        args = ["--tables", state["tables"], "--log", state["log"],
                "--out", run.path("out")]
        verified: list[dict] = []

        def job():
            # every job writes over the previous one's output, as a rerun
            # of the CLI does
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                cli.main(args)
            return json.loads(buf.getvalue().strip().splitlines()[-1])

        def check(summary) -> int:
            """The first job's documents are compared with the expected
            ones; every later job must write the same NDJSON lines."""
            if summary["collections"] != counts:
                raise CheckFailed(f"summary counts {summary['collections']}"
                                  f" != {counts}")
            lines, nbytes = ndjson_digest(run.path("out"))
            if not verified:
                check_documents(expected,
                                ndjson_documents(run.path("out"), lines))
                verified.append(lines)
            elif lines != verified[0]:
                raise CheckFailed("NDJSON lines differ from the first job's")
            return nbytes

        return job, check

    def rows_of(state):
        return sum(state["rows"].values())

    return lambda run: in_process(run, prepare, make_job, rows_of)


# ---------------------------------------------------------------------------
# Workload: HTTP dump service
# ---------------------------------------------------------------------------

def _multipart(fields: dict[str, tuple[str | None, bytes]]) -> tuple[bytes, str]:
    boundary = "perfbench-boundary-7d1f0c"
    parts = []
    for name, (filename, data) in fields.items():
        disp = f'form-data; name="{name}"'
        if filename:
            disp += f'; filename="{filename}"'
        parts.append(
            f"--{boundary}\r\nContent-Disposition: {disp}\r\n\r\n".encode()
            + data + b"\r\n")
    body = b"".join(parts) + f"--{boundary}--\r\n".encode()
    return body, f"multipart/form-data; boundary={boundary}"


def _request(port: int, body: bytes, ctype: str) -> tuple[dict, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
    try:
        conn.request("POST", "/migration", body, {"Content-Type": ctype})
        resp = conn.getresponse()
        payload = resp.read()
        if resp.status != 200:
            raise CheckFailed(f"POST /migration -> {resp.status}")
        conn.request("GET", "/download/result")
        resp = conn.getresponse()
        data = resp.read()
        if resp.status != 200:
            raise CheckFailed(f"GET /download/result -> {resp.status}")
    finally:
        conn.close()
    return json.loads(payload), data


def _zip_contents(data: bytes) -> tuple[dict[str, list], int]:
    """({collection: documents}, uncompressed JSON bytes) of a downloaded
    collections.zip."""
    docs, nbytes = {}, 0
    with zipfile.ZipFile(io.BytesIO(data)) as zf:
        for info in zf.infolist():
            name = info.filename
            docs[name[:-5] if name.endswith(".json") else name] = \
                json.loads(zf.read(info))
            nbytes += info.file_size
    return docs, nbytes


def service_dump(sf: float, log_entries: int, clients: int = 2):
    def run_service(run: Run) -> dict:
        t0 = time.perf_counter()
        sql, rows = gen.mysqldump(run.seed, sf)
        log, stats = gen.mysql_general_log(run.seed, log_entries,
                                           gen.table_sizes(sf))
        body, ctype = _multipart({
            "sqlFile": ("tpch.sql", sql.encode()),
            "logFile": ("general.log", log.encode()),
            "dbType": (None, b"mysql"),
        })
        run.info["inputs"] = {"sf": sf, "rows": rows, "dump_bytes": len(sql),
                              "log": {"entries": log_entries,
                                      "bytes": len(log), **stats}}
        proc, port, session_s = _start_service(run)
        setup_s = time.perf_counter() - t0
        expected = documents_digest(expected_documents(
            gen.make_tables(run.seed, sf, gen.TPCH_TABLES)))
        try:
            latencies_traced: list[float] = []
            switched = threading.Event()
            switch_lock = threading.Lock()

            def one(phase: str, traced_before: bool) -> None:
                start = time.perf_counter()
                try:
                    _payload, data = _request(port, body, ctype)
                except Exception as exc:  # counted as a failed request
                    run.record(phase, start, time.perf_counter(), False,
                               f"{phase} request: {exc!r}", traced_before)
                    return
                end = time.perf_counter()
                # a request in flight when tracing switched on is neither
                # traced nor untraced
                traced = (traced_before
                          if traced_before == switched.is_set() else None)
                try:
                    docs, nbytes = _zip_contents(data)
                    check_documents(expected, docs)
                except (CheckFailed, zipfile.BadZipFile, ValueError,
                        KeyError) as exc:
                    run.record(phase, start, end, False,
                               f"{phase} check: {exc}", traced)
                    return
                run.record(phase, start, end, True, None, traced, nbytes)
                if traced:
                    latencies_traced.append(end - start)

            for _ in range(WARMUP_JOBS["service"]):
                one("warmup", False)
            window_start = time.perf_counter()

            def client() -> None:
                while time.perf_counter() - window_start < run.seconds:
                    if run.trace and (time.perf_counter() - window_start
                                      >= run.seconds / 2):
                        with switch_lock:
                            if not switched.is_set():
                                proc.send_signal(signal.SIGUSR1)
                                switched.set()
                    one("warm", switched.is_set())

            threads = [threading.Thread(target=client) for _ in range(clients)]
            with peak_rss_window(run, proc.pid):
                for t in threads:
                    t.start()
                for t in threads:
                    t.join()
        finally:
            _stop_service(proc)
        if not run.trace:
            return run.e2e(setup_s, sum(rows.values()))
        spans_path = run.path("spans.json")
        with open(spans_path) as fh:
            spans = json.load(fh)
        shutil.copy(spans_path, os.path.join(
            run.root, ".perfbench_work", "traces",
            f"{run.info['workload']}-{run.seed}.json"))
        return layer_metrics(run, spans, "service.run_migration", session_s,
                             len(sql) + len(log), stats["queries"],
                             latencies_traced)

    return run_service


def _start_service(run: Run):
    cmd = [sys.executable, os.path.join(HERE, "service_main.py"),
           "--spans", run.path("spans.json")]
    for key, value in session_conf(run).items():
        if not key.startswith("spark.eventLog"):
            cmd += ["--conf", f"{key}={value}"]
    if run.trace:
        os.makedirs(os.path.join(run.root, ".perfbench_work", "traces"),
                    exist_ok=True)
        cmd += ["--events", run.path("events")]
    start = time.perf_counter()
    stderr = open(run.path("service.err"), "wb")
    proc = subprocess.Popen(cmd, cwd=run.work, stdout=subprocess.PIPE,
                            stderr=stderr, env={**os.environ,
                                                "PYTHONUNBUFFERED": "1"})
    stderr.close()
    lines: queue.Queue = queue.Queue()

    def pump():
        for line in proc.stdout:
            lines.put(line.decode(errors="replace"))
        lines.put(None)

    threading.Thread(target=pump, daemon=True).start()
    deadline = time.monotonic() + 150
    while time.monotonic() < deadline:
        try:
            line = lines.get(timeout=1)
        except queue.Empty:
            continue
        if line is None:
            break
        m = re.search(r"serving on 127\.0\.0\.1:(\d+)", line)
        if m:
            return proc, int(m.group(1)), time.perf_counter() - start
    _stop_service(proc)
    raise RuntimeError("service did not start; see service.err")


def _stop_service(proc) -> None:
    descendants = measure.process_tree(proc.pid)[1:]
    if proc.poll() is None:
        proc.send_signal(signal.SIGINT)
        try:
            proc.wait(timeout=90)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    wait_gone(descendants, 30)


WORKLOADS = {
    "migrate_hotlog_sf0.02": cli_migration(0.02, 5_000),
    "service_dump_sf0.001": service_dump(0.001, 1_000),
}
