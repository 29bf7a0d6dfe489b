"""Spans around the program's layer functions, and Spark counters per span.

The tracer replaces each layer's public function, at the module attribute
its callers look it up through, with a wrapper that records a span (name,
layer, start, end, parent, run id). Spans stay in memory and are written
when the benchmark ends. Each span also sets the Spark job description to
`<span name>#<span id>`, so the event log's jobs map back to spans; jobs
submitted from threads that carry no description (the sink's writer pool)
go to the innermost span open at their submission time.

Wrappers are installed once and switched with `enabled`, so one process
can alternate traced and untraced jobs to measure the tracing overhead.
"""

from __future__ import annotations

import contextlib
import importlib
import itertools
import json
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor

PKG = "relational_to_doc_oriented_nosql_migrator_spark"
LAYERS = ("session", "sources", "workload", "planner", "nesting", "sinks",
          "service")

# (module, attribute, span name, layer). A function appears once per module
# that binds it at import time, because callers resolve it there.
TARGETS = (
    ("session", "get_spark", "session.get_spark", "session"),
    ("engine", "build_testdata_catalog", "sources.catalog", "sources"),
    ("sources.sqldump", "import_sql_dump", "sources.sqldump", "sources"),
    ("workload", "apply_workload", "workload.apply", "workload"),
    ("engine", "convert_schema", "planner.convert", "planner"),
    ("engine", "materialize", "nesting.materialize", "nesting"),
    ("plans.nesting", "materialize_streamed_root", "nesting.materialize",
     "nesting"),
    ("sinks", "write_json_collections", "sinks.write", "sinks"),
    ("service", "write_json_collections", "sinks.write", "sinks"),
    ("service", "run_migration", "service.run_migration", "service"),
    ("service", "migrate_from_dump", "engine.migrate_from_dump", "engine"),
    ("engine", "migrate_streamed", "engine.migrate_streamed", "engine"),
)


def force(df) -> None:
    """Execute a DataFrame's whole plan without writing output."""
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> tuple[int, int]:
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if name.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(root, name))
            files += 1
    return total, files


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.enabled = False
        self._sc = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()

    def attach(self, spark) -> None:
        self._sc = spark.sparkContext

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        stack = self._tls.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            span_id = next(self._ids)
        rec = {"id": span_id, "parent": parent["id"] if parent else None,
               "run": parent["run"] if parent else span_id, "name": name,
               "layer": layer, "start": time.time(), "end": None,
               "attrs": dict(attrs)}
        stack.append(rec)
        previous = None
        if self._sc is not None:
            previous = self._sc.getLocalProperty("spark.job.description")
            self._sc.setJobDescription(f"{name}#{span_id}")
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if self._sc is not None:
                self._sc.setLocalProperty("spark.job.description", previous)
            with self._lock:
                self.spans.append(rec)

    # -- wrappers ----------------------------------------------------------

    def _wrap(self, original, name: str, layer: str):
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return original(*args, **kwargs)
            if layer == "engine":
                return tracer._engine_call(original, name, args, kwargs)
            with tracer.span(name, layer) as rec:
                result = original(*args, **kwargs)
            tracer._annotate(rec, result, args, kwargs)
            return result

        wrapper.__wrapped__ = original
        return wrapper

    def _engine_call(self, original, name, args, kwargs):
        """engine functions only compose layers: a structural span, plus
        the traced-run-only noop execution of the nested collections they
        return (the `nesting.exec` span), which separates nesting compute
        from the sink's own work."""
        with self.span(name, "engine"):
            result = original(*args, **kwargs)
            collections = result[0] if isinstance(result, tuple) else result
            streamed = result[1] if name == "engine.migrate_streamed" else {}
            frames = [df for coll, df in collections.items()
                      if coll not in streamed]
            # concurrent like the sink's own writer pool, so the sink's
            # self time is its write minus this
            with self.span("nesting.exec", "nesting"), ThreadPoolExecutor(
                    max(1, min(4, len(frames)))) as pool:
                list(pool.map(force, frames))
        return result

    @staticmethod
    def _annotate(rec: dict, result, args, kwargs) -> None:
        if rec["name"] == "planner.convert":
            roots = result.collections
            embedded, stack = 0, [c for r in roots for c in r.embedded]
            while stack:
                embedded += 1
                stack.extend(stack.pop().embedded)
            rec["attrs"].update(
                roots=len(roots), embedded=embedded,
                referenced=sum(any(a.endswith("_REF") for a in r.attributes)
                               for r in roots),
            )
        elif rec["name"] == "sinks.write":
            out_dir = args[1] if len(args) > 1 else kwargs["out_dir"]
            counts = kwargs.get("counts") or {}
            nbytes, nfiles = _dir_bytes(out_dir)
            rec["attrs"].update(bytes_out=nbytes, files_out=nfiles,
                                docs_out=sum(counts.values()))

    def install(self) -> None:
        for mod_name, attr, name, layer in TARGETS:
            module = importlib.import_module(f"{PKG}.{mod_name}")
            setattr(module, attr,
                    self._wrap(getattr(module, attr), name, layer))

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(sorted(self.spans, key=lambda s: s["id"]), fh)


# ---------------------------------------------------------------------------
# Spark event log -> per-job counters -> per-span attribution
# ---------------------------------------------------------------------------

def eventlog_conf(events_dir: str) -> dict[str, str]:
    os.makedirs(events_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(events_dir),
        "spark.eventLog.compress": "false",
    }


def read_event_log(events_dir: str) -> list[dict]:
    """Jobs with their task counters, from every event log in the dir."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    paths = sorted(
        os.path.join(root, name)
        for root, _dirs, names in os.walk(events_dir) for name in names
        if not name.startswith(("appstatus", "."))
    )
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job_id = ev["Job ID"]
                    jobs[job_id] = {
                        "id": job_id,
                        "submit": ev["Submission Time"] / 1000.0,
                        "desc": (ev.get("Properties") or {}).get(
                            "spark.job.description"),
                        "tasks": 0, "failed_tasks": 0, "run_s": 0.0,
                        "gc_s": 0.0, "shuffle_write_bytes": 0,
                        "spill_bytes": 0,
                    }
                    for stage in ev.get("Stage IDs", []):
                        stage_job.setdefault(stage, job_id)
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev.get("Stage ID")))
                    if job is None:
                        continue
                    info = ev.get("Task Info") or {}
                    metrics = ev.get("Task Metrics") or {}
                    job["tasks"] += 1
                    job["failed_tasks"] += int(bool(info.get("Failed")
                                                    or info.get("Killed")))
                    job["run_s"] += metrics.get("Executor Run Time", 0) / 1e3
                    job["gc_s"] += metrics.get("JVM GC Time", 0) / 1e3
                    job["shuffle_write_bytes"] += (
                        metrics.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
                    job["spill_bytes"] += metrics.get("Disk Bytes Spilled", 0)
    return list(jobs.values())


def attribute_jobs(jobs: list[dict], spans: list[dict]) -> dict[int, list[dict]]:
    """{span id: [jobs]} — by the description's span id, else by the
    innermost span open when the job was submitted."""
    by_id = {s["id"]: s for s in spans}
    out: dict[int, list[dict]] = {}
    for job in jobs:
        span = None
        desc = job["desc"] or ""
        if "#" in desc:
            tail = desc.rsplit("#", 1)[1]
            span = by_id.get(int(tail)) if tail.isdigit() else None
        if span is None:
            open_spans = [s for s in spans
                          if s["start"] <= job["submit"] <= s["end"]]
            if open_spans:
                span = max(open_spans, key=lambda s: s["start"])
        if span is not None:
            out.setdefault(span["id"], []).append(job)
    return out


def self_seconds(span: dict, spans: list[dict]) -> float:
    """Span duration minus the part of it its child spans cover."""
    children = sorted((c["start"], c["end"]) for c in spans
                      if c["parent"] == span["id"])
    covered, cur_start, cur_end = 0.0, None, None
    for start, end in children:
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        covered += cur_end - cur_start
    return (span["end"] - span["start"]) - covered


def layer_totals(run_spans: list[dict], span_jobs: dict[int, list[dict]],
                 cores: int) -> dict[str, dict]:
    """Per layer within one run: wall seconds (outermost spans of the
    layer), Spark counters of the jobs attributed to the layer's spans,
    and core utilisation = executor busy / (wall x cores)."""
    by_id = {s["id"]: s for s in run_spans}
    totals: dict[str, dict] = {}
    for s in run_spans:
        t = totals.setdefault(s["layer"], {
            "wall_s": 0.0, "jobs": 0, "tasks": 0, "failed_tasks": 0,
            "gc_s": 0.0, "run_s": 0.0, "shuffle_write_bytes": 0,
            "spill_bytes": 0})
        parent = by_id.get(s["parent"])
        if parent is None or parent["layer"] != s["layer"]:
            t["wall_s"] += s["end"] - s["start"]
        for job in span_jobs.get(s["id"], []):
            t["jobs"] += 1
            for key in ("tasks", "failed_tasks", "gc_s", "run_s",
                        "shuffle_write_bytes", "spill_bytes"):
                t[key] += job[key]
    for t in totals.values():
        t["core_util"] = (t["run_s"] / (t["wall_s"] * cores)
                          if t["wall_s"] > 0 else 0.0)
    return totals
