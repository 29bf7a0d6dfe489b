"""Benchmark of the relational -> document migrator.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the seeded inputs, drives the
program through its public entry points (`cli.main` and the HTTP service),
checks every output, and prints as its last line one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 they are the per-layer
ones from a traced run. The line before it holds the run's environment,
input sizes, per-job timings and any errors.

Everything the run writes goes under <checkout>/.perfbench_work/; the
per-run scratch directory is removed at exit, traced runs leave their
spans in .perfbench_work/traces/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

import measure
import workloads

PACKAGE = "relational_to_doc_oriented_nosql_migrator_spark"
WORK_DIR = ".perfbench_work"


def prepare_environment(root: str, workload: str) -> str:
    """Create the run's scratch dir under the checkout, point every
    temp/scratch location of Python, the JVM and Spark into it, and set
    the program's configuration."""
    work = os.path.join(root, WORK_DIR, f"{workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "local"), os.path.join(work, "inputs")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(workloads.CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = workloads.DRIVER_MEM
    # the driver JVM's whole heap is committed and touched at start, so
    # peak_rss_mb does not depend on when G1 decides to grow the heap
    os.environ["SPARK_SUBMIT_OPTS"] = (
        f"-Xms{workloads.DRIVER_MEM} -XX:+AlwaysPreTouch")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
        f"-Dderby.system.home={work}")))
    # derby.log, metastore_db and spark-warehouse land in the JVM's cwd
    os.chdir(work)
    return work


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ in {root}; run from the root of a "
              "checkout", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    sys.path.insert(0, root)
    work = prepare_environment(root, args.workload)
    steal0 = measure.steal_seconds()
    try:
        run = workloads.Run(root, work, args.seed, args.seconds,
                            bool(args.trace))
        run.info["workload"] = args.workload
        metrics = workloads.WORKLOADS[args.workload](run)
        result = run.result(metrics)
        run.info["env"] = measure.environment(args.seed)
        run.info["jobs"] = [
            {k: (round(v, 4) if isinstance(v, float) else v)
             for k, v in j.items() if k not in ("start", "end")}
            for j in run.jobs]
        run.info["errors"] = run.errors
        run.info["steal_s"] = measure.steal_seconds() - steal0
    finally:
        os.chdir(root)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"info": run.info}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
