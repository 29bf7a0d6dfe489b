#!/usr/bin/env python
"""One POST /migration's work in a service worker, measured alone.

Builds the benchmark's service request (perfbench/gen.py's
`mysqldump(seed, sf)` plus a 1,000-entry MySQL general log, sent as the
multipart body of perfbench/workloads.py's clients), then runs
`service._run_in_worker` on it once in a fresh Python process that
imports neither the generator nor numpy, and prints one JSON line:

- `stages`: the request's stage seconds, from its record;
- `wall_s`: the wall seconds of the whole call;
- `peak_rss_mb`: that process's peak RSS, body included: its `VmHWM`,
  since `ru_maxrss` keeps the high-water mark of the process that
  forked it across the exec;
- `archive_bytes`: the size of the zip it published.

Usage: python tools/dump_request_probe.py --seed 7 --sf 0.05
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The fresh interpreter: the body on stdin, the Content-Type in argv.
_WORKER = """
import json, os, sys, tempfile, time, uuid
from relational_to_doc_oriented_nosql_migrator_spark import service
body = sys.stdin.buffer.read()
record = {"id": uuid.uuid4().hex}
with tempfile.TemporaryDirectory() as results:
    start = time.perf_counter()
    service._run_in_worker(sys.argv[1], body, results, record)
    wall = time.perf_counter() - start
    archive = os.path.getsize(service.result_zip(results, record["id"]))
print(json.dumps({
    "stages": record["stages"], "wall_s": round(wall, 6),
    "peak_rss_mb": round(int(open("/proc/self/status").read().split(
        "VmHWM:")[1].split()[0]) / 1024, 1),
    "archive_bytes": archive}))
"""


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--sf", type=float, default=0.001)
    args = ap.parse_args(argv)
    sys.path.insert(0, os.path.join(REPO, "perfbench"))
    import gen
    from workloads import _multipart

    sql, _rows = gen.mysqldump(args.seed, args.sf)
    log, _stats = gen.mysql_general_log(args.seed, 1000,
                                        gen.table_sizes(args.sf))
    body, ctype = _multipart({
        "sqlFile": ("tpch.sql", sql.encode()),
        "logFile": ("general.log", log.encode()),
        "dbType": (None, b"mysql"),
    })
    del sql, log
    out = subprocess.run([sys.executable, "-c", _WORKER, ctype],
                         input=body, stdout=subprocess.PIPE, check=True,
                         cwd=REPO)
    sys.stdout.write(out.stdout.decode())
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
