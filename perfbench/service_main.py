"""Run the program's HTTP migration service for the benchmark.

    python3 perfbench/service_main.py --spans SPANS.json [--events DIR]

Starts `service.main(["--port", "0"])` in this process. With --events, the
layer wrappers of perfbench/spans.py are installed, the Spark event log is
written to DIR, tracing is switched on by SIGUSR1, and the spans are
written to SPANS.json after SIGINT stops the server.
"""

from __future__ import annotations

import argparse
import os
import signal
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import spans as tracing  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--spans", required=True)
    ap.add_argument("--events", default=None)
    ap.add_argument("--conf", action="append", default=[])
    args = ap.parse_args()

    from relational_to_doc_oriented_nosql_migrator_spark import service, session

    conf = dict(kv.split("=", 1) for kv in args.conf)
    tracer = tracing.Tracer()
    if args.events:
        conf.update(tracing.eventlog_conf(args.events))
        tracer.install()
    get_spark = session.get_spark

    def configured_get_spark(*a, **kw):
        spark = get_spark(*a, **{**kw, "extra_conf": conf})
        spark.sparkContext.setLogLevel("ERROR")
        tracer.attach(spark)
        return spark

    session.get_spark = configured_get_spark

    def enable(*_):
        tracer.enabled = True

    signal.signal(signal.SIGUSR1, enable)
    try:
        service.main(["--port", "0"])
    finally:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is not None:
            spark.stop()
        tracer.dump(args.spans)
    return 0


if __name__ == "__main__":
    sys.exit(main())
