"""Per-layer profile of one resolve run at N cores.

Runs ``plans.pipeline.resolve`` on a parquet corpus of repo files under the
benchmark's layer tracer (``perfbench/trace_spans.py``), with the same
uncompressed, non-rolling event log that ``perfbench/child.py`` sets, and
prints ``layer_metrics`` as one JSON object: per layer wall, executor CPU, GC,
Python-worker time, shuffle, spill, rows, jobs, skew and driver-only time, plus
the run's total task CPU. The layers' ``cpu_s`` (``unattributed`` included)
sum to ``task_cpu_s``.

To compare core counts, run it twice, e.g. ``--cores 1`` under
``taskset -c 0`` and ``--cores 4``.

Usage: python tools/diag_scaling.py --cores 4 --corpus DIR [--eventlog-dir DIR]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# the Python workers Spark forks import the package too
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")]))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=os.cpu_count())
    ap.add_argument("--corpus", required=True, help="parquet dir of repo files")
    ap.add_argument("--eventlog-dir", default=None, help="default: a new temp dir")
    args = ap.parse_args()

    from entity_resolution_spark.plans import pipeline
    from entity_resolution_spark.session import get_spark
    from perfbench.trace_spans import Tracer, layer_metrics

    evdir = os.path.abspath(args.eventlog_dir or tempfile.mkdtemp(prefix="eventlog_"))
    os.makedirs(evdir, exist_ok=True)
    spark = get_spark("diag", master=f"local[{args.cores}]", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + evdir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })
    tracer = Tracer(spark, "resolve")
    tracer.install()
    t0 = time.monotonic()
    pipeline.resolve(spark, spark.read.parquet(args.corpus))
    job_s = time.monotonic() - t0
    trace = tracer.finish()
    event_log = os.path.join(evdir, spark.sparkContext.applicationId)
    spark.stop()  # closes the event log
    out = {"cores": args.cores, "job_s": round(job_s, 3), "event_log": event_log,
           **layer_metrics(event_log, trace)}
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
