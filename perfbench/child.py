"""One benchmark run in a fresh process: cold JVM, cold Python workers, as a
``spark-submit`` user pays them.

    python3 perfbench/child.py <spec.json>

The spec names the checkout root, the job, its arguments, whether to trace,
and where to write the result. The process times ``session.get_spark`` plus a
first trivial action (``setup_s``), then the job entry point's ``main()``
(``job_s``), stops Spark and waits for the JVM to exit so that the parent's
rusage of this process covers the whole tree.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import contextlib  # noqa: E402
import io  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402


class _Tee(io.TextIOBase):
    """Keep what the job prints (its F1 / audit / funnel lines) while still
    passing it through to the real stdout."""

    def __init__(self, inner):
        self.inner = inner
        self.buf = io.StringIO()

    def write(self, s):
        self.buf.write(s)
        return self.inner.write(s)

    def flush(self):
        self.inner.flush()


def main() -> int:
    with open(sys.argv[1]) as f:
        spec = json.load(f)
    sys.path.insert(0, spec["root"])
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    from entity_resolution_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(spec["scratch"], "warehouse"),
    }
    if spec["trace"]:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + spec["eventlog_dir"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", master=f"local[{spec['cores']}]", extra_conf=conf)
    spark.range(1).count()
    setup_s = time.perf_counter() - T_START
    tracer = None
    if spec["trace"]:
        import trace_spans

        tracer = trace_spans.Tracer(spark, spec["job"])
        tracer.install()

    if spec["job"] == "resolve":
        import jobs.resolve_job as job
    else:
        import jobs.corpus_prep_job as job
    sys.argv = [job.__file__, *spec["argv"]]
    tee = _Tee(sys.stdout)
    t0 = time.perf_counter()
    with contextlib.redirect_stdout(tee):
        rc = job.main()
    job_s = time.perf_counter() - t0

    result = {"setup_s": setup_s, "job_s": job_s, "rc": rc, "stdout": tee.buf.getvalue()}
    if tracer is not None:
        result["spans"] = tracer.finish()
        result["event_log"] = os.path.join(spec["eventlog_dir"], spark.sparkContext.applicationId)

    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        # the gateway JVM exits on EOF of its stdin; reaping it here rolls its
        # CPU and RSS into this process's rusage
        proc.stdin.close()
        proc.wait(timeout=60)
    with open(spec["result"], "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
