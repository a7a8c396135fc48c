"""Smoke self-test of the benchmark: every workload once, untraced and traced,
at the smallest size; every metric named in BENCHMARK.json must be printed
with its unit, and every output check must pass. Also checks that the
benchmark refuses to run without the program (a directory holding only
BENCHMARK.json and the benchmark's own files), and that ``stage.py``'s
``doc_id`` hash equals Spark's ``F.xxhash64``.

    python3 perfbench/smoke_test.py            # from the root of a checkout

Takes a few minutes: each run is a cold Spark process.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SMOKE_ENTITIES = "30"


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=300,
        env=dict(os.environ, PERFBENCH_ENTITIES=SMOKE_ENTITIES),
    )


def xxhash64_mismatches() -> list[str]:
    """``stage.spark_xxhash64`` against Spark's ``F.xxhash64`` on the smoke
    corpus's (repo, path, commit) keys plus strings of every length class the
    hash branches on (0-40 bytes, multi-byte UTF-8)."""
    import stage
    from entity_resolution_spark.session import get_spark
    from entity_resolution_spark.synth.generator import SynthConfig, generate_corpus
    from pyspark.sql import functions as F

    files, _, _ = generate_corpus(SynthConfig(seed=1, n_entities=int(SMOKE_ENTITIES)))
    rows = [(r["repo"], r["path"], r["commit"]) for r in files]
    rows += [("x" * n, "\u00fc\u2713" * (n % 7), "") for n in range(41)]
    spark = get_spark("perfbench-smoke", master="local[1]",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    try:
        got = spark.createDataFrame(rows, "repo string, path string, commit string") \
            .select(F.xxhash64("repo", "path", "commit").alias("h")).collect()
    finally:
        spark.stop()
    return [f"xxhash64{r}: spark {g.h}, stage.py {stage.spark_xxhash64(*r)}"
            for r, g in zip(rows, got) if g.h != stage.spark_xxhash64(*r)]


def main() -> int:
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    expected = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    workloads = [w["name"] for w in bench["workloads"]]
    failures = xxhash64_mismatches()
    print(f"xxhash64 parity: {'ok' if not failures else 'FAILED'}", flush=True)
    for workload in workloads:
        for trace in (0, 1):
            p = _run(ROOT, workload, trace)
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            try:
                result = json.loads(last)
            except ValueError:
                failures.append(f"{workload} trace={trace}: no result (exit {p.returncode})\n"
                                f"{p.stderr[-2000:]}")
                continue
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if p.returncode != 0 or not result["correct"] or result["failed"]:
                failures.append(f"{workload} trace={trace}: {last}\n{p.stdout[-3000:]}")
            if got != expected[trace]:
                failures.append(f"{workload} trace={trace}: metrics differ from "
                                f"BENCHMARK.json: {sorted(set(got) ^ set(expected[trace]))}")
            print(f"{workload} trace={trace}: ok={not failures} "
                  f"attempted={result['attempted']}", flush=True)

    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    p = _run(bare, workloads[0], 0)
    if p.returncode == 0 or p.stdout.strip():
        failures.append(f"without the program: exit {p.returncode}, stdout {p.stdout!r}")
    shutil.rmtree(bare, ignore_errors=True)

    for f in failures:
        print("FAIL", f)
    print("smoke test", "FAILED" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
