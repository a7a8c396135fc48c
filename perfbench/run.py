"""Seeded benchmark of the repository's batch jobs.

    python3 perfbench/run.py --workload resolve_longfiles --seed 7 --seconds 50 --trace 0

Run from the root of a checkout. Stages the workload's seeded inputs (outside
the timed region), then runs a closed loop of fresh processes on
``local[$(nproc)]``, one job at a time: every ``spark-submit`` user pays a cold
JVM and cold Python workers, so each run does too. A run is
``perfbench/child.py``, which calls ``session.get_spark`` and the job's real
entry point (``jobs/resolve_job.main`` or ``jobs/corpus_prep_job.main``).

The loop starts another job run while the median run still fits in
``--seconds`` (the first always runs); each metric is the median over the
runs. Every run's output is checked by ``checks.py`` and every run's raw sample
(with the host's load and hypervisor steal) is printed as a ``# sample`` line
and kept under ``.perfbench_work/samples``.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` adds one traced run
(spans from ``trace_spans.py`` plus the Spark event log) and prints the
per-layer metrics. The last stdout line is the result object.
"""

from __future__ import annotations

import argparse
import ctypes
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
# files of the program under test that the benchmark drives
PROGRAM = ["entity_resolution_spark/session.py", "jobs/resolve_job.py",
           "jobs/corpus_prep_job.py", "entity_resolution_spark/synth/generator.py"]
# directories whose sources make up the program under test (its fingerprint)
PROGRAM_DIRS = ["entity_resolution_spark", "jobs"]
# hard cap on one invocation's wall, under the 180 s the runner allows
INVOCATION_CAP_S = 170.0

END_TO_END = [
    ("setup_s", "s"), ("job_s", "s"), ("rows_per_s", "1/s"), ("cpu_s", "s"),
    ("pairwise_f1", "ratio"), ("success_rate", "ratio"),
]


def program_fingerprint() -> str:
    """sha256 over the program's Python sources (relative path + bytes)."""
    h = hashlib.sha256()
    for top in PROGRAM_DIRS:
        for d, subdirs, files in os.walk(os.path.join(ROOT, top)):
            subdirs[:] = sorted(x for x in subdirs if x != "__pycache__")
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(d, name)
                    h.update(os.path.relpath(path, ROOT).encode() + b"\0")
                    with open(path, "rb") as f:
                        h.update(f.read() + b"\0")
    return h.hexdigest()


def _steal_s() -> float:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _set_subreaper() -> None:
    # orphaned descendants (a JVM whose Python parent died) are re-parented
    # to this process, so they can be reaped and none outlives the benchmark
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _children() -> list[int]:
    me, out = os.getpid(), []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == me:
                        out.append(int(d))
            except (OSError, ValueError, IndexError):
                pass
    return out


def _reap_all(grace_s: float = 20.0) -> tuple[float, float]:
    """Wait for every remaining descendant; kill any still alive after
    ``grace_s``. Returns (cpu seconds, max RSS MB) of what was reaped."""
    cpu, rss = 0.0, 0.0
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _, ru = os.wait4(-1, os.WNOHANG)
        except ChildProcessError:
            return cpu, rss
        if pid:
            cpu += ru.ru_utime + ru.ru_stime
            rss = max(rss, ru.ru_maxrss / 1024)
            continue
        if time.monotonic() > deadline:
            for c in _children():
                try:
                    os.kill(c, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        import stage

        self.seconds, self.trace = seconds, trace
        self.t_begin = time.monotonic()
        self.cores = len(os.sched_getaffinity(0))  # what `nproc` prints
        self.scratch = os.path.join(WORK, "scratch")
        shutil.rmtree(self.scratch, ignore_errors=True)
        for d in ("tmp", "local", "eventlog", "out"):
            os.makedirs(os.path.join(self.scratch, d))
        n = int(os.environ.get("PERFBENCH_ENTITIES", stage.WORKLOADS[workload]["n_entities"]))
        t0 = time.monotonic()
        self.manifest = stage.stage(workload, seed, n, os.path.join(WORK, "inputs"))
        self.stage_s = time.monotonic() - t0
        self.job = self.manifest["job"]
        self.program = program_fingerprint()
        self.samples: list[dict] = []
        self.env = dict(
            os.environ,
            PYTHONPATH=os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
            SPARK_LOCAL_DIRS=os.path.join(self.scratch, "local"),
            TMPDIR=os.path.join(self.scratch, "tmp"),
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(self.scratch, 'tmp')} "
                              "-XX:-UsePerfData",
        )

    def elapsed(self) -> float:
        return time.monotonic() - self.t_begin

    def _spawn(self, spec: dict) -> dict:
        """One fresh child process; returns its raw sample."""
        n = len(self.samples)
        spec.update(root=ROOT, scratch=self.scratch, cores=self.cores,
                    result=os.path.join(self.scratch, f"result-{n}.json"))
        spec_path = os.path.join(self.scratch, f"spec-{n}.json")
        with open(spec_path, "w") as f:
            json.dump(spec, f)
        sample = {"trace": spec["trace"], "nproc": self.cores,
                  "loadavg_before": os.getloadavg()[0]}
        steal0, t0 = _steal_s(), time.monotonic()
        timeout = INVOCATION_CAP_S - self.elapsed()
        with open(os.path.join(self.scratch, f"log-{n}.txt"), "w") as log:
            p = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "child.py"), spec_path],
                cwd=self.scratch, env=self.env, stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            try:
                while time.monotonic() - t0 < timeout:
                    pid, status, ru = os.wait4(p.pid, os.WNOHANG)
                    if pid:
                        break
                    time.sleep(0.05)
                else:
                    os.killpg(p.pid, signal.SIGKILL)
                    _, status, ru = os.wait4(p.pid, 0)
                    sample["error"] = f"timeout after {timeout:.0f}s"
            finally:
                try:
                    os.killpg(p.pid, signal.SIGKILL)  # anything the run left behind
                except ProcessLookupError:
                    pass
            p.returncode = os.waitstatus_to_exitcode(status)
        orphan_cpu, orphan_rss = _reap_all()
        sample["wall_s"] = time.monotonic() - t0
        sample["steal_s"] = _steal_s() - steal0
        sample["cpu_s"] = ru.ru_utime + ru.ru_stime + orphan_cpu
        sample["peak_rss_mb"] = max(ru.ru_maxrss / 1024, orphan_rss)
        sample["exit_code"] = p.returncode
        try:
            with open(spec["result"]) as f:
                sample.update(json.load(f))
        except (OSError, ValueError):
            sample.setdefault("error", f"no result (exit code {p.returncode})")
        self.samples.append(sample)
        return sample

    def job_run(self, trace: bool) -> dict:
        import checks

        m = self.manifest
        out = os.path.join(self.scratch, "out", f"run-{len(self.samples)}")
        if self.job == "resolve":
            argv = ["--input", m["input"], "--output", out, "--labeled-pairs", m["labeled_pairs"]]
        else:
            argv = ["--input", m["input"], "--eval", m["eval"], "--output", out]
        s = self._spawn({"trace": trace, "job": self.job, "argv": argv,
                         "eventlog_dir": os.path.join(self.scratch, "eventlog")})
        if "error" not in s and s.get("rc") != 0:
            s["error"] = f"job returned {s.get('rc')!r}"
        if "error" not in s:
            try:
                problems, facts = checks.CHECKS[self.job](m, out, s["stdout"])
            except Exception as e:  # an unreadable output is a failed check
                problems, facts = [f"output check raised {e!r}"], {}
            s["checks"] = facts
            if problems:
                s["error"] = "; ".join(problems)
        shutil.rmtree(out, ignore_errors=True)
        return s

    def loop(self) -> None:
        walls: list[float] = []
        while not walls or self.elapsed() + statistics.median(walls) <= self.seconds:
            walls.append(self.job_run(trace=False)["wall_s"])
        if self.trace:
            self.job_run(trace=True)

    # -- results ---------------------------------------------------------

    def _check_digests(self) -> None:
        """Outputs of one seed must be identical across every run of one
        program version, including the runs of earlier invocations in this
        checkout. The reference is keyed by the program's fingerprint, so
        another commit's output is never one this commit must match."""
        path = os.path.join(self.manifest["dir"], f"digest-{self.program[:16]}.json")
        seen = None
        if os.path.exists(path):
            with open(path) as f:
                seen = json.load(f)["digest"]
        for s in self.samples:
            d = s.get("checks", {}).get("digest")
            if d is None:
                continue
            if seen is None:
                seen = d
                with open(path, "w") as f:
                    json.dump({"digest": d, "program": self.program}, f)
            elif d != seen:
                s["error"] = s.get("error", "") + f" output digest {d} != earlier {seen}"

    def result(self) -> dict:
        self._check_digests()
        ok = [s for s in self.samples if "error" not in s]
        failed = len(self.samples) - len(ok)
        # timings come from every untraced run whose job returned, checked
        # or not: a failing commit must not read as a fast one. With no such
        # run a timing is null, never 0.
        timed = [s for s in self.samples if not s["trace"] and "job_s" in s]

        def med(vals):
            return statistics.median(vals) if vals else None

        if self.trace:
            traced = [s for s in ok if s["trace"]]
            metrics = {}
            if traced and timed:
                try:
                    metrics = self.layer_metrics(traced[0], timed)
                except (OSError, ValueError, KeyError) as e:  # unreadable event log
                    traced[0]["error"] = f"event log: {e!r}"
                    return self.result()
        else:
            job_s = med([s["job_s"] for s in timed])
            # corpus_prep has no labelled pairs: the metric does not apply
            # there and reads 1.0 (see README.md)
            f1 = [s["checks"].get("pairwise_f1", 1.0) for s in timed if s.get("checks")]
            metrics = {
                "setup_s": med([s["setup_s"] for s in timed]),
                "job_s": job_s,
                "rows_per_s": self.manifest["rows"] / job_s if job_s else None,
                "cpu_s": med([s["cpu_s"] for s in timed]),
                "pairwise_f1": med(f1),
                "success_rate": len(ok) / len(self.samples),
            }
        units = dict(END_TO_END) if not self.trace else per_layer_units()
        missing = {k for k in units if metrics.get(k) is None}
        return {
            "correct": failed == 0 and not missing,
            "attempted": len(self.samples),
            "failed": failed,
            "metrics": {k: {"value": metrics.get(k), "unit": u} for k, u in units.items()},
        }

    def layer_metrics(self, traced: dict, untraced: list[dict]) -> dict:
        import trace_spans as T

        r = T.layer_metrics(traced["event_log"], traced["spans"])
        layers = r["layers"]
        out: dict[str, float] = {}
        for layer in T.FULL_LAYERS:
            for field, _ in T.FULL_FIELDS:
                out[f"{layer}.{field}"] = layers.get(layer, {}).get(field, 0)
        for layer in T.SHORT_LAYERS:
            for field, _ in T.SHORT_FIELDS:
                out[f"{layer}.{field}"] = layers.get(layer, {}).get(field, 0)
        pairs = out["candidate_pairs.rows"]
        out["candidate_pairs.per_row"] = pairs / self.manifest["rows"]
        out["match_edges.yield"] = out["match_edges.rows"] / pairs if pairs else 0.0
        out["trace_overhead_s"] = traced["job_s"] - statistics.median(
            s["job_s"] for s in untraced)
        # G1 grows the driver heap lazily, so one cold run's peak RSS swings
        # by a third between runs of the same input: reported here, unbounded
        out["driver.peak_rss_mb"] = statistics.median(s["peak_rss_mb"] for s in untraced)
        named = sum(v.get("cpu_s", 0.0) for k, v in layers.items() if k != T.UNATTRIBUTED)
        out["layers.cpu_sum_s"] = named
        out["tasks.cpu_s"] = r["task_cpu_s"]
        out["unattributed.cpu_s"] = r["task_cpu_s"] - named
        return out


def per_layer_units() -> dict[str, str]:
    import trace_spans as T

    units = {}
    for layer in T.FULL_LAYERS:
        for field, unit in T.FULL_FIELDS:
            units[f"{layer}.{field}"] = unit
    for layer in T.SHORT_LAYERS:
        for field, unit in T.SHORT_FIELDS:
            units[f"{layer}.{field}"] = unit
    units.update({
        "candidate_pairs.per_row": "ratio", "match_edges.yield": "ratio",
        "trace_overhead_s": "s", "driver.peak_rss_mb": "MB",
        "layers.cpu_sum_s": "s", "tasks.cpu_s": "s",
        "unattributed.cpu_s": "s",
    })
    return units


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    missing = [p for p in PROGRAM if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing under {ROOT}: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import stage

    if args.workload not in stage.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(stage.WORKLOADS)}", file=sys.stderr)
        return 2
    _set_subreaper()
    # a terminated benchmark still kills and reaps its runs (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        bench.loop()
    finally:
        _reap_all()
    result = bench.result()
    host = {"nproc": bench.cores, "rows": bench.manifest["rows"],
            "fingerprint": bench.manifest["fingerprint"], "program": bench.program,
            "stage_s": bench.stage_s}
    os.makedirs(os.path.join(WORK, "samples"), exist_ok=True)
    raw = os.path.join(WORK, "samples",
                       f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}.json")
    with open(raw, "w") as f:
        json.dump({"args": vars(args), "input": host, "samples": bench.samples,
                   "result": result}, f)
    print("# input " + json.dumps(host))
    for s in bench.samples:
        print("# sample " + json.dumps({k: v for k, v in s.items()
                                        if k not in ("stdout", "spans")}))
    print(json.dumps(result))
    for d in ("local", "tmp", "eventlog", "out", "warehouse"):
        shutil.rmtree(os.path.join(bench.scratch, d), ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
