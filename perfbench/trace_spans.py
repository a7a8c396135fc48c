"""Per-layer spans for a traced run, and their Spark task metrics.

The tracer patches each layer's public functions by name from outside the
package. A call to a layer's function opens that layer's span: the span tags
every Spark job the driver thread submits (``addJobTag``) and stays open until
a call into another layer opens the next span, so the job's glue between two
calls (its joins, eager checkpoints and counts) is charged to the layer whose
output it consumes. The layer's terminal function has its output persisted and
counted inside the span, so the layer's work runs under its own tag instead of
inside whichever later action first forces the lazy plan. Those counting jobs
carry an extra tag and are left out of ``L.jobs``.

``layer_metrics`` reads the Spark event log of the run and turns the tagged
task metrics into the per-layer numbers.
"""

from __future__ import annotations

import importlib
import json
import statistics
import time

PKG = "entity_resolution_spark"
TAG_PREFIX = "perfbench.layer."
MATERIALIZE_TAG = "perfbench.materialize"
UNATTRIBUTED = "unattributed"

# layer -> [(module, function, terminal)]. A terminal function's DataFrame
# output is persisted and counted inside the span (the layer's ``rows``).
RESOLVE_LAYERS = {
    "features": [("plans.pipeline", "extract_features", True)],
    "vectors": [("plans.pipeline", "tfidf_vectors", True)],
    "assignments": [("plans.pipeline", "block_assignments", True)],
    "candidate_pairs": [
        ("plans.pipeline", "candidate_pairs", False),
        ("operators.pairs", "drop_sha_covered_pairs", True),
    ],
    "match_edges": [
        ("plans.pipeline", "build_pair_features", False),
        ("plans.pipeline", "logistic_score", False),
        ("plans.pipeline", "match_edges", True),
    ],
    # connected_components here; the labelling joins are counted by the
    # ``resolve`` hook below, still inside the clusters span
    "clusters": [("plans.pipeline", "connected_components", True)],
    "qa": [
        ("plans.pipeline", "audit_content_sha", False),
        ("qa.metrics", "pairwise_f1", False),
    ],
}
PREP_LAYERS = {
    "quality": [("operators.repetition", "repetition_stats", True)],
    "dedup": [
        ("operators.dedup", "exact_dup_groups", False),
        ("operators.dedup", "minhash_dup_clusters", True),
    ],
    "decontaminate": [("operators.decontamination", "decontaminate", True)],
    "sample": [("operators.sampling", "token_budget_sample", True)],
    "chunk": [
        ("operators.pii", "redact_pii", False),
        ("operators.chunking", "chunk_documents", True),
    ],
}
# the layer a DataFrameWriter.parquet call (the job's output write) belongs to
WRITE_LAYER = {"resolve": "write", "corpus_prep": "chunk"}

FULL_LAYERS = [
    "features", "vectors", "assignments", "candidate_pairs", "match_edges",
    "clusters", "quality", "dedup", "decontaminate", "sample", "chunk",
]
FULL_FIELDS = [
    ("wall_s", "s"), ("cpu_s", "s"), ("gc_s", "s"), ("py_s", "s"),
    ("shuffle_mb", "MB"), ("spill_mb", "MB"), ("rows", "count"),
    ("jobs", "count"), ("skew", "ratio"), ("driver_s", "s"),
]
SHORT_LAYERS = ["qa", "write"]
SHORT_FIELDS = [("wall_s", "s"), ("cpu_s", "s"), ("jobs", "count")]


class Tracer:
    """Spans for one traced run of ``job`` (``resolve`` or ``corpus_prep``)."""

    def __init__(self, spark, job: str):
        self.sc = spark.sparkContext
        self.job = job
        self.layers = RESOLVE_LAYERS if job == "resolve" else PREP_LAYERS
        self.spans: list[dict] = []     # closed spans: layer, start, end
        self.rows: dict[str, int] = {}
        self.current: str | None = None
        self.started = 0.0
        self.depth = 0
        self.patched: list[tuple] = []

    # -- spans -----------------------------------------------------------

    def switch(self, layer: str | None) -> None:
        if layer == self.current:
            return
        now = time.time()
        if self.current is not None:
            self.spans.append({"layer": self.current, "start": self.started, "end": now})
            self.sc.removeJobTag(TAG_PREFIX + self.current)
        self.current, self.started = layer, now
        if layer is not None:
            self.sc.addJobTag(TAG_PREFIX + layer)

    def materialize(self, layer: str, df):
        df = df.persist()
        self.sc.addJobTag(MATERIALIZE_TAG)
        try:
            self.rows[layer] = df.count()
        finally:
            self.sc.removeJobTag(MATERIALIZE_TAG)
        return df

    def wrap(self, layer: str, fn, terminal: bool):
        from pyspark.sql import DataFrame

        def traced(*args, **kwargs):
            if self.depth:  # a layer calling another wrapped function
                return fn(*args, **kwargs)
            self.switch(layer)
            self.depth += 1
            try:
                out = fn(*args, **kwargs)
            finally:
                self.depth -= 1
            if terminal and isinstance(out, DataFrame):
                out = self.materialize(layer, out)
            return out

        return traced

    # -- patching --------------------------------------------------------

    def _patch(self, owner, name: str, new) -> None:
        self.patched.append((owner, name, getattr(owner, name)))
        setattr(owner, name, new)

    def install(self) -> None:
        for layer, fns in self.layers.items():
            for mod, name, terminal in fns:
                m = importlib.import_module(f"{PKG}.{mod}")
                self._patch(m, name, self.wrap(layer, getattr(m, name), terminal))
        if self.job == "resolve":
            pipeline = importlib.import_module(f"{PKG}.plans.pipeline")
            resolve = pipeline.resolve

            def traced_resolve(*args, **kwargs):
                out = resolve(*args, **kwargs)
                self.switch("clusters")
                out["clusters"] = self.materialize("clusters", out["clusters"])
                return out

            self._patch(pipeline, "resolve", traced_resolve)

        from pyspark.sql.readwriter import DataFrameWriter

        write = DataFrameWriter.parquet
        write_layer = WRITE_LAYER[self.job]

        def traced_write(writer, *args, **kwargs):
            self.switch(write_layer)
            return write(writer, *args, **kwargs)

        self._patch(DataFrameWriter, "parquet", traced_write)

    def finish(self) -> dict:
        self.switch(None)
        for owner, name, orig in reversed(self.patched):
            setattr(owner, name, orig)
        return {"spans": self.spans, "rows": self.rows}


# -- event-log attribution --------------------------------------------------


def _layer_of(props: dict) -> tuple[str, bool]:
    tags = [t for t in (props.get("spark.job.tags") or "").split(",") if t]
    layer = UNATTRIBUTED
    for t in tags:
        if t.startswith(TAG_PREFIX):
            layer = t[len(TAG_PREFIX):]
    return layer, MATERIALIZE_TAG in tags


def _union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _overlap(a: tuple[float, float], busy: list[tuple[float, float]]) -> float:
    return sum(max(0.0, min(a[1], b) - max(a[0], s)) for s, b in busy)


def layer_metrics(event_log_path: str, trace: dict) -> dict:
    """Per-layer task metrics of one traced run.

    Returns ``{"layers": {layer: {field: value}}, "task_cpu_s": total}``;
    ``unattributed`` holds the jobs no span tagged."""
    stage_layer: dict[int, str] = {}
    stage_span: dict[int, float] = {}
    jobs: dict[str, int] = {}
    tasks: list[dict] = []
    with open(event_log_path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                layer, mat = _layer_of(ev.get("Properties") or {})
                if not mat:
                    jobs[layer] = jobs.get(layer, 0) + 1
            elif kind == "SparkListenerStageSubmitted":
                # the submitting job's properties: a stage re-run by a later
                # job is charged to that job's layer
                stage_layer[ev["Stage Info"]["Stage ID"]] = _layer_of(
                    ev.get("Properties") or {})[0]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if info.get("Submission Time") and info.get("Completion Time"):
                    stage_span[info["Stage ID"]] = (
                        info["Completion Time"] - info["Submission Time"]) / 1e3
            elif kind == "SparkListenerTaskEnd":
                ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                py_ms = sum(
                    float(a.get("Update") or 0)
                    for a in ti.get("Accumulables", [])
                    if a.get("Name") == "time to run Python workers"
                )
                sr = tm.get("Shuffle Read Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                tasks.append({
                    "stage": ev["Stage ID"],
                    "layer": stage_layer.get(ev["Stage ID"], UNATTRIBUTED),
                    "start": ti["Launch Time"] / 1e3,
                    "end": ti["Finish Time"] / 1e3,
                    "cpu": tm.get("Executor CPU Time", 0) / 1e9,
                    "gc": tm.get("JVM GC Time", 0) / 1e3,
                    "py": py_ms / 1e3,
                    "shuffle": (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                                + sw.get("Shuffle Bytes Written", 0)) / 1e6,
                    "spill": tm.get("Disk Bytes Spilled", 0) / 1e6,
                })

    layers: dict[str, dict] = {}

    def acc(layer: str) -> dict:
        return layers.setdefault(layer, {
            "wall_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "py_s": 0.0,
            "shuffle_mb": 0.0, "spill_mb": 0.0, "rows": 0, "jobs": 0,
            "skew": 0.0, "driver_s": 0.0,
        })

    by_stage: dict[tuple[str, int], list[dict]] = {}
    for t in tasks:
        a = acc(t["layer"])
        a["cpu_s"] += t["cpu"]
        a["gc_s"] += t["gc"]
        a["py_s"] += t["py"]
        a["shuffle_mb"] += t["shuffle"]
        a["spill_mb"] += t["spill"]
        by_stage.setdefault((t["layer"], t["stage"]), []).append(t)
    for layer, n in jobs.items():
        acc(layer)["jobs"] = n
    for layer, n in trace["rows"].items():
        acc(layer)["rows"] = n

    # skew: max / median task time in the layer's longest stage
    longest: dict[str, tuple[float, list[dict]]] = {}
    for (layer, sid), ts in by_stage.items():
        span = stage_span.get(sid, max(t["end"] for t in ts) - min(t["start"] for t in ts))
        if span > longest.get(layer, (-1.0, []))[0]:
            longest[layer] = (span, ts)
    for layer, (_, ts) in longest.items():
        durs = [t["end"] - t["start"] for t in ts]
        med = statistics.median(durs)
        acc(layer)["skew"] = max(durs) / med if med > 0 else 1.0

    busy = _union([(t["start"], t["end"]) for t in tasks])
    for s in trace["spans"]:
        a = acc(s["layer"])
        wall = s["end"] - s["start"]
        a["wall_s"] += wall
        a["driver_s"] += wall - _overlap((s["start"], s["end"]), busy)
    return {"layers": layers, "task_cpu_s": sum(t["cpu"] for t in tasks)}
