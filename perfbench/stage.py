"""Seeded benchmark inputs: generate each workload's corpus once per
(workload, seed, size) and stage it as parquet, outside any timed region.

Staging uses only the synthetic generator, hashlib and pyarrow (no JVM), so a
run's set-up cost is the job's, not the stager's. Every staged input carries a
fingerprint: row count plus the XOR of ``sha256(content)`` over its rows, so two
commits can show that they measured identical bytes.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

# Parquet files per staged table. Spark packs one small file per scan task
# (open cost 1 MB > file size), so this is the scan parallelism of the
# features stage on every workload.
N_PARQUET_FILES = 16

# Generator shapes (the reason for each is in BENCHMARK.json's workload list).
# ``n_entities`` is the size knob; the smoke test shrinks it.
WORKLOADS = {
    "resolve_longfiles": {
        "job": "resolve",
        "synth": {"max_variants": 4, "base_functions": (30, 60)},
        "n_entities": 1200,
    },
    "corpus_prep": {
        "job": "corpus_prep",
        "synth": {},
        "n_entities": 2400,
    },
}

STAGE_VERSION = 1

# -- Spark-compatible xxhash64 (seed 42, columns chained) -------------------

_P1 = 11400714785074694791
_P2 = 14029467366897019727
_P3 = 1609587929392839161
_P4 = 9650029242287828579
_P5 = 2870177450012600261
_M = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def _xxh64(data: bytes, seed: int) -> int:
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed, (seed - _P1) & _M]
        while i + 32 <= n:
            for j in range(4):
                v[j] = _round(v[j], int.from_bytes(data[i + 8 * j:i + 8 * j + 8], "little"))
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def spark_xxhash64(*cols: str) -> int:
    """``F.xxhash64(*cols)`` on non-null string columns, as a signed long
    (``smoke_test.py`` compares the two)."""
    h = 42
    for c in cols:
        h = _xxh64(c.encode("utf-8"), h)
    return h - (1 << 64) if h >= 1 << 63 else h


# -- staging ----------------------------------------------------------------


def sha256_hex(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def fingerprint(texts) -> dict:
    acc, n = 0, 0
    for t in texts:
        acc ^= int(sha256_hex(t), 16)
        n += 1
    return {"rows": n, "xor_sha256": f"{acc:064x}"}


def _write(rows: list[dict], schema: pa.Schema, path: str) -> None:
    os.makedirs(path)
    per = max(1, -(-len(rows) // N_PARQUET_FILES))
    for k in range(0, max(len(rows), 1), per):
        chunk = rows[k:k + per]
        table = pa.Table.from_pylist(chunk, schema=schema)
        pq.write_table(table, os.path.join(path, f"part-{k // per:05d}.parquet"))


_FILES = pa.schema([(c, pa.string()) for c in ("repo", "path", "commit", "lang", "content")])
_PAIRS = pa.schema([
    ("blocking_key", pa.string()), ("unique_id_a", pa.string()),
    ("unique_id_b", pa.string()), ("label", pa.bool_()),
])
_DOCS = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()),
])


def stage(workload: str, seed: int, n_entities: int, root: str) -> dict:
    """Stage ``workload``'s inputs for ``seed`` under ``root``; returns the
    manifest (paths + fingerprints). Re-uses a complete earlier staging."""
    from entity_resolution_spark.synth.generator import SynthConfig, generate_corpus

    spec = WORKLOADS[workload]
    d = os.path.join(root, f"{workload}-s{seed}-n{n_entities}-v{STAGE_VERSION}")
    manifest_path = os.path.join(d, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return json.load(f)
    shutil.rmtree(d, ignore_errors=True)
    cfg = SynthConfig(seed=seed, n_entities=n_entities, **spec["synth"])
    files, truth, pairs = generate_corpus(cfg)
    m = {"workload": workload, "job": spec["job"], "seed": seed,
         "n_entities": n_entities, "dir": d}
    if spec["job"] == "resolve":
        m["input"] = os.path.join(d, "files")
        m["labeled_pairs"] = os.path.join(d, "labeled_pairs")
        _write(files, _FILES, m["input"])
        _write(pairs, _PAIRS, m["labeled_pairs"])
        m["rows"] = len(files)
        m["fingerprint"] = {
            "input": fingerprint(r["content"] for r in files),
            "labeled_pairs": {"rows": len(pairs), "positives": sum(p["label"] for p in pairs)},
        }
    else:
        docs = [
            {"doc_id": spark_xxhash64(r["repo"], r["path"], r["commit"]),
             "text": r["content"], "lang": r["lang"], "source": r["repo"]}
            for r in files
        ]
        evals = [r for r in docs if r["doc_id"] % 1000 == 0]
        m["input"] = os.path.join(d, "docs")
        m["eval"] = os.path.join(d, "eval")
        _write(docs, _DOCS, m["input"])
        _write(evals, _DOCS, m["eval"])
        m["rows"] = len(docs)
        m["fingerprint"] = {
            "input": fingerprint(r["text"] for r in docs),
            "eval": fingerprint(r["text"] for r in evals),
        }
    with open(manifest_path + ".tmp", "w") as f:
        json.dump(m, f)
    os.replace(manifest_path + ".tmp", manifest_path)
    return m
