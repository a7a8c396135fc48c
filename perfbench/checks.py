"""Output checks that do not trust the program under test: plain hashlib and
pyarrow against the staged inputs, no Spark.

Each check returns ``(problems, facts)``: a list of failure messages (empty
when the output is correct) and the numbers the benchmark reports from it.
"""

from __future__ import annotations

import hashlib
import json

import pyarrow.parquet as pq

from stage import sha256_hex


def _read(path: str, columns: list[str]) -> dict[str, list]:
    return pq.read_table(path, columns=columns).to_pydict()


def _digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(json.dumps(r, ensure_ascii=False).encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def _job_line(stdout: str, key: str):
    for line in stdout.splitlines():
        if line.startswith("{"):
            obj = json.loads(line)
            if key in obj:
                return obj[key]
    return None


def pairwise_f1(pairs: dict[str, list], cluster_of: dict[str, int]) -> dict[str, float]:
    """Pairwise precision/recall/F1 of the clusters on the labelled pairs,
    by the same definitions as the job's QA (an unmatched id drops its pair)."""
    tp = fp = fn = tn = 0
    for a, b, label in zip(pairs["unique_id_a"], pairs["unique_id_b"], pairs["label"]):
        if a not in cluster_of or b not in cluster_of:
            continue
        same = cluster_of[a] == cluster_of[b]
        if label and same:
            tp += 1
        elif same:
            fp += 1
        elif label:
            fn += 1
        else:
            tn += 1
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {"precision": precision, "recall": recall, "f1": f1}


def check_resolve(manifest: dict, output: str, stdout: str) -> tuple[list[str], dict]:
    problems: list[str] = []
    src = _read(manifest["input"], ["repo", "path", "commit", "content"])
    expected = {
        hashlib.sha256("\x1f".join(k).encode("utf-8")).hexdigest(): sha256_hex(c)
        for *k, c in zip(src["repo"], src["path"], src["commit"], src["content"])
    }
    out = _read(output, ["unique_id", "content_sha", "cluster_id"])
    got = dict(zip(out["unique_id"], out["content_sha"]))
    if len(out["unique_id"]) != len(expected) or got != expected:
        bad = sum(1 for k, v in expected.items() if got.get(k) != v)
        problems.append(
            f"content_sha mismatch: {bad} of {len(expected)} input rows, "
            f"{len(out['unique_id'])} output rows"
        )
    audit = _job_line(stdout, "sha256_violations")
    if audit != 0:
        problems.append(f"job's own sha256 audit reported {audit}")

    cluster_of = dict(zip(out["unique_id"], out["cluster_id"]))
    f1 = pairwise_f1(_read(manifest["labeled_pairs"],
                           ["unique_id_a", "unique_id_b", "label"]), cluster_of)
    reported = _job_line(stdout, "pairwise")
    if reported is None or reported["f1"] != f1["f1"]:
        problems.append(
            f"pairwise F1 {f1['f1']!r} recomputed here, job reported "
            f"{None if reported is None else reported['f1']!r}"
        )
    digest = _digest(zip(out["unique_id"], out["cluster_id"], out["content_sha"]))
    return problems, {"pairwise_f1": f1["f1"], "precision": f1["precision"],
                      "recall": f1["recall"], "clusters": len(set(out["cluster_id"])),
                      "digest": digest}


def check_corpus_prep(manifest: dict, output: str, stdout: str) -> tuple[list[str], dict]:
    problems: list[str] = []
    src = _read(manifest["input"], ["doc_id", "text"])
    text_of = dict(zip(src["doc_id"], src["text"]))
    out = _read(output, ["doc_id", "chunk_idx", "token_start", "n_tokens", "chunk_text"])
    kept = set(out["doc_id"])
    stray = kept - text_of.keys()
    if stray:
        problems.append(f"{len(stray)} kept doc_ids are not in the input")
    texts = [text_of[d] for d in kept if d in text_of]
    if len(set(texts)) != len(texts):
        problems.append(f"{len(texts) - len(set(texts))} kept texts are byte-identical to another")
    funnel = {}
    for line in stdout.splitlines():
        if line.startswith("# corpus_prep "):
            parts = line.split()
            funnel[parts[2].rstrip(":")] = int(parts[3])
    if funnel.get("input") != manifest["rows"] or funnel.get("chunks") != len(out["doc_id"]):
        problems.append(f"funnel {funnel} disagrees with input {manifest['rows']} / "
                        f"output {len(out['doc_id'])} rows")
    digest = _digest(zip(out["doc_id"], out["chunk_idx"], out["token_start"],
                         out["n_tokens"], out["chunk_text"]))
    return problems, {"kept_docs": len(kept), "chunks": len(out["doc_id"]),
                      "funnel": funnel, "digest": digest}


CHECKS = {"resolve": check_resolve, "corpus_prep": check_corpus_prep}
