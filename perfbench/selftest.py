"""Self-test of the input generator.

    python3 perfbench/selftest.py [seed]

Checks, for every workload, that the same seed gives byte-identical
files, that another seed gives different ones, and that the properties
the generator records match what the files hold (rare-ID share, query
mix, doc lengths, Zipf head, batch sizes, injected duplicate shares,
answer template).  Exits non-zero on the first failed check.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import tempfile
from collections import Counter

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from gen import TOKEN_RE  # noqa: E402


def digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            out[os.path.relpath(p, root)] = hashlib.sha256(open(p, "rb").read()).hexdigest()
    return out


def near(what: str, got: float, want: float, tol: float) -> None:
    if abs(got - want) > tol:
        raise SystemExit(f"FAIL {what}: measured {got:.4f}, recorded {want:.4f} (tolerance {tol})")
    print(f"ok   {what}: measured {got:.4f}, recorded {want:.4f}")


def text_checks(what: str, docs: list[dict], props: dict) -> None:
    toks = [t.lower() for d in docs for t in TOKEN_RE.findall(d["text"])]
    lens = [len(TOKEN_RE.findall(d["text"])) for d in docs]
    mean = np.exp(np.log(props["len_mean"]) + props["len_sigma"] ** 2 / 2)
    near(f"{what} doc length mean", float(np.mean(lens)), float(mean), 0.1 * mean)
    top_share = Counter(toks).most_common(1)[0][1] / len(toks)
    p1 = 1.0 / sum(1.0 / np.arange(1, props["vocab"] + 1) ** props["zipf_s"])
    near(f"{what} Zipf head share", top_share, p1, 0.25 * p1)
    words = {t for t in toks if not t.startswith("inc-")}
    if len(words) > props["vocab"]:
        raise SystemExit(f"FAIL {what}: {len(words)} distinct words > vocabulary {props['vocab']}")


def label_checks(what: str, labels: list[dict], docs: dict, props: dict | None) -> None:
    """Query-mix shares (when ``props`` is given) and the answer template."""
    kinds = Counter(r["kind"] for r in labels)
    for kind, share in (props["query_mix"].items() if props else ()):
        near(f"{what} query share {kind}", kinds[kind] / len(labels), share, 0.02)
    for r in labels:
        d = docs[r["expected_doc_id"]]
        if r["expected_answer"] != gen.expected_answer(d["title"], d["text"], r["query"]):
            raise SystemExit(f"FAIL {what}: expected_answer of {r['query_id']} is not the template")


def measure(workload: str, root: str, props: dict) -> None:
    if workload == "serve":
        docs = pq.read_table(f"{root}/docs.parquet").to_pylist()
        text_checks("serve", docs, props)
        near("serve rare-ID share", sum("INC-" in d["text"].upper() for d in docs) / len(docs), props["rare_share"], 0.025)
        by_id = {d["doc_id"]: d for d in docs}
        labels = pq.read_table(f"{root}/eval_labels.parquet").to_pylist() + pq.read_table(f"{root}/run_queries.parquet").to_pylist()
        label_checks("serve", labels, by_id, props)
    elif workload == "ingest":
        sizes = [pq.read_metadata(f"{root}/batches/{b:03d}.parquet").num_rows for b in range(props["n_batches"])]
        if sizes != props["batch_sizes"]:
            raise SystemExit(f"FAIL ingest batch sizes {sizes} != {props['batch_sizes']}")
        print(f"ok   ingest batch sizes {sizes}")
        docs = [d for b in range(props["n_batches"]) for d in pq.read_table(f"{root}/batches/{b:03d}.parquet").to_pylist()]
        text_checks("ingest", docs, props)
        near("ingest rare-ID share", sum("INC-" in d["text"].upper() for d in docs) / len(docs), props["rare_share"], 0.025)
        by_id = {d["doc_id"]: d for d in docs}
        dups = [d for b in range(props["n_batches"]) for d in pq.read_table(f"{root}/batches/{b:03d}.dups.parquet").to_pylist()]
        near("ingest near-duplicate share", len(dups) / len(docs), props["dup_share"], 0.03)
        edits = []
        for d in dups:
            a = [t.lower() for t in TOKEN_RE.findall(by_id[d["doc_id"]]["text"])]
            b = [t.lower() for t in TOKEN_RE.findall(by_id[d["source_id"]]["text"])]
            edits.append(sum(x != y for x, y in zip(a, b)) + abs(len(a) - len(b)))
        if max(edits) > props["dup_edits"]:
            raise SystemExit(f"FAIL ingest: a near-duplicate has {max(edits)} edits > {props['dup_edits']}")
        print(f"ok   ingest near-duplicate edits <= {props['dup_edits']} (mean {np.mean(edits):.2f})")
        vd = [d for b in range(props["n_batches"]) for d in pq.read_table(f"{root}/batches/{b:03d}.vec_dups.parquet").to_pylist()]
        near("ingest duplicate-vector share", len(vd) / len(docs), props["vec_dup_share"], 0.02)
        emb = np.array(pq.read_table(f"{root}/batches/000.emb.parquet").column("embedding").to_pylist())
        if emb.shape != (props["batch_sizes"][0], props["dim"]):
            raise SystemExit(f"FAIL ingest embeddings shape {emb.shape}")
        print(f"ok   ingest embeddings {emb.shape} per batch 0, {props['clusters']} clusters")
        label_checks("ingest", [r for b in range(props["n_batches"])
                                for r in pq.read_table(f"{root}/batches/{b:03d}.probes.parquet").to_pylist()], by_id, None)


def main() -> int:
    seed = int(sys.argv[1]) if len(sys.argv) > 1 else 7
    root = os.path.join(os.path.dirname(HERE), ".perfbench_work")
    os.makedirs(root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=root)
    try:
        for workload, fn in gen.GENERATORS.items():
            dirs = [os.path.join(tmp, f"{workload}{i}") for i in range(3)]
            for d in dirs:
                os.makedirs(d)
            props = fn(dirs[0], seed)
            fn(dirs[1], seed)
            fn(dirs[2], seed + 1)
            a, b, c = (digest(d) for d in dirs)
            if a != b:
                raise SystemExit(f"FAIL {workload}: seed {seed} is not byte-identical across two generations")
            if a == c or not (set(a.values()) - set(c.values())):
                raise SystemExit(f"FAIL {workload}: seeds {seed} and {seed + 1} give identical files")
            print(f"ok   {workload}: {len(a)} files byte-identical for seed {seed}, different for seed {seed + 1}")
            measure(workload, dirs[0], props)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
