"""Seeded input generator for the benchmark workloads.

Everything the program under test reads is written here as parquet, from
one ``numpy.random.Generator`` seeded by ``--seed``: the same seed gives
byte-identical files, another seed different ones.  Each ``generate_*``
function returns the properties it was built with (``props``), which the
benchmark records in every result and ``selftest.py`` measures back.

Text model (all workloads): a synthetic vocabulary of distinct lowercase
words drawn with Zipf probabilities; documents are sentences of those
words.  The answer template is the engine's (operators/answer.py):
``"Based on the retrieved context, here's the best match:\\n\\n{title}\\n
{first two sentences}\\n\\n(Query: {query})"``.
"""

from __future__ import annotations

import os
import re
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes per workload.  Chosen so that one run (JVM start, set-up, the
# timed window and the output checks) fits the benchmark's time budget
# on a 4-core host; see README.md "Why two workloads, and why so few ops".
SERVE = dict(
    n_docs=1000, vocab=15000, zipf_s=1.1, len_mean=60, len_sigma=0.45,
    len_min=16, len_max=240, rare_share=0.05, title_words=(3, 6),
    n_eval_batches=64, eval_batch=10, n_run_ops=64,
)
INGEST = dict(
    n_batches=2, batch_docs=300, vocab=15000,
    zipf_s=1.1, len_mean=60, len_sigma=0.45, len_min=16, len_max=240,
    rare_share=0.05, title_words=(3, 6), compact_at=0, probes_per_batch=2,
    dup_share=0.10, dup_edits=2, dim=64, clusters=16, cluster_sigma=0.15,
    vec_dup_share=0.05, knn_queries=50, knn_k=5,
)

# the engine's tokenizer (functions/text.py TOKEN_PATTERN), lowercased by callers
TOKEN_RE = re.compile(r"[A-Za-z0-9]+(?:[-_][A-Za-z0-9]+)*")
ANSWER_PREFIX = "Based on the retrieved context, here's the best match:\n\n"
_LETTERS = np.array(list(string.ascii_lowercase))


def _vocabulary(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct lowercase words of 4-10 letters (no digits, so the
    router's digit feature comes only from the rare IDs)."""
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        lens = rng.integers(4, 11, size=n)
        for ln in lens:
            w = "".join(rng.choice(_LETTERS, size=ln))
            if w not in seen:
                seen.add(w)
                words.append(w)
                if len(words) == n:
                    break
    return np.array(words)


def _zipf_p(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


class TextModel:
    """Zipf vocabulary + sentence-structured documents."""

    def __init__(self, rng: np.random.Generator, cfg: dict):
        self.rng = rng
        self.cfg = cfg
        self.words = _vocabulary(rng, cfg["vocab"])
        self.cdf = np.cumsum(_zipf_p(cfg["vocab"], cfg["zipf_s"]))

    def draw(self, n: int) -> list[str]:
        i = np.searchsorted(self.cdf, self.rng.random(n) * self.cdf[-1], side="right")
        return list(self.words[np.minimum(i, len(self.words) - 1)])

    def doc_len(self) -> int:
        c = self.cfg
        x = self.rng.lognormal(np.log(c["len_mean"]), c["len_sigma"])
        return int(np.clip(round(x), c["len_min"], c["len_max"]))

    def sentences(self, words: list[str]) -> list[str]:
        out, i = [], 0
        while i < len(words):
            n = int(self.rng.integers(6, 14))
            part = words[i : i + n]
            i += n
            out.append(" ".join([part[0].capitalize()] + part[1:]))
        return out

    def title(self) -> str:
        lo, hi = self.cfg["title_words"]
        return " ".join(w.capitalize() for w in self.draw(int(self.rng.integers(lo, hi + 1))))


def snippet(text: str) -> str:
    """The engine's answer snippet for generated text: the first two
    sentences joined by ". " with a terminal period (sentences here end
    in '.', contain no other terminal punctuation, and are separated by
    one space)."""
    parts = [p.strip() for p in text.split(". ") if p.strip()]
    out = ". ".join(parts[:2]).strip()
    return out if out.endswith((".", "!", "?")) else out + "."


def expected_answer(title: str, text: str, query: str) -> str:
    return f"{ANSWER_PREFIX}{title}\n{snippet(text)}\n\n(Query: {query})"


def _edit(rng: np.random.Generator, words: list[str], edits: int, tm: TextModel) -> list[str]:
    out = list(words)
    for _ in range(edits):
        out[int(rng.integers(len(out)))] = tm.draw(1)[0]
    return out


def make_docs(tm: TextModel, cfg: dict, ids: list[str], pool: list[int]):
    """Rows (doc_id, title, text, rare_id) and {near-duplicate: source}.
    ``rare_id`` is the ``INC-nnnnn`` token a doc carries, or ''.  With
    probability ``cfg["dup_share"]`` (ingest only) a doc is a
    near-duplicate of an earlier doc of the same call: a copy with
    ``dup_edits`` word substitutions."""
    rng = tm.rng
    dup_share = cfg.get("dup_share", 0.0)
    rows, words_of, dup_of = [], [], {}
    for i, doc_id in enumerate(ids):
        rare = ""
        if i > 0 and dup_share and rng.random() < dup_share:
            src = int(rng.integers(i))
            words = _edit(rng, words_of[src], cfg["dup_edits"], tm)
            dup_of[doc_id] = ids[src]
        else:
            words = tm.draw(tm.doc_len())
            if rng.random() < cfg["rare_share"]:
                rare = f"INC-{pool.pop():05d}"
                words.insert(int(rng.integers(0, min(len(words), 8))), rare)
        words_of.append(words)
        text = ". ".join(tm.sentences(words)) + "."
        rows.append((doc_id, tm.title(), text, rare))
    return rows, dup_of


def _typo(rng: np.random.Generator, w: str) -> str:
    """One edit (drop, swap or replace a letter) — the result is almost
    always out of vocabulary, so the query leans on char n-grams."""
    i = int(rng.integers(0, len(w) - 1))
    op = int(rng.integers(0, 3))
    if op == 0:
        return w[:i] + w[i + 1 :]
    if op == 1:
        return w[:i] + w[i + 1] + w[i] + w[i + 2 :]
    return w[:i] + str(rng.choice(_LETTERS)) + w[i + 1 :]


# The query mix as a fixed cycle of ten: 60 % natural-language, 20 %
# rare-ID (one with one extra word, which routes keyword; one with four,
# which routes hybrid), 20 % fuzzy.  A fixed cycle, not a random draw,
# so that every run and every evaluate batch holds the same mix and the
# seed varies only the words: runs are short, and a random mix would
# make their op cost differ from seed to seed.
QUERY_CYCLE = [("natural", 0), ("natural", 0), ("rare_id", 1), ("natural", 0), ("fuzzy", 0),
               ("natural", 0), ("rare_id", 4), ("natural", 0), ("fuzzy", 0), ("natural", 0)]
QUERY_MIX = {k: sum(c[0] == k for c in QUERY_CYCLE) / len(QUERY_CYCLE) for k in ("natural", "rare_id", "fuzzy")}


def make_queries(tm: TextModel, docs: list[tuple], n: int, prefix: str):
    """Labeled queries (query_id, query, expected_doc_id,
    expected_answer, kind), kinds in QUERY_CYCLE order.  Each query is
    built from a target doc: ``natural`` = words sampled from its text;
    ``rare_id`` = its INC ID with one or four of its words; ``fuzzy`` =
    its words with typos (routes on char n-grams)."""
    rng = tm.rng
    with_rare = [d for d in docs if d[3]]
    out = []
    for i in range(n):
        kind, extra = QUERY_CYCLE[i % len(QUERY_CYCLE)]
        if kind == "rare_id" and not with_rare:
            kind = "natural"
        d = with_rare[int(rng.integers(len(with_rare)))] if kind == "rare_id" else docs[int(rng.integers(len(docs)))]
        toks = [w.lower() for w in d[2].replace(".", "").split() if not w.lower().startswith("inc-")]
        if kind == "natural":
            q = " ".join(rng.choice(toks, size=int(rng.integers(3, 7)), replace=False))
        elif kind == "rare_id":
            q = " ".join([d[3]] + list(rng.choice(toks, size=extra, replace=False)))
        else:
            picked = list(rng.choice(toks, size=int(rng.integers(3, 6)), replace=False))
            for j in rng.choice(len(picked), size=max(1, len(picked) // 2), replace=False):
                if len(picked[j]) > 3:
                    picked[j] = _typo(rng, picked[j])
            q = " ".join(picked)
        qid = f"{prefix}{i:05d}"
        out.append((qid, q, d[0], expected_answer(d[1], d[2], q), kind))
    return out


def _write(path: str, cols: dict[str, list], schema: pa.Schema) -> int:
    """Deterministic parquet write; returns the file size."""
    table = pa.Table.from_pydict(cols, schema=schema)
    pq.write_table(table, path, compression="snappy", use_dictionary=True, write_statistics=True)
    return os.path.getsize(path)


DOC_SCHEMA = pa.schema([("doc_id", pa.string()), ("title", pa.string()), ("text", pa.string())])
LABEL_SCHEMA = pa.schema(
    [("query_id", pa.string()), ("query", pa.string()), ("expected_doc_id", pa.string()),
     ("expected_answer", pa.string()), ("kind", pa.string())]
)


def _write_docs(path: str, rows: list[tuple]) -> int:
    return _write(path, {
        "doc_id": [r[0] for r in rows], "title": [r[1] for r in rows], "text": [r[2] for r in rows],
    }, DOC_SCHEMA)


def _write_labels(path: str, rows: list[tuple]) -> int:
    return _write(path, {k: [r[i] for r in rows] for i, k in enumerate(LABEL_SCHEMA.names)}, LABEL_SCHEMA)


def _text_bytes(rows: list[tuple]) -> int:
    return sum(len(r[1].encode()) + len(r[2].encode()) for r in rows)


def _rare_pool(rng: np.random.Generator, n: int) -> list[int]:
    return list(rng.permutation(100000)[:n])


def generate_serve(out: str, seed: int, cfg: dict = SERVE) -> dict:
    rng = np.random.default_rng([seed, 1])
    tm = TextModel(rng, cfg)
    ids = [f"D{i:06d}" for i in range(cfg["n_docs"])]
    docs, _ = make_docs(tm, cfg, ids, _rare_pool(rng, cfg["n_docs"]))
    _write_docs(f"{out}/docs.parquet", docs)
    n_eval = cfg["n_eval_batches"] * cfg["eval_batch"]
    _write_labels(f"{out}/eval_labels.parquet", make_queries(tm, docs, n_eval, "E"))
    _write_labels(f"{out}/run_queries.parquet", make_queries(tm, docs, cfg["n_run_ops"], "R"))
    return dict(cfg, seed=seed, query_mix=QUERY_MIX, text_bytes=_text_bytes(docs))


def make_vectors(rng: np.random.Generator, centers: np.ndarray, n: int, cfg: dict):
    """``n`` clustered vectors; with probability ``vec_dup_share`` a
    vector is an exact, rescaled copy of an earlier one (cosine 1).
    Returns (float32 matrix, {dup row: source row})."""
    assign = rng.integers(0, len(centers), size=n)
    vecs = centers[assign] + cfg["cluster_sigma"] * rng.normal(size=(n, centers.shape[1]))
    vdup = {}
    for i in range(1, n):
        if rng.random() < cfg["vec_dup_share"]:
            src = int(rng.integers(i))
            vecs[i] = vecs[src] * float(rng.uniform(0.5, 2.0))
            vdup[i] = src
    return vecs.astype(np.float32), vdup


VEC_SCHEMA = pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32()))])
KNN_SCHEMA = pa.schema([("query_id", pa.int64()), ("embedding", pa.list_(pa.float32()))])


def generate_ingest(out: str, seed: int, cfg: dict = INGEST) -> dict:
    """A stream of batches into an empty store.  Each batch carries its
    docs (with injected near-duplicates), one embedding per doc (with
    injected duplicate vectors), sampled kNN query vectors, and probe
    queries targeting its non-duplicate docs."""
    rng = np.random.default_rng([seed, 2])
    tm = TextModel(rng, cfg)
    sizes = [cfg["batch_docs"]] * cfg["n_batches"]
    pool = _rare_pool(rng, sum(sizes))
    centers = rng.normal(size=(cfg["clusters"], cfg["dim"]))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    os.makedirs(f"{out}/batches", exist_ok=True)
    all_docs, start, n_dups, n_vdups = [], 0, 0, 0
    for b, n in enumerate(sizes):
        p = f"{out}/batches/{b:03d}"
        ids = [f"D{i:06d}" for i in range(start, start + n)]
        rows, dup_of = make_docs(tm, cfg, ids, pool)
        _write_docs(f"{p}.parquet", rows)
        _write(f"{p}.dups.parquet", {"doc_id": list(dup_of), "source_id": list(dup_of.values())},
               pa.schema([("doc_id", pa.string()), ("source_id", pa.string())]))
        vecs, vdup = make_vectors(rng, centers, n, cfg)
        vid = list(range(start, start + n))
        _write(f"{p}.emb.parquet", {"vec_id": vid, "embedding": [list(map(float, v)) for v in vecs]}, VEC_SCHEMA)
        _write(f"{p}.vec_dups.parquet", {"vec_id": [vid[i] for i in vdup], "source_id": [vid[j] for j in vdup.values()]},
               pa.schema([("vec_id", pa.int64()), ("source_id", pa.int64())]))
        q = sorted(rng.choice(n, size=cfg["knn_queries"], replace=False))
        _write(f"{p}.knn.parquet", {"query_id": [vid[i] for i in q], "embedding": [list(map(float, vecs[i])) for i in q]},
               KNN_SCHEMA)
        # probes target non-duplicate docs of the batch just appended,
        # so every probe reads what the refresh made servable
        fresh = [r for r in rows if r[0] not in dup_of]
        _write_labels(f"{p}.probes.parquet", make_queries(tm, fresh, cfg["probes_per_batch"], f"P{b:03d}-"))
        all_docs += rows
        start += n
        n_dups += len(dup_of)
        n_vdups += len(vdup)
    return dict(cfg, seed=seed, query_mix=QUERY_MIX, batch_sizes=sizes, text_bytes=_text_bytes(all_docs),
                n_injected=n_dups, n_vec_injected=n_vdups)


GENERATORS = {"serve": generate_serve, "ingest": generate_ingest}
