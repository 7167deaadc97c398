"""Output checks, run after the timed window.

- Top-k of every sampled (query, arm) against DuckDB SQL over the
  generated parquet, built from the catalog's oracle CTEs
  (plans/entry_queries.py: reference semantics, zero-score docs
  rankable) with the catalog's 6-decimal rounding and doc_id tie-break.
- The router: features, heuristics and the bandit fold replayed in
  plain Python (reference router.py semantics).
- Answers against the documented template built from the top-1 doc.
- ingest: the refreshed index's term_stats/doc_stats against a one-shot
  build_index over the same docs.
- ingest's pipeline pass: injected-duplicate recall, exact Jaccard of sampled verified
  pairs, near-duplicate vector pairs and kNN against numpy.

Each check returns a list of failure messages; an op with any failure
counts as failed.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow.parquet as pq

from beyond_vector_search_spark.operators.router import STATE_KEY
from beyond_vector_search_spark.plans import entry_queries as eq

import gen
from gen import TOKEN_RE
TOL = 1e-6
# LSH is probabilistic: a pair at Jaccard >= 0.8 is missed with
# probability < 1e-3 (workloads.LSH_BANDS), so at least 95 % of such
# injected pairs must end in one cluster
CLEAR_JACCARD, MIN_RECALL = 0.8, 0.95
ORACLE_DEPTH = 50


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def oracle_scores(files: list[str], queries: list[tuple[str, str]]) -> dict:
    """(strategy, query_id) -> [(doc_id, score rounded to 6)] ranked by
    (score desc, doc_id asc), the first ORACLE_DEPTH rows."""
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        src = "[" + ", ".join(_sql_str(f) for f in files) + "]"
        con.execute(f"CREATE VIEW documents AS SELECT doc_id, concat_ws(' ', title, text) AS text FROM read_parquet({src})")
        values = ", ".join(f"({_sql_str(q)}, {_sql_str(t)})" for q, t in queries)
        sql = (
            f"WITH queries(query_id, query) AS (VALUES {values}), "
            f"{eq._TOKS_CTE}, {eq._SCALARS_CTE}, {eq._EXPLODED_CTE}, {eq._TERM_STATS_CTE}, "
            f"{eq._POSTINGS_CTE}, {eq._BM25_SCORED_CTE}, {eq._GRAMS_CTE}, {eq._GRAM_STATS_CTE}, "
            f"{eq._DOC_VEC_CTE}, {eq._VEC_QUERY_CTE}, {eq._VEC_SCORED_CTE}, {eq._KALL_CTE}, {eq._HALL_CTE}, "
            "tagged AS (SELECT 'keyword' AS strategy, * FROM kall "
            "UNION ALL SELECT 'vector', * FROM vall UNION ALL SELECT 'hybrid', * FROM hall), "
            "ranked AS (SELECT strategy, query_id, doc_id, round(score, 6) AS score, "
            "row_number() OVER (PARTITION BY strategy, query_id ORDER BY round(score, 6) DESC, doc_id ASC) AS rank "
            "FROM tagged) "
            f"SELECT strategy, query_id, doc_id, score FROM ranked WHERE rank <= {ORACLE_DEPTH} "
            "ORDER BY strategy, query_id, rank"
        )
        out: dict = {}
        for strategy, qid, doc_id, score in con.execute(sql).fetchall():
            out.setdefault((strategy, qid), []).append((doc_id, float(score)))
        return out
    finally:
        con.close()


def term_df(files: list[str]) -> dict[str, int]:
    """term -> document frequency over the index text (title + text)."""
    con = duckdb.connect()
    try:
        src = "[" + ", ".join(_sql_str(f) for f in files) + "]"
        con.execute(f"CREATE VIEW documents AS SELECT doc_id, concat_ws(' ', title, text) AS text FROM read_parquet({src})")
        return dict(con.execute(f"WITH {eq._TOKS_CTE}, {eq._EXPLODED_CTE} "
                                "SELECT term, count(DISTINCT doc_id) FROM exploded GROUP BY term").fetchall())
    finally:
        con.close()


def compare_topk(got: list[tuple[str, float]], want: list[tuple[str, float]], k: int, what: str) -> list[str]:
    """Tie-tolerant: scores equal rank by rank within TOL, and each
    returned doc's oracle score equals the score at its rank."""
    if len(got) != min(k, len(want)):
        return [f"{what}: {len(got)} rows, oracle {min(k, len(want))}"]
    lookup = dict(want)
    errs = []
    for i, (doc, score) in enumerate(got):
        ws = want[i][1]
        if abs(score - ws) > TOL or doc not in lookup or abs(lookup[doc] - ws) > TOL:
            errs.append(f"{what}: rank {i + 1} got {doc}@{score:.6f}, oracle {want[i][0]}@{ws:.6f}")
    return errs


# ---------------------------------------------------------------- router


def features(query: str, df: dict[str, int]) -> dict:
    toks = [t.lower() for t in TOKEN_RE.findall(query)]
    n = len(toks)
    if n == 0:
        return dict(n_tokens=0, digit_ratio=0.0, oov_ratio=0.0, rare_ratio=0.0)
    return dict(
        n_tokens=n,
        digit_ratio=sum(any(c.isdigit() for c in t) for t in toks) / n,
        oov_ratio=sum(t not in df for t in toks) / n,
        rare_ratio=sum(t in df and df[t] <= 1 for t in toks) / n,
    )


def heuristics(f: dict) -> dict[str, float]:
    """Reference router.py:71-92."""
    hk = 1.25 * f["digit_ratio"] + 1.0 * f["oov_ratio"] + 1.25 * f["rare_ratio"] + (0.10 if f["n_tokens"] <= 3 else 0.0)
    hv = 0.5 * (1.0 - min(1.0, f["oov_ratio"] + f["rare_ratio"]))
    if f["digit_ratio"] >= 0.12 and f["n_tokens"] >= 5:
        boost = 0.45
    elif f["digit_ratio"] > 0.0 and f["n_tokens"] >= 4:
        boost = 0.25
    else:
        boost = 0.0
    hh = 0.45 * hk + 0.45 * hv + 0.10 * (1.0 - abs(f["oov_ratio"] - f["rare_ratio"])) + boost
    return {"keyword": hk, "vector": hv, "hybrid": hh}


def choose_ok(h: dict[str, float], state, chosen: str) -> bool:
    """The chosen arm's routed score is the maximum (ties accepted:
    the engine breaks them hybrid > keyword > vector)."""
    s = {"keyword": h["keyword"] + state.weight_keyword, "vector": h["vector"] + state.weight_vector,
         "hybrid": h["hybrid"] + state.weight_hybrid}
    return s[chosen] >= max(s.values()) - 1e-12


def fold(state, per_query: list[dict]):
    """Reference bandit update (router.py:120-164) over queries in
    query_id order: winner +lr, each of two losers -lr/2, ties no-op."""
    w = {"vector": state.weight_vector, "keyword": state.weight_keyword, "hybrid": state.weight_hybrid}
    for q in sorted(per_query, key=lambda q: q["query_id"]):
        scores = {"vector": q["vector_score"], "keyword": q["keyword_score"], "hybrid": q["hybrid_score"]}
        if max(scores.values()) == min(scores.values()):
            continue
        winner = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
        for s in w:
            w[s] += state.lr if s == winner else -state.lr / 2
    return w


# ---------------------------------------------------------------- answers


def doc_table(files: list[str]) -> dict[str, tuple[str, str]]:
    """doc_id -> (title, text) over the given parquet files."""
    out = {}
    for f in files:
        t = pq.read_table(f, columns=["doc_id", "title", "text"]).to_pydict()
        out.update(zip(t["doc_id"], zip(t["title"], t["text"])))
    return out


def answer_errs(answer: str, top: list, query: str, docs: dict, what: str) -> list[str]:
    if not top:
        return [f"{what}: empty top-k"]
    title, text = docs[top[0][0]]
    want = gen.expected_answer(title, text, query)
    return [] if answer == want else [f"{what}: answer differs from template for {top[0][0]}"]


def arm_score(top_ids: list[str], label: dict, docs: dict) -> float:
    """0.7 * hit@k + 0.3 * exact-match (reference evaluator.py)."""
    hit = 1.0 if label["expected_doc_id"] in top_ids else 0.0
    ans = gen.expected_answer(*docs[top_ids[0]], label["query"]) if top_ids else ""
    em = 1.0 if " ".join(ans.lower().split()) == " ".join(label["expected_answer"].lower().split()) else 0.0
    return 0.7 * hit + 0.3 * em


# ---------------------------------------------------------------- pipeline


def _jaccard(a: str, b: str, n: int = 3) -> float:
    """Exact Jaccard of the distinct word n-gram shingle sets
    (dedup.shingle_rows)."""
    def sh(text: str) -> set[str]:
        toks = [t.lower() for t in TOKEN_RE.findall(text or "")]
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    x, y = sh(a), sh(b)
    return len(x & y) / len(x | y) if x | y else 0.0


def knn_oracle(vecs: np.ndarray, ids: np.ndarray, q_id: int, k: int) -> list[tuple[int, float]]:
    v = vecs.astype(np.float64)
    q = v[np.where(ids == q_id)[0][0]]
    cos = v @ q / (np.linalg.norm(v, axis=1) * np.linalg.norm(q))
    order = sorted((i for i in range(len(ids)) if ids[i] != q_id), key=lambda i: (-round(cos[i], 6), ids[i]))
    return [(int(ids[i]), round(float(cos[i]), 6)) for i in order[:k]]


def neardup_oracle(vecs: np.ndarray, ids: np.ndarray, threshold: float) -> set[tuple[int, int]]:
    v = vecs.astype(np.float64)
    v = v / np.linalg.norm(v, axis=1, keepdims=True)
    out = set()
    for s in range(0, len(v), 512):
        c = v[s : s + 512] @ v.T
        for a, b in zip(*np.nonzero(c >= threshold)):
            ia, ib = int(ids[s + a]), int(ids[b])
            if ia < ib:
                out.add((ia, ib))
    return out


# ---------------------------------------------------------------- per workload


def validate(workload: str, ctx) -> tuple[int, list[str]]:
    """(number of failed checks, messages).  A failed op counts once
    however many of its checks fail; a workload-level check (telemetry
    totals, ingest statistics) counts as one more item."""
    return {"serve": _serve, "ingest": _ingest}[workload](ctx)


def _tally(per_item: list[list[str]]) -> tuple[int, list[str]]:
    return sum(1 for e in per_item if e), [m for e in per_item for m in e]


def _run_errs(res: dict, oracle: dict, df: dict, docs: dict) -> list[str]:
    what = f"run {res['query_id']}"
    errs = compare_topk(res["top"], oracle[(res["strategy"], res["query_id"])], 5, f"{what} {res['strategy']}")
    if not choose_ok(heuristics(features(res["query"], df)), res["state"], res["strategy"]):
        errs.append(f"{what}: routed to {res['strategy']} against the replayed router")
    return errs + answer_errs(res["answer"], res["top"], res["query"], docs, what)


def _telemetry_errs(ctx) -> list[str]:
    store, want = ctx.samples["store"], ctx.samples["n_logged"]
    n = store.runs().count()
    return [] if n == want else [f"telemetry: {n} runs logged, expected {want}"]


def _serve(ctx) -> tuple[int, list[str]]:
    s = ctx.samples
    files = [s["docs_path"]]
    docs = doc_table(files)
    df = term_df(files)
    queries = [(r["query_id"], r["query"]) for r in s["runs"]] + [(e["probe"]["query_id"], e["probe"]["query"]) for e in s["evals"]]
    oracle = oracle_scores(files, queries)
    items = [_run_errs(r, oracle, df, docs) for r in s["runs"]]
    state = s["initial_state"]
    for e in s["evals"]:
        errs, probe = [], e["probe"]
        if e["state_in"] != state:
            errs.append("evaluate: router state not carried from the previous batch")
        for arm in ("keyword", "vector", "hybrid"):
            errs += compare_topk(e["tops"][arm], oracle[(arm, probe["query_id"])], 5, f"evaluate {probe['query_id']} {arm}")
            pq_row = next(q for q in e["per_query"] if q["query_id"] == probe["query_id"])
            want = arm_score([d for d, _ in oracle[(arm, probe["query_id"])][:5]], probe, docs)
            if pq_row[f"{arm}_score"] != want:
                errs.append(f"evaluate {probe['query_id']}: {arm} score {pq_row[f'{arm}_score']} != {want}")
        replay = fold(e["state_in"], e["per_query"])
        got = {"vector": e["state_out"].weight_vector, "keyword": e["state_out"].weight_keyword,
               "hybrid": e["state_out"].weight_hybrid}
        if replay != got:
            errs.append(f"evaluate: router state {got} != replayed {replay}")
        w = e["state_in"]
        for q in sorted(e["per_query"], key=lambda q: q["query_id"]):
            if not choose_ok(heuristics(features(q["query"], df)), w, q["chosen"]):
                errs.append(f"evaluate {q['query_id']}: chose {q['chosen']} against the replayed router")
            w = _step(w, q)
        state = e["state_out"]
        items.append(errs)
    items.append(_telemetry_errs(ctx))
    final = s["store"].get_state(STATE_KEY, {})
    items.append([] if final == s["final_state"].to_json() else [f"telemetry: stored router state {final} != {s['final_state'].to_json()}"])
    return _tally(items)


def _step(state, q: dict):
    """One fold step (same update as ``fold``) for the per-query choice
    replay."""
    from dataclasses import replace

    w = fold(state, [q])
    return replace(state, weight_vector=w["vector"], weight_keyword=w["keyword"], weight_hybrid=w["hybrid"])


def _ingest(ctx) -> tuple[int, list[str]]:
    from pyspark.sql import functions as F

    from beyond_vector_search_spark.operators.corpus_index import build_index

    s = ctx.samples
    rng = np.random.default_rng(ctx.props["seed"])
    by_batch: dict = {}
    for p in s["probes"]:
        by_batch.setdefault(p["batch"], []).append(p)
    items = []
    for p in s["passes"]:
        b = p["batch"]
        errs = _pass_errs(ctx, p, rng)
        probes = by_batch.get(b, [])
        files = probes[0]["files"]
        docs, df = doc_table(files), term_df(files)
        oracle = oracle_scores(files, [(q["query_id"], q["query"]) for q in probes])
        items.append(errs)
        items += [_run_errs(q, oracle, df, docs) for q in probes]
    # the refreshed index at the last batch against a one-shot build
    idx, spark = s["idx"], ctx.spark
    built = build_index(spark.read.parquet(*s["files"]), text=F.concat_ws(" ", "title", "text"))
    errs = []
    for f in ("term_stats", "doc_stats"):
        a, b = getattr(idx, f), getattr(built, f).select(*getattr(idx, f).columns)
        if a.exceptAll(b).count() or b.exceptAll(a).count():
            errs.append(f"ingest: refreshed {f} differs from a one-shot build_index")
    items.append(errs)
    items.append(_telemetry_errs(ctx))
    return _tally(items)


def _pass_errs(ctx, p: dict, rng: np.random.Generator) -> list[str]:
    """One batch's pipeline pass: injected near-duplicate recall, exact
    Jaccard of sampled verified pairs, embedding near-duplicate pairs
    and sampled kNN against numpy."""
    pre = f"{ctx.inputs}/batches/{p['batch']:03d}"
    docs = doc_table([f"{pre}.parquet"])
    dups = pq.read_table(f"{pre}.dups.parquet").to_pylist()
    emb = pq.read_table(f"{pre}.emb.parquet").to_pydict()
    ids = np.array(emb["vec_id"])
    vecs = np.array(emb["embedding"], dtype=np.float32)
    what = f"batch {p['batch']}"
    errs = []
    # recall over the injected pairs LSH should find: on a short doc two
    # edits can push the exact Jaccard below the 0.5 verify threshold
    found = [p["clusters"][d["doc_id"]] == p["clusters"][d["source_id"]] for d in dups]
    clear = [f for d, f in zip(dups, found)
             if _jaccard(docs[d["doc_id"]][1], docs[d["source_id"]][1]) >= CLEAR_JACCARD]
    p["recall"] = sum(found) / max(1, len(found))
    if sum(clear) < MIN_RECALL * len(clear):
        errs.append(f"{what}: recall {sum(clear)}/{len(clear)} of injected pairs at Jaccard >= {CLEAR_JACCARD}")
    rows = p["verified_rows"]
    for i in rng.choice(len(rows), size=min(50, len(rows)), replace=False):
        r = rows[int(i)]
        j = _jaccard(docs[r.doc_a][1], docs[r.doc_b][1])
        if abs(j - r.jaccard) > 1e-12 or j < 0.5:
            errs.append(f"{what}: jaccard({r.doc_a}, {r.doc_b}) = {r.jaccard}, exact {j}")
    got = {(min(a, b), max(a, b)) for a, b, _ in p["pairs"]}
    want = neardup_oracle(vecs, ids, 0.999)
    if got != want:
        errs.append(f"{what}: {len(got)} near-duplicate vector pairs, numpy finds {len(want)}")
    by_q: dict = {}
    for qid, nid, cos, rank in p["knn"]:
        by_q.setdefault(qid, []).append((rank, nid, cos))
    k = ctx.props["knn_k"]
    for qid in sorted(by_q)[:10]:
        top = [(nid, cos) for _, nid, cos in sorted(by_q[qid])]
        errs += compare_topk(top, knn_oracle(vecs, ids, qid, k + 10), k, f"{what} knn {qid}")
    return errs
