"""End-to-end eval-loop parity vs BASELINE.md's measured numbers.

pass 1 (cold state): mean 0.97857…, the single miss being Q-012
(chosen=keyword scored 0.7 while vector scored 1.0); routing
distribution keyword 12, hybrid 2.
pass 2 (state learned from pass 1): mean 1.0; routing keyword 8,
vector 5, hybrid 1; final state vector=+0.5, keyword=-0.25,
hybrid=-0.25, lr=0.25.
"""

from __future__ import annotations

import math
from collections import Counter

import pytest

from beyond_vector_search_spark.operators.evaluate import evaluate_all
from beyond_vector_search_spark.operators.router import RouterState


@pytest.fixture(scope="module")
def two_passes(ref_labels, ref_corpus, ref_index):
    from pyspark.sql import functions as F  # noqa: F401

    r1, s1, _ = evaluate_all(ref_labels, ref_corpus, ref_index)
    r2, s2, _ = evaluate_all(ref_labels, ref_corpus, ref_index, state=s1)
    return r1, s1, r2, s2


def test_pass1_mean_and_miss(two_passes):
    r1, _, _, _ = two_passes
    assert r1.n == 14
    assert math.isclose(r1.mean_score, 0.9785714285714285, rel_tol=1e-12)
    misses = [q for q in r1.per_query if q["chosen_score"] < 1.0]
    assert [m["query_id"] for m in misses] == ["Q-012"]
    assert misses[0]["chosen"] == "keyword"
    assert math.isclose(misses[0]["chosen_score"], 0.7, rel_tol=1e-12)
    assert math.isclose(misses[0]["vector_score"], 1.0, rel_tol=1e-12)


def test_pass1_routing_distribution(two_passes):
    r1, _, _, _ = two_passes
    dist = Counter(q["chosen"] for q in r1.per_query)
    assert dist == {"keyword": 12, "hybrid": 2}


def test_pass2_mean_and_distribution(two_passes):
    _, _, r2, _ = two_passes
    assert math.isclose(r2.mean_score, 1.0, rel_tol=1e-12)
    dist = Counter(q["chosen"] for q in r2.per_query)
    assert dist == {"keyword": 8, "vector": 5, "hybrid": 1}


def test_pass2_final_state(two_passes):
    _, _, _, s2 = two_passes
    assert math.isclose(s2.weight_vector, 0.5, abs_tol=1e-12)
    assert math.isclose(s2.weight_keyword, -0.25, abs_tol=1e-12)
    assert math.isclose(s2.weight_hybrid, -0.25, abs_tol=1e-12)
    assert s2.lr == 0.25


def test_state_roundtrip():
    s = RouterState(weight_vector=0.5, weight_keyword=-0.25, weight_hybrid=-0.25)
    assert RouterState.from_json(s.to_json()) == s


def test_strategy_eval_tagged_matches_per_strategy(ref_labels, ref_corpus, ref_index):
    """strategy_eval_tagged (one relation, one labels join, all
    strategies) produces exactly the per-strategy strategy_eval rows —
    the q_eval_loop merged collapse rests on this equivalence."""
    from pyspark.sql import functions as F

    from beyond_vector_search_spark.operators.answer import generate_answers
    from beyond_vector_search_spark.operators.evaluate import (
        strategy_eval,
        strategy_eval_tagged,
        tag_union,
    )
    from beyond_vector_search_spark.operators.retrieval import search_all

    queries = ref_labels.select("query_id", "query")
    tops = search_all(queries, ref_index, k=5)
    two = ("keyword", "vector")
    ans_all = generate_answers(
        tag_union({s: tops[s] for s in two}, "doc_id", "rank"),
        ref_corpus,
        tag_union({s: queries for s in two}, "query"),
        title_col="title",
    )
    tagged = strategy_eval_tagged(ans_all, ref_labels, two)
    for s in two:
        got = sorted(
            map(tuple, tagged.where(F.col("tag") == s).drop("tag").collect())
        )
        want = sorted(
            map(
                tuple,
                strategy_eval(tops[s], ref_corpus, ref_labels, title_col="title").collect(),
            )
        )
        assert got == want, s


def test_eval_loop_first_call_job_count(spark):
    """The catalog eval-loop entry is paid on every driver correctness
    check; its first call must stay micro-stage-lean.  r9: ~44 jobs,
    r10 (tagged-union answers): 23, r11 (tagged evals + AQE-off scope +
    labels from the answers pass): measured 9 — pin ≤ 15 so a future
    edit can't quietly reintroduce the per-strategy fill jobs."""
    from beyond_vector_search_spark.plans.coverage_queries import q_eval_loop
    from beyond_vector_search_spark.plans.entry_queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    # warm the shared index memo the way the driver window does
    REGISTRY["bm25_topk"][0](spark, sf).count()
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    q_eval_loop(spark, sf).count()
    jobs = set(tracker.getJobIdsForGroup(None)) - before
    assert len(jobs) <= 15, f"eval loop first call ran {len(jobs)} jobs"


# A labeled corpus small enough to build in-test: rare-ID, natural-language
# and typo'd queries, so the three arms disagree on some labels (char
# n-grams miss the exact ID D9 shares digits with; BM25 misses typos) and
# the router weights move.  Each expected answer is the answer template over
# the expected document, as in the reference labels.
_DOCS = [
    ("D1", "Spark join tuning", "Broadcast joins avoid a shuffle. Sort merge joins scale to large tables. Skew hints help."),
    ("D2", "Vector search", "Embeddings map text to vectors. Cosine similarity ranks neighbours. Indexes speed it up."),
    ("D3", "Incident INC-40101", "INC-40101 was a disk failure on node seven. The node was replaced. Service recovered."),
    ("D4", "Incident INC-40222", "INC-40222 was a network partition. Traffic was rerouted. No data was lost."),
    ("D5", "Query planning", "The optimizer reorders joins. Predicate pushdown filters early. Statistics guide the planner."),
    ("D6", "Hybrid retrieval", "Keyword and vector scores blend. Min max normalisation aligns the scales. Fusion improves recall."),
    ("D7", "Shuffle internals", "A shuffle writes map outputs to disk. Reducers fetch blocks. Compression saves bandwidth."),
    ("D8", "Caching data", "Cached tables stay in memory. Eviction frees space. Persist levels trade memory for speed."),
    ("D9", "Incident digest", "INC-40100, INC-40102 and INC-40103 were minor. INC-40104 was a false alarm."),
]
_LABELS = [
    ("Q-01", "INC-40101", "D3"),
    ("Q-02", "how do broadcast joins avoid a shuffle", "D1"),
    ("Q-03", "cachd tabels memry", "D8"),
    ("Q-04", "netwrok partiton", "D4"),
    ("Q-05", "optimizer predicate pushdown", "D5"),
    ("Q-06", "optimzer reordrs joins", "D5"),
    ("Q-07", "reducers fetch shuffle blocks", "D1"),
    ("Q-08", "incident INC-40101", "D3"),
    ("Q-09", "INC-40222 traffic", "D4"),
    ("Q-10", "memory persist levels", "D8"),
]


@pytest.fixture(scope="module")
def labeled(spark):
    from pyspark.sql import functions as F

    from beyond_vector_search_spark.operators.answer import generate_answers
    from beyond_vector_search_spark.operators.corpus_index import build_index

    docs = spark.createDataFrame(_DOCS, "doc_id STRING, title STRING, text STRING").cache()
    idx = build_index(docs, text=F.concat_ws(" ", "title", "text")).cache().materialize()
    expected = spark.createDataFrame(
        [(q, d, 1.0, 1) for q, _, d in _LABELS], "query_id STRING, doc_id STRING, score DOUBLE, rank INT"
    )
    queries = spark.createDataFrame([(q, t) for q, t, _ in _LABELS], "query_id STRING, query STRING")
    answer = {r.query_id: r.answer for r in generate_answers(expected, docs, queries).collect()}
    labels = spark.createDataFrame(
        [(q, t, d, answer[q]) for q, t, d in _LABELS],
        "query_id STRING, query STRING, expected_doc_id STRING, expected_answer STRING",
    ).cache()
    labels.count()  # fill the cache here, not inside a measured call
    return docs, idx, labels


def _replay(labels, docs, idx, tops, state):
    """The reference loop over per-arm strategy_eval relations: route
    each label in query_id order, then one update_from_scores step."""
    from beyond_vector_search_spark.operators.evaluate import strategy_eval
    from beyond_vector_search_spark.operators.router import (
        choose_with_state,
        heuristic_columns,
        query_features,
        update_from_scores,
    )

    evals = {
        s: {r.query_id: r for r in strategy_eval(tops[s], docs, labels).collect()}
        for s in ("vector", "keyword", "hybrid")
    }
    feats = {
        r.query_id: r.asDict()
        for r in heuristic_columns(
            query_features(labels.select("query_id", "query"), idx.term_stats)
        ).collect()
    }
    per_query, runs = [], []
    for qid in sorted(feats):
        f = feats[qid]
        scores = {s: evals[s][qid].total for s in evals}
        chosen = choose_with_state(f, state)
        state = update_from_scores(state, scores)
        per_query.append({
            "query_id": qid, "query": f["query"], "chosen": chosen,
            "chosen_score": scores[chosen], "vector_score": scores["vector"],
            "keyword_score": scores["keyword"], "hybrid_score": scores["hybrid"],
        })
        meta = {
            "eval": True,
            "query_id": qid,
            "features": {c: f[c] for c in ("n_tokens", "digit_ratio", "oov_ratio", "rare_ratio")},
            **{s: {"score_total": scores[s], "top_doc_ids": list(evals[s][qid].top_doc_ids)} for s in evals},
        }
        runs.append((f["query"], chosen, scores[chosen], qid, meta))
    return per_query, state, runs


def test_single_pass_matches_per_arm_replay(spark, labeled):
    """evaluate_all's one tagged answers pass + driver fold equals a
    per-arm strategy_eval + update_from_scores replay: per_query, the
    final state and the runs_df rows, over two passes (cold state, then
    the learned one)."""
    import json

    from beyond_vector_search_spark.operators.evaluate import evaluate_all
    from beyond_vector_search_spark.operators.retrieval import search_all

    docs, idx, labels = labeled
    # top-1 only, so an arm's wrong first hit costs it the label
    tops = search_all(labels.select("query_id", "query"), idx, k=1)
    state = RouterState()
    for _ in range(2):
        report, got_state, runs_df = evaluate_all(labels, docs, idx, state=state, tops=tops)
        want_pq, want_state, want_runs = _replay(labels, docs, idx, tops, state)
        assert report.per_query == want_pq
        assert report.n == len(_LABELS)
        assert report.mean_score == sum(q["chosen_score"] for q in want_pq) / len(want_pq)
        assert got_state == want_state
        got_runs = sorted(
            (r.query, r.strategy, r.score, r.query_id, json.loads(r.meta_json))
            for r in runs_df.drop("ts_unix").collect()
        )
        assert got_runs == sorted(want_runs)
        state = got_state
    # the labels exercise the fold: arms disagree and the weights moved
    assert state != RouterState()


def test_evaluate_all_job_counts(spark, labeled):
    """Over cached ServingArms tops, evaluate_all runs one answers pass
    and one collect, and its runs_df is a local relation: writing it
    runs one job, re-executing none of the scoring plan."""
    from beyond_vector_search_spark.operators.evaluate import evaluate_all
    from beyond_vector_search_spark.operators.serving import ServingArms

    docs, idx, labels = labeled
    tracker = spark.sparkContext.statusTracker()

    def jobs(fn):
        before = set(tracker.getJobIdsForGroup(None))
        out = fn()
        return out, len(set(tracker.getJobIdsForGroup(None)) - before)

    with ServingArms(idx, [(q, t) for q, t, _ in _LABELS]) as arms:
        arms.materialize("keyword", "vector", "hybrid")
        tops = {s: arms.topk(s, 5) for s in ("vector", "keyword", "hybrid")}
        (_, _, runs_df), n_eval = jobs(lambda: evaluate_all(labels, docs, idx, tops=tops))
        _, n_write = jobs(lambda: runs_df.write.format("noop").mode("overwrite").save())
    # pinned at the measured counts: 13 and 1
    assert n_eval <= 13, f"evaluate_all ran {n_eval} jobs"
    assert n_write == 1, f"runs_df write ran {n_write} jobs"


def test_driver_fold_random_trajectories():
    """The driver fold equals a sequential update_from_scores replay on
    randomized score tables, including exact ties and all-equal no-op
    rows; with lr=0.1 (no exact binary representation) the weights are
    exactly w0 + units*(lr/2) at every step."""
    import random

    from beyond_vector_search_spark.operators.evaluate import _fold
    from beyond_vector_search_spark.operators.router import (
        choose_with_state,
        delta_units,
        update_from_scores,
    )

    rng = random.Random(42)
    vals = [0.0, 0.3, 0.7, 1.0]
    rows = []
    for i in range(60):
        s_vec, s_key, s_hyb = (rng.choice(vals) for _ in range(3))
        hk, hv, hh = (round(rng.uniform(0, 1), 3) for _ in range(3))
        rows.append(dict(query_id=f"Q-{i:03d}", query=f"q{i}", s_vec=s_vec, s_key=s_key, s_hyb=s_hyb,
                         heuristic_keyword=hk, heuristic_vector=hv, heuristic_hybrid=hh))
    rows.append(dict(query_id="Q-900", query="q900", s_vec=0.5, s_key=0.5, s_hyb=0.5,  # all-equal no-op
                     heuristic_keyword=0.1, heuristic_vector=0.2, heuristic_hybrid=0.3))

    for state in (
        RouterState(weight_vector=0.1, weight_keyword=-0.2, weight_hybrid=0.05),
        RouterState(lr=0.1),
    ):
        per_query, final = _fold(rows, state)
        assert [q["query_id"] for q in per_query] == [d["query_id"] for d in rows]
        replay = state
        units = {"vector": 0, "keyword": 0, "hybrid": 0}
        half = state.lr / 2.0
        for d, q in zip(rows, per_query):
            # weights this row routes with, in closed form
            exact = RouterState(
                weight_vector=state.weight_vector + units["vector"] * half,
                weight_keyword=state.weight_keyword + units["keyword"] * half,
                weight_hybrid=state.weight_hybrid + units["hybrid"] * half,
                lr=state.lr,
            )
            assert q["chosen"] == choose_with_state(d, exact)
            scores = {"vector": d["s_vec"], "keyword": d["s_key"], "hybrid": d["s_hyb"]}
            assert q["chosen_score"] == scores[q["chosen"]]
            for name, m in delta_units(scores).items():
                units[name] += m
            replay = update_from_scores(replay, scores)
        assert final.weight_vector == state.weight_vector + units["vector"] * half
        assert final.weight_keyword == state.weight_keyword + units["keyword"] * half
        assert final.weight_hybrid == state.weight_hybrid + units["hybrid"] * half
        assert math.isclose(final.weight_vector, replay.weight_vector, abs_tol=1e-12)
        assert math.isclose(final.weight_keyword, replay.weight_keyword, abs_tol=1e-12)
        assert math.isclose(final.weight_hybrid, replay.weight_hybrid, abs_tol=1e-12)
