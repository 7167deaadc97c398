"""The two workloads: ``serve`` (the read path) and ``ingest`` (the
write path, with the LLM-data-pipeline pass over every batch).

Each drives the package's public functions in-process from one client
thread in a closed loop (the next op starts when the previous one has
returned).  Every call into a package layer sits inside a
``tracer.span``; with tracing off those are no-ops.  Each workload
returns its set-up times, per-op records and the samples the output
checks need; the checks themselves run after the timed window
(checks.py).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from beyond_vector_search_spark.operators.answer import generate_answers
from beyond_vector_search_spark.operators.corpus_index import CorpusIndex, IndexDelta, build_index, index_from_delta
from beyond_vector_search_spark.operators.dedup import dedup_clusters, doc_signatures, jaccard_pairs, lsh_candidate_pairs
from beyond_vector_search_spark.operators.evaluate import evaluate_all
from beyond_vector_search_spark.operators.retrieval import (
    compile_query_batch,
    compiled_bm25_scores,
    compiled_vector_scores,
    hybrid_scores,
    stable_topk,
)
from beyond_vector_search_spark.operators.router import STATE_KEY, RouterState, query_features, route
from beyond_vector_search_spark.operators.serving import ServingArms
from beyond_vector_search_spark.operators.similarity import embedding_neardup_pairs, knn_bruteforce
from beyond_vector_search_spark.operators.text_analysis import text_profile
from beyond_vector_search_spark.sources.telemetry import TelemetryStore
from beyond_vector_search_spark.streaming.ingest import append_delta_batch

K = 5  # EngineConfig.k, the CLI's --k default
ARMS = ("keyword", "vector", "hybrid")
# minimum timed ops per serve run, whatever --seconds says: one op of
# each type costs 4-10 s on a 4-core host, and medians need samples
MIN_RUNS, MIN_EVALUATES = 1, 1
# LSH banding for the pipeline pass: 16 MinHash rows as 8 bands of 2,
# so a pair at Jaccard 0.8 (two word edits) is a candidate with
# probability 1 - (1 - 0.8**2)**8 > 0.999
LSH_BANDS, LSH_ROWS = 8, 2
JACCARD_MIN = 0.5
NEARDUP_MIN = 0.999


@dataclass
class Ctx:
    spark: object
    tracer: object
    work: str
    inputs: str
    props: dict
    seconds: float
    traced: bool
    setup_s: float = 0.0                          # set-up after session start
    ops: list = field(default_factory=list)       # {"kind", "wall", ...}
    samples: dict = field(default_factory=dict)   # what checks.py verifies
    extra: dict = field(default_factory=dict)     # workload-specific figures
    counts: dict = field(default_factory=dict)    # per-layer counts (traced run)


def TEXT():
    """The indexed text, as the CLI builds it (cli._index)."""
    return F.concat_ws(" ", "title", "text")


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _labels(path: str) -> list[dict]:
    return pq.read_table(path).to_pylist()


def run_op(ctx: Ctx, idx: CorpusIndex, docs, store: TelemetryStore, label: dict) -> dict:
    """One query through the CLI ``run`` auto-strategy sequence
    (cli.cmd_run): router state -> features + route -> compile -> the
    chosen compiled arm -> stable_topk -> answers -> log_run.  The top-k
    relation is not cached, so the answer action re-runs it, as in
    cmd_run."""
    T, spark = ctx.tracer, ctx.spark
    qid, query = label["query_id"], label["query"]
    with T.span("telemetry.get_state"):
        state = RouterState.from_json(store.get_state(STATE_KEY, RouterState().to_json()))
    queries = spark.createDataFrame([(qid, query)], "query_id STRING, query STRING")
    with T.span("router.route"):
        routed = route(query_features(queries, idx.term_stats), state).collect()[0]
    strategy = routed.strategy
    with T.span("retrieval.compile"):
        compiled = compile_query_batch([(qid, query)], idx)
    with T.span("retrieval.topk"):
        key = compiled_bm25_scores(idx, compiled, queries=queries)
        vec = compiled_vector_scores(idx, compiled, queries=queries)
        scored = {
            "keyword": key,
            "vector": vec,
            "hybrid": hybrid_scores(queries, idx, keyword=key, vector=vec, minmax_via="window"),
        }[strategy]
        tops = stable_topk(scored, K)
        top_rows = sorted(tops.collect(), key=lambda r: r.rank)
    with T.span("answer.generate"):
        ans = generate_answers(tops, docs, queries).collect()[0]
    hit = 1.0 if label["expected_doc_id"] in ans.top_doc_ids else 0.0
    em = 1.0 if " ".join(ans.answer.lower().split()) == " ".join(label["expected_answer"].lower().split()) else 0.0
    score = 0.7 * hit + 0.3 * em
    with T.span("telemetry.log_run"):
        store.log_run(query=query, strategy=strategy, score=score,
                      meta={"k": K, "top_doc_ids": list(ans.top_doc_ids)})
    return {
        "query_id": qid, "query": query, "strategy": strategy, "state": state,
        "top": [(r.doc_id, float(r.score)) for r in top_rows], "answer": ans.answer,
        "scored": scored, "n_top": len(top_rows),
    }


def _rows_per_result(ctx: Ctx, res: dict) -> None:
    """Traced run only, outside any span: score rows the chosen arm
    produced per top-k row returned."""
    if ctx.traced and res["strategy"] in ("keyword", "vector"):
        n = res["scored"].count()
        ctx.counts.setdefault(f"retrieval.rows_per_result.{res['strategy']}", []).append(n / max(1, res["n_top"]))


def _timed_run(ctx: Ctx, idx, docs, store, label: dict, op_id: str, **tags) -> dict:
    t0 = time.perf_counter()
    with ctx.tracer.op("run", op_id):
        res = run_op(ctx, idx, docs, store, label)
    wall = time.perf_counter() - t0
    ctx.ops.append(dict(kind="run", wall=wall, strategy=res["strategy"], **tags))
    _rows_per_result(ctx, res)
    res.pop("scored")
    return res


# ---------------------------------------------------------------- serve


def _serve_setup(ctx: Ctx):
    """build_index -> save -> load().cache().materialize().warm_idf(),
    with the corpus read from parquet and cached (cmd_run's docs)."""
    spark, T = ctx.spark, ctx.tracer
    t0 = time.perf_counter()
    docs = spark.read.parquet(f"{ctx.inputs}/docs.parquet").cache()
    docs.count()
    with T.span("corpus_index.build"):
        built = build_index(docs, text=TEXT())
    snap = f"{ctx.work}/snapshot"
    with T.span("corpus_index.save"):
        built.save(snap)
    with T.span("corpus_index.load"):
        idx = CorpusIndex.load(spark, snap).cache().materialize().warm_idf()
    ctx.setup_s = time.perf_counter() - t0
    return docs, idx, snap


def serve(ctx: Ctx) -> None:
    spark, T = ctx.spark, ctx.tracer
    with ctx.tracer.op("setup", "setup"):
        docs, idx, snap = _serve_setup(ctx)
    ctx.extra["snapshot_bytes"] = _dir_bytes(snap)
    if ctx.traced:
        ctx.counts["corpus_index.postings_rows"] = idx.postings.count()
        ctx.counts["corpus_index.doc_vec_rows"] = idx.doc_vec.count()
    store = TelemetryStore(spark, f"{ctx.work}/telemetry")
    eval_path = f"{ctx.inputs}/eval_labels.parquet"
    eval_labels = _labels(eval_path)
    labels_df = spark.read.parquet(eval_path).drop("kind").cache()
    run_labels = _labels(f"{ctx.inputs}/run_queries.parquet")
    batch = ctx.props["eval_batch"]
    state = RouterState.from_json(store.get_state(STATE_KEY, RouterState().to_json()))
    ctx.samples.update(runs=[], evals=[], initial_state=state)

    def evaluate_op(rows: list[dict], state: RouterState, op_id: str):
        t0 = time.perf_counter()
        with T.op("evaluate", op_id):
            arms = ServingArms(idx, [(r["query_id"], r["query"]) for r in rows])
            for name in ARMS:
                with T.span(f"serving.fill.{name}"):
                    arms.arm(name).count()
            tops = {s: arms.topk(s, K) for s in ARMS}
            labels = labels_df.where(F.col("query_id").isin([r["query_id"] for r in rows]))
            with T.span("evaluate.evaluate_all"):
                report, final, runs_df = evaluate_all(labels, docs, idx, state=state, tops=tops)
            with T.span("telemetry.log_runs"):
                store.log_runs(runs_df.drop("query_id"))
            with T.span("telemetry.set_state"):
                store.set_state(STATE_KEY, final.to_json())
        wall = time.perf_counter() - t0
        # the sampled query's three top-k lists, read from the cached
        # arms after the op (outside the timed region)
        probe = rows[0]["query_id"]
        sample = {
            s: [(r.doc_id, float(r.score)) for r in sorted(
                tops[s].where(F.col("query_id") == probe).collect(), key=lambda r: r.rank)]
            for s in ARMS
        }
        arms.release()
        ctx.ops.append(dict(kind="evaluate", wall=wall, n=len(rows)))
        ctx.samples["evals"].append(dict(
            state_in=state, state_out=final, per_query=report.per_query, probe=rows[0], tops=sample,
        ))
        return final

    # one untimed run op closes the set-up: it pays the first-execution
    # costs (code generation, Python workers) a long-lived server pays
    # once, and that the timed loop's single ops would otherwise carry
    t0 = time.perf_counter()
    with T.op("warmup", "warmup"):
        run_op(ctx, idx, docs, store, run_labels[-1])
    ctx.setup_s += time.perf_counter() - t0
    ctx.samples["initial_state"] = state
    n_logged = 1
    deadline = time.perf_counter() + ctx.seconds
    ri, ei = 0, 0
    # the op schedule alternates run and evaluate; past the deadline it
    # stops once each type has run its minimum count
    for i in range(2 * len(run_labels)):
        kind = ("run", "evaluate")[i % 2]
        if time.perf_counter() >= deadline and ri >= MIN_RUNS and ei >= MIN_EVALUATES:
            break
        if kind == "evaluate":
            rows = eval_labels[ei * batch : (ei + 1) * batch]
            ei += 1
            state = evaluate_op(rows, state, f"e{i}")
            n_logged += len(rows)
        else:
            res = _timed_run(ctx, idx, docs, store, run_labels[ri], f"r{i}")
            ri += 1
            n_logged += 1
            ctx.samples["runs"].append(res)
    ctx.samples.update(final_state=state, docs_path=f"{ctx.inputs}/docs.parquet", n_logged=n_logged,
                       store=store, run_labels={r["query_id"]: r for r in run_labels})
    if ctx.traced:
        ctx.counts["telemetry.files"] = sum(
            1 for d, _, fs in os.walk(f"{ctx.work}/telemetry/runs") for f in fs if f.endswith(".parquet"))


# ---------------------------------------------------------------- ingest


def _refresh(ctx: Ctx, path: str, old: CorpusIndex | None) -> CorpusIndex:
    """IndexDelta.load -> index_from_delta -> cache().materialize()."""
    with ctx.tracer.span("corpus_index.refresh"):
        if old is not None:
            for f in CorpusIndex._FIELDS:
                getattr(old, f).unpersist()
        return index_from_delta(IndexDelta.load(ctx.spark, path)).cache().materialize()


def pipeline_pass(ctx: Ctx, docs, emb, queries) -> dict:
    """The LLM-data-pipeline pass over one batch: text profile, MinHash
    signatures -> LSH candidates -> exact Jaccard verify -> duplicate
    clusters, then embedding near-duplicate pairs and brute-force kNN
    of the sampled query vectors."""
    T = ctx.tracer
    with T.span("text_analysis.profile"):
        text_profile(docs).write.format("noop").mode("overwrite").save()
    with T.span("dedup.sign"):
        sigs = doc_signatures(docs).select("doc_id", "sig").cache()
        sigs.count()
    with T.span("dedup.lsh"):
        cands = lsh_candidate_pairs(sigs, bands=LSH_BANDS, rows_per_band=LSH_ROWS).cache()
        n_cand = cands.count()
    with T.span("dedup.verify"):
        ver = jaccard_pairs(docs, candidates=cands, threshold=JACCARD_MIN).cache()
        n_ver = ver.count()
    with T.span("dedup.cluster"):
        clusters = dedup_clusters(docs, ver.select("doc_a", "doc_b")).collect()
    with T.span("similarity.neardup"):
        pairs = embedding_neardup_pairs(emb, threshold=NEARDUP_MIN).collect()
    with T.span("similarity.knn"):
        knn = knn_bruteforce(emb, queries, k=ctx.props["knn_k"]).collect()
    return dict(
        candidates=n_cand, verified=n_ver, cached=(sigs, cands, ver),
        clusters={r.doc_id: r.cluster_id for r in clusters},
        canonical=sorted(r.doc_id for r in clusters if r.is_canonical),
        pairs=[(r.id_a, r.id_b, float(r.cos)) for r in pairs],
        knn=[(r.query_id, r.neighbor_id, float(r.cos), r.rank) for r in knn],
    )


def _keep(src: str, dst: str, ids: list[str]) -> None:
    """The canonical docs of a batch, as the docs store the probes'
    answers read (a few ms of pyarrow)."""
    t = pq.read_table(src)
    pq.write_table(t.filter(pc.is_in(t["doc_id"], pa.array(ids))), dst)


def ingest(ctx: Ctx) -> None:
    """Set-up: an empty delta store.  Timed: per batch, the pipeline pass
    (dedup), append of the canonical docs, refresh, then probe ``run``
    ops over the refreshed index; one compact (and reload) at a fixed
    batch."""
    spark, T = ctx.spark, ctx.tracer
    inputs = ctx.inputs
    t0 = time.perf_counter()
    path = f"{ctx.work}/delta"
    os.makedirs(path)
    ctx.setup_s = time.perf_counter() - t0
    idx = None
    store = TelemetryStore(spark, f"{ctx.work}/telemetry")
    sizes = ctx.props["batch_sizes"]
    files = []
    os.makedirs(f"{ctx.work}/served")
    ctx.samples.update(probes=[], passes=[])

    deadline = time.perf_counter() + ctx.seconds
    n_docs, b, wall = 0, 0, 0.0  # wall: batch, probe and compact op time
    # at least up to the compaction, so every layer is measured
    while b < len(sizes) and (time.perf_counter() < deadline or b <= ctx.props["compact_at"]):
        p = f"{inputs}/batches/{b:03d}"
        probes = _labels(f"{p}.probes.parquet")
        t0 = time.perf_counter()
        with T.op("batch", f"b{b}"):
            docs_b = spark.read.parquet(f"{p}.parquet")
            tp = time.perf_counter()
            res = pipeline_pass(ctx, docs_b, spark.read.parquet(f"{p}.emb.parquet"), spark.read.parquet(f"{p}.knn.parquet"))
            pipeline_s = time.perf_counter() - tp
            with T.span("ingest.append"):
                append_delta_batch(docs_b.where(F.col("doc_id").isin(res["canonical"])), b + 1, path, text=TEXT())
            idx = _refresh(ctx, path, idx)
        batch_wall = time.perf_counter() - t0
        served = f"{ctx.work}/served/{b:03d}.parquet"
        _keep(f"{p}.parquet", served, res["canonical"])
        files.append(served)
        docs = spark.read.parquet(*files)
        for j, label in enumerate(probes):
            out = _timed_run(ctx, idx, docs, store, label, f"b{b}p{j}", batch=b)
            wall += ctx.ops[-1]["wall"]
            if j == 0:
                ctx.ops.append(dict(kind="freshness", wall=time.perf_counter() - t0, batch=b))
            ctx.samples["probes"].append(dict(out, batch=b, files=list(files)))
        # the verified pairs for the checks, read outside the timed ops
        sigs, cands, ver = res.pop("cached")
        res["verified_rows"] = ver.collect()
        for df in (sigs, cands, ver):
            df.unpersist()
        if b == ctx.props["compact_at"]:
            # compaction garbage-collects the batch files the cached
            # index was read from: reload after it (IndexDelta.compact)
            tc = time.perf_counter()
            with T.op("compact", f"c{b}"):
                with T.span("corpus_index.compact"):
                    IndexDelta.load(spark, path).compact(path)
                idx = _refresh(ctx, path, idx)
            wall += time.perf_counter() - tc
            ctx.extra["store_bytes_after_compact"] = _dir_bytes(path)
            ctx.extra["text_bytes_at_compact"] = _text_bytes(files)
        n_docs += sizes[b]
        wall += batch_wall
        ctx.ops.append(dict(kind="batch", wall=batch_wall, docs=sizes[b], pipeline_s=pipeline_s))
        ctx.samples["passes"].append(dict(res, batch=b))
        b += 1
    ctx.extra["ingest_wall"] = wall
    ctx.extra["docs_ingested"] = n_docs
    ctx.samples.update(idx=idx, files=files, n_logged=len(ctx.samples["probes"]), store=store)
    if ctx.traced:
        ctx.counts["corpus_index.postings_rows"] = idx.postings.count()
        ctx.counts["corpus_index.doc_vec_rows"] = idx.doc_vec.count()
        ctx.counts["ingest.bytes_written"] = _dir_bytes(path)


def _text_bytes(files: list[str]) -> int:
    n = 0
    for f in files:
        t = pq.read_table(f, columns=["title", "text"]).to_pydict()
        n += sum(len(x.encode()) for x in t["title"]) + sum(len(x.encode()) for x in t["text"])
    return n


WORKLOADS = {"serve": serve, "ingest": ingest}
