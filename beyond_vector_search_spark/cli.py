"""CLI entry points (reference run.py:76-84, evaluate.py:119-125).

    python -m beyond_vector_search_spark.cli run --query "INC-49217 details" \
        --corpus /root/reference/data/corpus.jsonl --labels /root/reference/data/labels.jsonl
    python -m beyond_vector_search_spark.cli evaluate --corpus ... --labels ...

Unlike the reference (which rebuilds its index on every invocation), an
``--index-dir`` can persist/reuse the built index between invocations.
"""

from __future__ import annotations

import argparse
import json
import os
import tempfile

from pyspark.sql import functions as F

from beyond_vector_search_spark.operators.answer import generate_answers
from beyond_vector_search_spark.operators.corpus_index import CorpusIndex, build_index
from beyond_vector_search_spark.operators.evaluate import evaluate_all
from beyond_vector_search_spark.operators.router import (
    STATE_KEY,
    RouterState,
    query_features,
    route,
)
from beyond_vector_search_spark.sources.readers import load_corpus, load_labels
from beyond_vector_search_spark.sources.telemetry import telemetry_from_env
from beyond_vector_search_spark.session import get_spark

DEFAULT_CORPUS = "/root/reference/data/corpus.jsonl"
DEFAULT_LABELS = "/root/reference/data/labels.jsonl"


def _index(spark, corpus_df, index_dir: str | None, index_format: str = "parquet") -> CorpusIndex:
    if index_format == "bucketed":
        # catalog tables bucketed on the join keys (zero-Exchange
        # reloads); ``index_dir`` names the database, not a directory
        db = (index_dir or "bvs_index").replace("/", "_").strip("_")
        if spark.catalog.tableExists(f"{db}.term_stats"):
            return CorpusIndex.load_bucketed(spark, db)
        idx = build_index(corpus_df, text=F.concat_ws(" ", "title", "text"))
        idx.save_bucketed(spark, db)
        return CorpusIndex.load_bucketed(spark, db)
    # the committed-snapshot probe (Hadoop FS, so HDFS/S3A roots work):
    # a partial or crashed save is not ready and gets rebuilt
    if index_dir and CorpusIndex.snapshot_ready(spark, index_dir):
        return CorpusIndex.load(spark, index_dir)
    idx = build_index(corpus_df, text=F.concat_ws(" ", "title", "text"))
    if index_dir:
        idx.save(index_dir)
        return CorpusIndex.load(spark, index_dir)
    return idx


def cmd_run(args) -> dict:
    spark = get_spark("bvs-run", hive=args.index_format == "bucketed")
    docs = load_corpus(spark, args.corpus).cache()
    labels = load_labels(spark, args.labels)
    idx = _index(spark, docs, args.index_dir, args.index_format)
    store = telemetry_from_env(spark, args.db or tempfile.mkdtemp(prefix="bvs_telemetry_"))

    state = RouterState.from_json(store.get_state(STATE_KEY, RouterState().to_json()))
    queries = spark.createDataFrame([("q", args.query)], "query_id STRING, query STRING")
    routed = route(query_features(queries, idx.term_stats), state).collect()[0]

    # --strategy auto (default) = the reference behavior: the learned
    # router picks the arm.  Explicit names override it; rrf/mmr are
    # the engine's fusion extensions (operators/fusion.py).
    strategy = routed.strategy if args.strategy == "auto" else args.strategy
    if strategy == "all":
        # every arm's top-k from ONE action (the r13 tagged-union
        # serving fold); the answer/telemetry flow needs a single arm,
        # so this mode reports the trio table and the router's pick
        from beyond_vector_search_spark.operators.retrieval import (
            compile_query_batch,
            compiled_bm25_scores,
            compiled_vector_scores,
            search_all_tagged,
        )

        compiled = compile_query_batch([("q", args.query)], idx)
        key = compiled_bm25_scores(idx, compiled, queries=queries)
        vec = compiled_vector_scores(idx, compiled, queries=queries)
        rows = sorted(
            search_all_tagged(
                queries, idx, k=args.k, keyword=key, vector=vec
            ).collect(),
            key=lambda r: (r.arm, r.rank),
        )
        return {
            "query": args.query,
            "strategy": "all",
            "routed_strategy": routed.strategy,
            "top_k": {
                arm: [
                    {"doc_id": r.doc_id, "score": r.score}
                    for r in rows
                    if r.arm == arm
                ]
                for arm in ("keyword", "vector", "hybrid")
            },
        }
    if strategy == "rrf":
        from pyspark.sql import functions as _F

        from beyond_vector_search_spark.operators.fusion import rrf_scores
        from beyond_vector_search_spark.operators.retrieval import (
            bm25_scores,
            stable_topk,
            vector_scores,
        )

        fused = rrf_scores(
            {"keyword": bm25_scores(queries, idx), "vector": vector_scores(queries, idx)}
        )
        tops = stable_topk(fused, args.k)
    elif strategy == "mmr":
        from pyspark.sql import functions as _F

        from beyond_vector_search_spark.operators.fusion import mmr_rerank
        from beyond_vector_search_spark.operators.retrieval import (
            stable_topk,
            vector_scores,
        )

        cand = stable_topk(vector_scores(queries, idx), max(3 * args.k, 12)).select(
            "query_id", "doc_id", "score"
        )
        tops = mmr_rerank(cand, idx, k=args.k).select(
            "query_id",
            "doc_id",
            _F.col("mmr_score").alias("score"),
            _F.col("mmr_rank").alias("rank"),
        )
    else:
        # single-query interactive serving = the COMPILED low-latency
        # path (retrieval.compile_query_batch): the query's term/gram
        # weights fold into the plan as literals and scoring is one
        # scan-prunable IN-filtered pass — identical results to the
        # join-form search_all (parity-pinned), fewer stages per run.
        from beyond_vector_search_spark.operators.retrieval import (
            compile_query_batch,
            compiled_bm25_scores,
            compiled_vector_scores,
            hybrid_scores,
            stable_topk,
        )

        compiled = compile_query_batch([("q", args.query)], idx)
        key = compiled_bm25_scores(idx, compiled, queries=queries)
        vec = compiled_vector_scores(idx, compiled, queries=queries)
        scored = {
            "keyword": key,
            "vector": vec,
            "hybrid": hybrid_scores(
                queries, idx, keyword=key, vector=vec, minmax_via="window"
            ),
        }[strategy]
        tops = stable_topk(scored, args.k)
    ans = generate_answers(tops, docs, queries).collect()[0]
    top_rows = sorted(tops.collect(), key=lambda r: r.rank)

    lab = {r.query: r for r in labels.collect()}.get(args.query)
    score = 0.0
    if lab is not None:
        hit = 1.0 if lab.expected_doc_id in ans.top_doc_ids else 0.0
        em = 1.0 if " ".join(ans.answer.lower().split()) == " ".join(lab.expected_answer.lower().split()) else 0.0
        score = 0.7 * hit + 0.3 * em

    store.log_run(
        query=args.query,
        strategy=strategy,
        score=score,
        meta={"k": args.k, "top_doc_ids": list(ans.top_doc_ids)},
    )
    out = {
        "query": args.query,
        "strategy": strategy,
        "top_k": [{"doc_id": r.doc_id, "score": r.score} for r in top_rows],
        "answer": ans.answer,
        "score": score,
        "labeled": lab is not None,
    }
    if lab is not None:
        out["expected_doc_id"] = lab.expected_doc_id
    return out


def cmd_evaluate(args) -> dict:
    spark = get_spark("bvs-evaluate", hive=args.index_format == "bucketed")
    docs = load_corpus(spark, args.corpus).cache()
    labels = load_labels(spark, args.labels).cache()
    idx = _index(spark, docs, args.index_dir, args.index_format)
    store = telemetry_from_env(spark, args.db or tempfile.mkdtemp(prefix="bvs_telemetry_"))

    state = RouterState.from_json(store.get_state(STATE_KEY, RouterState().to_json()))
    report, final_state, runs_df = evaluate_all(labels, docs, idx, state=state, k=args.k)
    store.set_state(STATE_KEY, final_state.to_json())
    store.log_runs(runs_df.drop("query_id"))
    return report.to_json()


def cmd_maintain(args) -> dict:
    """Store maintenance: compact the append-only telemetry state log
    down to its LWW winners (TelemetryStore.compact_state — the
    plain-parquet stand-in for Delta/Iceberg ``MERGE INTO`` +
    ``OPTIMIZE``) and/or rewrite a streaming-ingest delta store's
    per-batch append files repartitioned on the scoring-join keys
    (IndexDelta.compact).  Query results are identical before and
    after; what changes is file count and scan locality.  Run it OFF
    the ingest path (both compactors swap directories)."""
    from beyond_vector_search_spark.operators.corpus_index import IndexDelta

    spark = get_spark("bvs-maintain")
    out: dict = {}
    ivfpq_dir = getattr(args, "ivfpq_dir", None)
    graph_dir = getattr(args, "graph_dir", None)
    if not args.db and not args.delta_dir and not ivfpq_dir and not graph_dir:
        raise SystemExit(
            "maintain: nothing to do — pass --db, --delta-dir, --ivfpq-dir "
            "and/or --graph-dir"
        )
    if args.db:
        store = telemetry_from_env(spark, args.db)
        if not hasattr(store, "compact_state"):
            raise SystemExit("maintain: the configured telemetry backend "
                             "(BVS_TELEMETRY=jdbc) compacts server-side — "
                             "--db applies to the parquet store only")
        out["state_keys"] = store.compact_state()
    if args.delta_dir:
        delta = IndexDelta.load(spark, args.delta_dir)
        before = {f: getattr(delta, f).count() for f in IndexDelta._FIELDS}
        compacted = delta.compact(args.delta_dir, partitions=args.partitions)
        after = {f: getattr(compacted, f).count() for f in IndexDelta._FIELDS}
        if before != after:  # pure rewrite: any row delta is a bug
            raise SystemExit(f"maintain: row counts changed {before} -> {after}")
        out["delta_rows"] = after
    if ivfpq_dir:
        from beyond_vector_search_spark.operators.similarity import IVFPQIndex

        n_before = IVFPQIndex.load(spark, ivfpq_dir).codes.count()
        compacted = IVFPQIndex.compact(spark, ivfpq_dir)
        n_after = compacted.codes.count()
        if n_before != n_after:  # pure rewrite: any row delta is a bug
            raise SystemExit(
                f"maintain: ivfpq code rows changed {n_before} -> {n_after}"
            )
        out["ivfpq_code_rows"] = n_after
    if graph_dir:
        from beyond_vector_search_spark.operators.similarity import KnnGraphIndex

        before_view = KnnGraphIndex.load(spark, graph_dir).graph
        n_before = before_view.count()
        compacted = KnnGraphIndex.compact(spark, graph_dir)
        n_after = compacted.graph.count()
        if n_before != n_after:  # pure rewrite of the LWW view
            raise SystemExit(
                f"maintain: graph view rows changed {n_before} -> {n_after}"
            )
        out["graph_view_rows"] = n_after
    return out


def cmd_tokenizer(args) -> dict:
    """Train a BPE tokenizer on a corpus and persist the merge table
    (operators/bpe.py): ONE corpus-scale word-count pass, the canonical
    merge loop over the bounded word table, parquet artifact out —
    reload with ``bpe.load_merges`` for segmentation.  ``--stats``
    additionally reports the top pieces of the trained vocabulary
    applied back to the corpus (the post-training sanity report)."""
    from pyspark.sql import functions as F

    from beyond_vector_search_spark.operators import bpe

    spark = get_spark("bvs-tokenizer")
    if args.docs_parquet:
        docs = spark.read.parquet(args.docs_parquet).select(
            F.col("doc_id"), F.col("text")
        )
    else:
        corpus = load_corpus(spark, args.corpus)
        docs = corpus.select(
            "doc_id", F.concat_ws(" ", "title", "text").alias("text")
        )
    wf = bpe.word_freqs(docs)
    if getattr(args, "distributed", False):
        # uncapped cluster trainer: the word table never leaves the
        # executors (row-identical to the driver loop, pinned by test)
        merges = bpe.bpe_train_distributed(wf, n_merges=args.merges)
    elif args.max_words is not None:
        merges = bpe.bpe_train(wf, n_merges=args.merges, max_words=args.max_words)
    else:
        # no explicit cap -> the trainer's own bounded default (1M
        # words), NOT an uncapped collect
        merges = bpe.bpe_train(wf, n_merges=args.merges)
    bpe.save_merges(spark, merges, args.out)
    out: dict = {
        "n_merges": len(merges),
        "merges": [[m["left"], m["right"], m["pair_freq"]] for m in merges],
        "out": args.out,
    }
    if args.stats:
        top = (
            bpe.piece_stats(docs, merges)
            .orderBy(F.desc("n_occurrences"), F.asc("piece"))
            .limit(20)
            .collect()
        )
        out["top_pieces"] = [[r["piece"], r["n_occurrences"]] for r in top]
    return out


def cmd_index(args) -> dict:
    """Build the corpus index ONCE and persist it — the deployment
    split the reference never makes (it rebuilds per invocation,
    run.py:18-23): queries then serve from the saved artifact via
    ``CorpusIndex.load`` / ``load_bucketed``.  ``--out`` writes the
    plain-parquet layout (postings/doc_vec repartitioned on their join
    keys); ``--bucketed-db`` writes bucketed catalog tables
    (``save_bucketed`` — co-bucketed readers skip the scoring-join
    shuffles entirely; requires a persistent Hive metastore, so the
    session is started with hive support when set)."""
    from pyspark.sql import functions as F

    from beyond_vector_search_spark.operators.corpus_index import build_index

    if not args.out and not args.bucketed_db:
        raise SystemExit("index: nothing to do — pass --out and/or --bucketed-db")
    spark = get_spark("bvs-index", hive=bool(args.bucketed_db))
    if args.docs_parquet:
        docs = spark.read.parquet(args.docs_parquet).select("doc_id", "text")
        idx = build_index(docs)
    else:
        corpus = load_corpus(spark, args.corpus)
        idx = build_index(
            corpus, text=F.concat_ws(" ", "title", "text")
        )
    out: dict = {
        "n_docs": idx.scalar_values()[0],
        "avg_dl": idx.scalar_values()[1],
    }
    if args.out:
        idx.save(args.out)
        out["out"] = args.out
    if args.bucketed_db:
        idx.save_bucketed(spark, args.bucketed_db, buckets=args.buckets)
        out["bucketed_db"] = args.bucketed_db
        out["buckets"] = args.buckets
    return out



def cmd_diff(args) -> dict:
    """Diff two corpus snapshots (versioning.corpus_diff) and either
    report the change-set counts or apply it to a persisted index delta
    store (``--update-delta`` — IndexDelta.load -> apply_corpus_diff ->
    save: the incremental snapshot-ingest path where a 1% crawl delta
    costs 1% of a rebuild)."""
    from beyond_vector_search_spark.operators.versioning import (
        apply_corpus_diff,
        corpus_diff,
    )

    spark = get_spark("bvs-diff")
    old = spark.read.parquet(args.old).select(args.id_col, args.text_col)
    new = spark.read.parquet(args.new).select(args.id_col, args.text_col)
    diff = corpus_diff(
        old, new, id_col=args.id_col, content_cols=(args.text_col,)
    ).cache()
    counts = {
        r["change"]: r["n"]
        for r in diff.groupBy("change").agg(F.count("*").alias("n")).collect()
    }
    out: dict = {
        "old": args.old,
        "new": args.new,
        "added": counts.get("added", 0),
        "removed": counts.get("removed", 0),
        "changed": counts.get("changed", 0),
    }
    if args.out:
        diff.write.mode("overwrite").parquet(args.out)
        out["out"] = args.out
    if args.update_delta:
        from beyond_vector_search_spark.operators.corpus_index import IndexDelta

        delta = IndexDelta.load(spark, args.update_delta)
        updated = apply_corpus_diff(
            delta, diff, new, id_col=args.id_col, text=args.text_col
        )
        updated.save(args.update_delta)
        out["update_delta"] = args.update_delta
    diff.unpersist()
    return out


def cmd_ingest(args) -> dict:
    """Streaming ingest: tail a parquet directory of (doc_id, text)
    files into a persisted IndexDelta store, one micro-batch per file
    (Structured Streaming, availableNow drain — rerun on a schedule,
    or embed streaming/ingest.start_*_ingest for a long-running
    query).  ``--mode append`` is the append-only contract (new
    documents only); ``--mode upsert`` reconciles each micro-batch
    against the store's digest history (changed documents REPLACE
    their index rows, identical re-deliveries write nothing — the
    streaming twin of ``bvs diff --update-delta``)."""
    from beyond_vector_search_spark.streaming.ingest import (
        load_upsert_delta,
        start_index_ingest,
        start_upsert_ingest,
    )

    spark = get_spark("bvs-ingest")
    schema = spark.read.parquet(args.src).select(args.id_col, args.text_col).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(args.src)
        .select(args.id_col, args.text_col)
    )
    start = start_upsert_ingest if args.mode == "upsert" else start_index_ingest
    q = start(
        stream,
        args.store,
        id_col=args.id_col,
        text=args.text_col,
        trigger={"availableNow": True},
    )
    q.awaitTermination()
    if args.mode == "upsert":
        delta = load_upsert_delta(spark, args.store)
    else:
        from beyond_vector_search_spark.operators.corpus_index import IndexDelta

        delta = IndexDelta.load(spark, args.store)
    return {
        "src": args.src,
        "store": args.store,
        "mode": args.mode,
        "n_docs": delta.doc_ids.count(),
    }


def main() -> None:
    p = argparse.ArgumentParser(description="beyond-vector-search-spark CLI")
    sub = p.add_subparsers(dest="cmd", required=True)

    pr = sub.add_parser("run", help="single query end-to-end")
    pr.add_argument("--query", required=True)
    pr.add_argument("--k", type=int, default=5)
    pr.add_argument("--strategy", default="auto",
                    choices=["auto", "keyword", "vector", "hybrid", "rrf",
                             "mmr", "all"],
                    help="auto = learned router (reference behavior); "
                         "rrf/mmr = fusion extensions; all = every arm's "
                         "top-k in ONE action (search_all_tagged)")
    pr.add_argument("--corpus", default=DEFAULT_CORPUS)
    pr.add_argument("--labels", default=DEFAULT_LABELS)
    pr.add_argument("--db", default=None, help="telemetry directory")
    pr.add_argument("--index-dir", default=None, help="persist/reuse the index here")
    pr.add_argument("--index-format", default="parquet", choices=["parquet", "bucketed"],
                    help="bucketed = catalog tables bucketed on join keys")

    pe = sub.add_parser("evaluate", help="evaluate all labels, update router weights")
    pe.add_argument("--k", type=int, default=5)
    pe.add_argument("--corpus", default=DEFAULT_CORPUS)
    pe.add_argument("--labels", default=DEFAULT_LABELS)
    pe.add_argument("--db", default=None)
    pe.add_argument("--index-dir", default=None)
    pe.add_argument("--index-format", default="parquet", choices=["parquet", "bucketed"])

    pm = sub.add_parser(
        "maintain",
        help="compact the telemetry state log and/or a streaming-ingest "
             "delta store (results unchanged; file count shrinks)",
    )
    pm.add_argument("--db", default=None, help="telemetry directory to compact")
    pm.add_argument("--delta-dir", default=None,
                    help="streaming-ingest IndexDelta store to compact")
    pm.add_argument("--partitions", type=int, default=None,
                    help="output partitions per delta relation")
    pm.add_argument("--ivfpq-dir", default=None,
                    help="appended IVFPQIndex store to compact "
                         "(one file per centroid bucket)")
    pm.add_argument("--graph-dir", default=None,
                    help="appended KnnGraphIndex store to compact "
                         "(LWW batches folded to the current view)")

    pt = sub.add_parser(
        "tokenizer",
        help="train a BPE tokenizer (merge table) on a corpus and "
             "persist it to parquet",
    )
    pt.add_argument("--corpus", default=DEFAULT_CORPUS,
                    help="JSONL corpus (reference format)")
    pt.add_argument("--docs-parquet", default=None,
                    help="alternative input: parquet with (doc_id, text)")
    pt.add_argument("--merges", type=int, default=16)
    pt.add_argument("--max-words", type=int, default=None,
                    help="cap the trainer's word table to the top-N by mass "
                         "(default: the trainer's bounded 1M-word cut)")
    pt.add_argument("--distributed", action="store_true",
                    help="train with the word table left on the cluster "
                         "(uncapped; row-identical to the driver loop)")
    pt.add_argument("--out", required=True, help="merge-table parquet path")
    pt.add_argument("--stats", action="store_true",
                    help="also report the corpus's top trained pieces")

    pi = sub.add_parser(
        "index",
        help="build the corpus index once and persist it (parquet "
             "directory and/or bucketed catalog tables)",
    )
    pi.add_argument("--corpus", default=DEFAULT_CORPUS,
                    help="JSONL corpus (reference format)")
    pi.add_argument("--docs-parquet", default=None,
                    help="alternative input: parquet with (doc_id, text)")
    pi.add_argument("--out", default=None,
                    help="parquet index directory (CorpusIndex.save)")
    pi.add_argument("--bucketed-db", default=None,
                    help="also save as bucketed catalog tables under this "
                         "database (needs a persistent metastore: runs the "
                         "session with hive support)")
    pi.add_argument("--buckets", type=int, default=32,
                    help="bucket count for --bucketed-db (a layout "
                         "contract — size for the TARGET scale)")

    pd = sub.add_parser(
        "diff",
        help="diff two corpus snapshots (added/removed/changed); "
             "optionally apply the change set to a persisted index "
             "delta store",
    )
    pd.add_argument("--old", required=True, help="old snapshot parquet")
    pd.add_argument("--new", required=True, help="new snapshot parquet")
    pd.add_argument("--id-col", default="doc_id")
    pd.add_argument("--text-col", default="text")
    pd.add_argument("--out", default=None, help="write the change set here")
    pd.add_argument("--update-delta", default=None,
                    help="IndexDelta store to update in place "
                         "(remove stale ids, scan only added/changed text)")

    pg = sub.add_parser(
        "ingest",
        help="streaming ingest of a parquet directory into a persisted "
             "index delta store (availableNow drain; append or "
             "digest-diff upsert)",
    )
    pg.add_argument("--src", required=True,
                    help="parquet directory to tail (one micro-batch per file)")
    pg.add_argument("--store", required=True, help="IndexDelta store path")
    pg.add_argument("--mode", choices=("append", "upsert"), default="append",
                    help="append-only contract, or digest-diff upsert "
                         "(changed docs replace their rows)")
    pg.add_argument("--id-col", default="doc_id")
    pg.add_argument("--text-col", default="text")

    args = p.parse_args()
    cmds = {
        "run": cmd_run,
        "evaluate": cmd_evaluate,
        "maintain": cmd_maintain,
        "tokenizer": cmd_tokenizer,
        "index": cmd_index,
        "diff": cmd_diff,
        "ingest": cmd_ingest,
    }
    out = cmds[args.cmd](args)
    print(json.dumps(out, indent=2, sort_keys=True))


if __name__ == "__main__":
    main()
