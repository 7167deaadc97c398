"""ServingArms — the shared cached-arm protocol for the fusion family."""

import pytest
from pyspark.sql import functions as F

from beyond_vector_search_spark.config import EngineConfig
from beyond_vector_search_spark.operators import retrieval as rt
from beyond_vector_search_spark.operators.corpus_index import build_index
from beyond_vector_search_spark.operators.serving import ServingArms

_CFG = EngineConfig(include_zero_score_docs=False)


@pytest.fixture(scope="module")
def corpus_index(spark):
    docs = spark.createDataFrame(
        [
            (1, "spark join performance tuning guide"),
            (2, "vector hash index scan strategies"),
            (3, "slow query filter predicate pushdown"),
            (4, "join reordering and broadcast hints"),
            (5, "hash partitioning for shuffle joins"),
        ],
        "doc_id long, text string",
    )
    idx = build_index(docs).cache()
    return docs, idx


QS = [("q1", "spark join performance"), ("q2", "vector hash index")]


def _rows(df):
    return sorted(
        (r["query_id"], r["doc_id"], round(r["score"], 9)) for r in df.collect()
    )


def test_arms_match_direct_scorers(spark, corpus_index):
    docs, idx = corpus_index
    qdf = spark.createDataFrame(QS, "query_id string, query string")
    with ServingArms(idx, QS, cfg=_CFG) as arms:
        comp = rt.compile_query_batch(QS, idx, cfg=_CFG)
        assert _rows(arms.arm("keyword")) == _rows(
            rt.compiled_bm25_scores(idx, comp, cfg=_CFG)
        )
        assert _rows(arms.arm("vector")) == _rows(
            rt.compiled_vector_scores(idx, comp, cfg=_CFG)
        )
        # hybrid = blend of the two cached arms, same as hybrid_scores
        direct = rt.hybrid_scores(
            qdf, idx, cfg=_CFG,
            keyword=arms.arm("keyword"), vector=arms.arm("vector"),
        )
        assert _rows(arms.arm("hybrid")) == _rows(direct)


def test_arm_relations_are_cached_and_reused(spark, corpus_index):
    _, idx = corpus_index
    arms = ServingArms(idx, QS, cfg=_CFG)
    k1 = arms.arm("keyword")
    k2 = arms.arm("keyword")
    assert k1 is k2                       # one relation per arm
    assert k1.storageLevel.useMemory      # cached
    arms.materialize()
    assert arms.arm("vector").storageLevel.useMemory
    arms.release()
    assert not k1.storageLevel.useMemory  # release unpersists


def test_as_dict_and_topk_shapes(spark, corpus_index):
    _, idx = corpus_index
    with ServingArms(idx, QS, cfg=_CFG) as arms:
        d = arms.as_dict()
        assert set(d) == {"keyword", "vector"}
        top = arms.topk("keyword", 2)
        assert top.where("rank > 2").count() == 0
        assert {r["query_id"] for r in top.collect()} == {"q1", "q2"}


def test_non_string_ids_fall_back_to_join_form(spark, corpus_index):
    """The compiled path requires string ids; ServingArms must fall back
    to the join-form scorers and preserve the id type."""
    docs, idx = corpus_index
    qdf = spark.createDataFrame([(7, "spark join")], "query_id int, query string")
    with ServingArms(idx, qdf, cfg=_CFG) as arms:
        key = arms.arm("keyword")
        assert dict(key.dtypes)["query_id"] == "int"
        direct = rt.bm25_scores(qdf, idx, cfg=_CFG)
        assert _rows(key) == _rows(direct)


def test_oversized_batch_falls_back(spark, corpus_index):
    """A batch over max_features compiles to too many literals — the
    documented bulk regime; ServingArms silently uses the join form."""
    docs, idx = corpus_index
    import beyond_vector_search_spark.operators.retrieval as rtm

    qdf = spark.createDataFrame(QS, "query_id string, query string")
    arms = ServingArms(idx, qdf, cfg=_CFG)
    # monkeypatch-free forcing: compile with an impossible budget by
    # asking compile_query_batch directly, then checking ServingArms'
    # behavior through its public contract
    with pytest.raises(ValueError):
        rtm.compile_query_batch(QS, idx, cfg=_CFG, max_features=1)
    # the arms object itself still serves (its internal compile uses the
    # default budget, which these tiny queries are far under)
    assert arms.arm("keyword").count() > 0
    arms.release()


def test_unknown_arm_rejected(spark, corpus_index):
    _, idx = corpus_index
    arms = ServingArms(idx, QS, cfg=_CFG)
    with pytest.raises(ValueError, match="unknown arm"):
        arms.arm("bm42")


def test_duplicate_query_ids_fail_loudly(spark, corpus_index, monkeypatch):
    """Duplicate query_ids are a caller bug on EVERY path: tuple input
    fails at construction (before any plan exists), a DataFrame batch
    fails in compile's own check, and a batch compile rejects must fail
    too — the join-form fallback would silently SUM the duplicates into
    doubled scores."""
    _, idx = corpus_index
    dup = [("q1", "spark join"), ("q1", "vector hash")]
    with pytest.raises(rt.DuplicateQueryIdError, match="duplicate query_id"):
        ServingArms(idx, dup, cfg=_CFG)
    dup_df = spark.createDataFrame([(1, "spark join"), (1, "vector hash")], "query_id int, query string")
    with pytest.raises(rt.DuplicateQueryIdError, match="duplicate query_id"):
        ServingArms(idx, dup_df, cfg=_CFG).arm("keyword")

    # a rejected compile (the bulk regime) falls back to the join form,
    # whose one-job uniqueness probe fires before the first arm builds
    def reject(*a, **kw):
        raise ValueError("query batch exceeds the bulk cap")

    monkeypatch.setattr(rt, "compile_query_batch", reject)
    with pytest.raises(rt.DuplicateQueryIdError, match=r"duplicate query_id in batch \(1\)"):
        ServingArms(idx, dup_df, cfg=_CFG).arm("keyword")


def test_oversized_dataframe_batch_bounded_collect(spark, corpus_index):
    """compile_query_batch over a DataFrame bigger than max_features
    rejects via a BOUNDED limit(cap+1) collect — the driver never pulls
    the whole batch in to find out it is too big."""
    import beyond_vector_search_spark.operators.retrieval as rtm

    _, idx = corpus_index
    big = spark.range(10).selectExpr(
        "concat('q', id) AS query_id", "'spark join' AS query"
    )
    with pytest.raises(ValueError, match="bulk"):
        rtm.compile_query_batch(big, idx, cfg=_CFG, max_features=5)


def test_entry_hybrid_blend_memoized(spark):
    """The catalog's hybrid blend is built ONCE per (session, sf): repeat
    hybrid_topk calls rank over the same cached relation instead of
    re-running the two normalization windows + union/agg (the
    ServingArms "hybrid" arm shape, lifted into the plans layer)."""
    from beyond_vector_search_spark.plans import entry_queries as eq
    from tests.conftest import SF_DIR

    sf = SF_DIR
    first = eq._scores(spark, sf, "hybrid")
    again = eq._scores(spark, sf, "hybrid")
    assert first is again, "hybrid blend must be session-memoized"
    assert first.is_cached, "hybrid blend must be persisted"
    # and the blend's values are exactly hybrid_scores over the arms
    from beyond_vector_search_spark.operators import retrieval as rt

    fresh = rt.hybrid_scores(
        eq._queries_df(spark), eq._docs_index(spark, sf), cfg=eq._CFG,
        keyword=eq._scores(spark, sf, "keyword"),
        vector=eq._scores(spark, sf, "vector"),
    )
    got = {(r.query_id, r.doc_id): round(r.score, 9) for r in first.collect()}
    want = {(r.query_id, r.doc_id): round(r.score, 9) for r in fresh.collect()}
    assert got == want


def test_seeded_snapshot_serves_identically(spark, tmp_path):
    """The bench deployment protocol (r11): build once, persist
    (CorpusIndex.save), load in a serving session and seed_index it —
    every retrieval entry must produce EXACTLY the rows the in-session
    built index produced.  Pins the save→load→seed path end-to-end so
    the snapshot-served bench numbers stay comparable."""
    from beyond_vector_search_spark.operators.corpus_index import CorpusIndex
    from beyond_vector_search_spark.plans import entry_queries as eq

    sf = "/root/testdata/sf0.001"

    def trio():
        return {
            name: sorted(
                (r.query_id, r.doc_id, round(r.score, 9), r.rank)
                for r in eq.REGISTRY[name][0](spark, sf).collect()
            )
            for name in ("bm25_topk", "vector_topk", "hybrid_topk")
        }

    built = eq._docs_index(spark, sf)
    want = trio()

    path = str(tmp_path / "snap")
    built.save(path)
    loaded = CorpusIndex.load(spark, path).cache(skip=("scalars",)).materialize()
    eq.seed_index(spark, sf, loaded)
    assert eq._docs_index(spark, sf) is loaded, "seed must replace the memo"
    got = trio()
    assert got == want
    # clean the session memo so later tests rebuild normally
    eq.seed_index(spark, sf, built)


def test_snapshot_dir_env_build_save_then_load(spark, tmp_path, monkeypatch):
    """SPARK_GRAFT_INDEX_SNAPSHOT_DIR (r12): the first _docs_index call
    under the root builds AND persists; a later process (simulated by
    clearing the session memo) LOADS the layout instead of rebuilding,
    and serves identical rows."""
    import os

    from beyond_vector_search_spark.operators.corpus_index import CorpusIndex
    from beyond_vector_search_spark.plans import entry_queries as eq

    sf = "/root/testdata/sf0.001"
    root = str(tmp_path / "snaproot")
    memo = eq.session_memo(spark)
    saved = {k: memo.pop(k) for k in list(memo) if isinstance(k, tuple) and sf in k}
    try:
        monkeypatch.setenv("SPARK_GRAFT_INDEX_SNAPSHOT_DIR", root)
        built = eq._docs_index(spark, sf)
        assert not getattr(built, "_flat", False), "first call must build"
        snap_dir = os.path.join(root, os.path.basename(sf))
        assert CorpusIndex.snapshot_ready(spark, snap_dir), (
            "build under the root must persist AND commit the layout"
        )
        assert os.path.isdir(os.path.join(snap_dir, "index-v0", "doc_stats")), (
            "r13 layout: relations live under the committed index-v{N} dir"
        )
        want = sorted(
            (r.query_id, r.doc_id, round(r.score, 9), r.rank)
            for r in eq.REGISTRY["bm25_topk"][0](spark, sf).collect()
        )
        # simulate a later serving process: clear this corpus's memos
        for k in [k for k in list(memo) if isinstance(k, tuple) and sf in k]:
            old = memo.pop(k)
            if hasattr(old, "is_cached") and old.is_cached:
                old.unpersist()
        loaded = eq._docs_index(spark, sf)
        assert getattr(loaded, "_flat", False), "second call must load"
        got = sorted(
            (r.query_id, r.doc_id, round(r.score, 9), r.rank)
            for r in eq.REGISTRY["bm25_topk"][0](spark, sf).collect()
        )
        assert got == want
    finally:
        # restore the session's original index/score memos for later tests
        for k in [k for k in list(memo) if isinstance(k, tuple) and sf in k]:
            memo.pop(k)
        memo.update(saved)


def test_corpus_snapshot_commit_protocol(spark, corpus_index, tmp_path):
    """CorpusIndex.save commits via the versioned-pointer protocol
    (r13): a crashed partial save is invisible to readiness/load, a
    committed save is adopted atomically, re-saves GC old versions,
    and a pre-r13 flat layout still loads (with migration GC)."""
    import os

    from beyond_vector_search_spark.operators.corpus_index import CorpusIndex

    _, idx = corpus_index
    path = str(tmp_path / "snap")
    # a crashed writer: data directories exist, no commit marker
    idx.doc_stats.write.parquet(f"{path}/index-v0/doc_stats")
    idx.term_stats.write.parquet(f"{path}/index-v0/term_stats")
    assert not CorpusIndex.snapshot_ready(spark, path), (
        "uncommitted partial layout must not look ready"
    )
    # a committed save IS ready, and never reuses the crashed v0 dir
    idx.save(path)
    assert CorpusIndex.snapshot_ready(spark, path)
    assert os.path.isdir(f"{path}/index-v1")
    l1 = CorpusIndex.load(spark, path)
    assert sorted(r.doc_id for r in l1.doc_ids.collect()) == [1, 2, 3, 4, 5]
    # re-save commits a fresh version and GCs the superseded one
    idx.save(path)
    assert os.path.isdir(f"{path}/index-v2")
    assert not os.path.isdir(f"{path}/index-v1")
    assert sorted(
        r.doc_id for r in CorpusIndex.load(spark, path).doc_ids.collect()
    ) == [1, 2, 3, 4, 5]

    # legacy pre-r13 flat layout: ready only once the LAST-written
    # relation (doc_ids) exists; load resolves it; the next save
    # migrates it away
    legacy = str(tmp_path / "legacy")
    for f in CorpusIndex._FIELDS:
        if f == "doc_ids":
            continue
        getattr(idx, f).write.parquet(f"{legacy}/{f}")
    assert not CorpusIndex.snapshot_ready(spark, legacy), (
        "flat layout without its last relation is a crashed save"
    )
    idx.doc_ids.write.parquet(f"{legacy}/doc_ids")
    assert CorpusIndex.snapshot_ready(spark, legacy)
    l2 = CorpusIndex.load(spark, legacy)
    assert sorted(r.doc_id for r in l2.doc_ids.collect()) == [1, 2, 3, 4, 5]
    idx.save(legacy)
    assert CorpusIndex.snapshot_ready(spark, legacy)
    assert not os.path.isdir(f"{legacy}/doc_stats"), (
        "migrating save must GC the flat field directories"
    )
    assert sorted(
        r.doc_id for r in CorpusIndex.load(spark, legacy).doc_ids.collect()
    ) == [1, 2, 3, 4, 5]


def test_save_layout_doc_placed_term_sorted(spark, corpus_index, tmp_path):
    """The persisted postings/doc_vec layout (r13): rows are PLACED by
    doc_id (each doc's contributions co-locate, so the serving score
    aggregation's map-side combine collapses to final-size groups
    before the exchange) and SORTED by term/gram within each file (so
    the compiled IN filter still prunes row groups via min/max stats).
    Measured basis: batch-100 fills at 50k docs were 8.1/11.6 s with
    term placement vs 1.9/2.9 s with doc placement."""
    import glob

    import pyarrow.parquet as pq

    from beyond_vector_search_spark.operators.corpus_index import CorpusIndex

    _, idx = corpus_index
    path = str(tmp_path / "layout")
    idx.save(path)
    for rel, key in (("postings", "term"), ("doc_vec", "gram")):
        files = glob.glob(f"{path}/index-v0/{rel}/*.parquet")
        assert files
        seen_docs: dict[object, str] = {}
        for f in files:
            t = pq.read_table(f, columns=["doc_id", key])
            docs = set(t.column("doc_id").to_pylist())
            for d in docs:
                assert seen_docs.setdefault(d, f) == f, (
                    f"{rel}: doc {d} split across files — placement must be by doc_id"
                )
            keys = t.column(key).to_pylist()
            assert keys == sorted(keys), f"{rel}: {key} not sorted within {f}"


def test_search_all_tagged_matches_per_arm_topk(spark, corpus_index):
    """search_all_tagged (r13, the one-action trio): each arm's rows
    equal search_all's per-arm top-k exactly; with cached arms the
    whole trio is a single count() on one relation."""
    from beyond_vector_search_spark.operators.corpus_index import CorpusIndex  # noqa: F401

    _, idx = corpus_index
    qdf = spark.createDataFrame(QS, "query_id string, query string")
    per_arm = rt.search_all(qdf, idx, k=3, cfg=_CFG)
    kw = rt.bm25_scores(qdf, idx, cfg=_CFG).cache()
    vec = rt.vector_scores(qdf, idx, cfg=_CFG).cache()
    tagged = rt.search_all_tagged(
        qdf, idx, k=3, cfg=_CFG, keyword=kw, vector=vec
    )
    rows = tagged.collect()
    assert set(tagged.columns) == {"arm", "query_id", "doc_id", "score", "rank"}
    got = {
        arm: sorted(
            (r["query_id"], r["doc_id"], round(r["score"], 9), r["rank"])
            for r in rows
            if r["arm"] == arm
        )
        for arm in ("keyword", "vector", "hybrid")
    }
    for arm in ("keyword", "vector", "hybrid"):
        want = sorted(
            (r["query_id"], r["doc_id"], round(r["score"], 9), r["rank"])
            for r in per_arm[arm].collect()
        )
        assert got[arm] == want, arm
    kw.unpersist()
    vec.unpersist()


def test_serving_arms_tagged_topk(spark, corpus_index):
    """ServingArms.tagged_topk: one relation carrying every arm's
    stable top-k, equal per arm to topk(name, k)."""
    _, idx = corpus_index
    with ServingArms(idx, QS, cfg=_CFG) as arms:
        arms.materialize()
        rows = arms.tagged_topk(3).collect()
        got = {
            a: sorted(
                (r["query_id"], r["doc_id"], round(r["score"], 9), r["rank"])
                for r in rows
                if r["arm"] == a
            )
            for a in ("keyword", "vector", "hybrid")
        }
        for a in ("keyword", "vector", "hybrid"):
            want = sorted(
                (r["query_id"], r["doc_id"], round(r["score"], 9), r["rank"])
                for r in arms.topk(a, 3).collect()
            )
            assert got[a] == want, a


def test_search_all_tagged_edge_queries(spark, corpus_index):
    """Edge inputs through the one-action trio (the engine's never-throw
    rule): empty query, all-OOV query, unicode/emoji.  Every arm
    completes; in the reference-parity profile (zero-restore) each arm
    still ranks k docs per query, zero scores tie-broken by doc_id."""
    from beyond_vector_search_spark.config import EngineConfig

    cfg = EngineConfig()  # include_zero_score_docs: reference semantics
    _, idx = corpus_index
    edge = [("e1", ""), ("e2", "zzz qqq xxyzzy"), ("e3", "🚀 café naïve")]
    qdf = spark.createDataFrame(edge, "query_id string, query string")
    kw = rt.bm25_scores(qdf, idx, cfg=cfg).cache()
    vec = rt.vector_scores(qdf, idx, cfg=cfg).cache()
    rows = rt.search_all_tagged(qdf, idx, k=3, cfg=cfg, keyword=kw, vector=vec).collect()
    by = {}
    for r in rows:
        by.setdefault((r["arm"], r["query_id"]), []).append(r)
    for arm in ("keyword", "vector", "hybrid"):
        for qid, _ in edge:
            grp = sorted(by[(arm, qid)], key=lambda r: r["rank"])
            assert len(grp) == 3, (arm, qid)
            assert [r["rank"] for r in grp] == [1, 2, 3]
    # the empty query scores every doc 0.0 in the keyword arm: doc_id
    # ascending is the deterministic tie-break
    e1kw = sorted(by[("keyword", "e1")], key=lambda r: r["rank"])
    assert [r["doc_id"] for r in e1kw] == [1, 2, 3]
    assert all(r["score"] == 0.0 for r in e1kw)
    kw.unpersist()
    vec.unpersist()
