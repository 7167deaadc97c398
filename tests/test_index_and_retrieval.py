"""Parity of index build + all three retrieval strategies vs the
reference implementation on its own 200-doc corpus and 14 labels."""

from __future__ import annotations

import math

import pytest

from beyond_vector_search_spark.operators.retrieval import search_all

TOL = 1e-9


@pytest.fixture(scope="module")
def ref_objects():
    from tests.ref_impl import ref_data, ref_index, ref_retrievers

    docs = ref_data.load_corpus()
    stats = ref_index.build_corpus_stats(docs, rare_df_threshold=1)
    vec = ref_retrievers.VectorRetriever.build(docs, stats)
    key = ref_retrievers.KeywordRetriever.build(docs, stats)
    hyb = ref_retrievers.HybridRetriever(docs=docs, vector=vec, keyword=key)
    return docs, stats, vec, key, hyb


def test_term_stats_parity(ref_index, ref_objects):
    _, stats, *_ = ref_objects
    got = {r.term: r for r in ref_index.term_stats.collect()}
    assert set(got) == stats.vocab
    for t, c in stats.df.items():
        assert got[t].df == c
        assert math.isclose(got[t].idf, stats.idf[t], rel_tol=TOL)
        assert got[t].is_rare == (t in stats.rare_terms)


def test_doc_stats_parity(ref_index, ref_objects):
    _, stats, *_ = ref_objects
    got = {r.doc_id: r.doc_len for r in ref_index.doc_stats.collect()}
    assert got == stats.doc_len
    avg = ref_index.scalars.collect()[0]
    assert math.isclose(avg.avg_dl, stats.avg_dl, rel_tol=TOL)
    assert avg.n_docs == len(stats.doc_len)


def test_gram_index_parity(ref_index, ref_objects):
    _, _, vec, *_ = ref_objects
    got_idf = {r.gram: r.idf for r in ref_index.gram_stats.collect()}
    assert set(got_idf) == set(vec.idf)
    for g, v in vec.idf.items():
        assert math.isclose(got_idf[g], v, rel_tol=TOL), g
    got_norms = {r.doc_id: r.norm for r in ref_index.doc_norm.collect()}
    for d, n in vec.doc_norms.items():
        assert math.isclose(got_norms[d], n, rel_tol=1e-9), d
    # spot-check one doc's sparse vector
    some = sorted(vec.doc_vecs)[0]
    got_vec = {
        r.gram: r.weight
        for r in ref_index.doc_vec.where(f"doc_id = '{some}'").collect()
    }
    assert set(got_vec) == set(vec.doc_vecs[some])
    for g, w in vec.doc_vecs[some].items():
        assert math.isclose(got_vec[g], w, rel_tol=TOL)


def test_search_parity_all_labels_all_strategies(spark, ref_index, ref_objects):
    """Top-5 (doc_id, score, rank) for all 14 label queries × 3 strategies
    must match the reference exactly (same docs, same order, same scores)."""
    from tests.ref_impl import ref_data

    _, _, vec, key, hyb = ref_objects
    labels = ref_data.load_labels()
    queries = spark.createDataFrame(
        [(l.query_id, l.query) for l in labels], "query_id STRING, query STRING"
    )
    results = search_all(queries, ref_index, k=5)
    by_strategy = {
        name: {
            qid: sorted(rows, key=lambda r: r.rank)
            for qid, rows in _group(results[name].collect()).items()
        }
        for name in ("vector", "keyword", "hybrid")
    }
    searchers = {"vector": vec, "keyword": key, "hybrid": hyb}
    for lab in labels:
        for name, searcher in searchers.items():
            want = searcher.search(lab.query, k=5)
            got = by_strategy[name][lab.query_id]
            assert [r.doc_id for r in got] == [w.doc.doc_id for w in want], (
                name, lab.query_id, lab.query,
            )
            for g, w in zip(got, want):
                assert math.isclose(g.score, w.score, rel_tol=1e-9, abs_tol=1e-12), (
                    name, lab.query_id, g.doc_id,
                )


def _group(rows):
    out: dict = {}
    for r in rows:
        out.setdefault(r.query_id, []).append(r)
    return out


def test_empty_corpus_index_is_servable(spark):
    """An EMPTY corpus must build an index whose scalar_values() is
    (n_docs>=1 guard, avg_dl 0.0) and whose scorers return zero rows —
    never a float(None) crash (sum() over zero rows is NULL without
    the coalesce guard)."""
    from beyond_vector_search_spark.operators.corpus_index import build_index
    from beyond_vector_search_spark.operators import retrieval as rt

    empty = spark.createDataFrame([], "doc_id BIGINT, text STRING")
    idx = build_index(empty, text="text")
    n_docs, avg_dl = idx.scalar_values()
    assert avg_dl == 0.0
    qdf = spark.createDataFrame([("q1", "spark join")], "query_id string, query string")
    cfg = rt.DEFAULT.__class__(include_zero_score_docs=False)
    assert rt.bm25_scores(qdf, idx, cfg=cfg).count() == 0
    assert rt.vector_scores(qdf, idx, cfg=cfg).count() == 0
    compiled = rt.compile_query_batch([("q1", "spark join")], idx, cfg=cfg)
    assert rt.compiled_bm25_scores(idx, compiled, cfg=cfg).count() == 0
