"""EngineConfig scale knobs: gram df pruning, zero-score flag."""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import functions as F

from beyond_vector_search_spark.config import DEFAULT
from beyond_vector_search_spark.operators.corpus_index import build_index
from beyond_vector_search_spark.operators.retrieval import bm25_scores


def test_max_gram_df_ratio_prunes_hot_grams(spark):
    rows = [(i, "the same common prefix " + ("unique%d" % i)) for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    full = build_index(docs)
    pruned = build_index(docs, cfg=replace(DEFAULT, max_gram_df_ratio=0.5))
    n_full = full.gram_stats.count()
    n_pruned = pruned.gram_stats.count()
    assert n_pruned < n_full
    # every surviving gram appears in <= 50% of docs
    assert pruned.gram_stats.where("df > 5").count() == 0
    # doc_vec shrinks with it (inner join to pruned gram_stats)
    assert pruned.doc_vec.count() < full.doc_vec.count()


def test_include_zero_score_docs_flag(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, "epsilon zeta")],
        "doc_id BIGINT, text STRING",
    )
    idx = build_index(docs)
    q = spark.createDataFrame([("q", "alpha")], "query_id STRING, query STRING")
    parity = bm25_scores(q, idx, cfg=DEFAULT)
    assert parity.count() == 3                       # all docs, zeros restored
    scale = bm25_scores(q, idx, cfg=replace(DEFAULT, include_zero_score_docs=False))
    assert scale.count() == 1                        # only matching docs
    assert scale.collect()[0].doc_id == 1


def test_arrow_and_expr_kernels_identical(spark):
    """The Arrow counting kernels (functions/kernels.py) and the pure
    expression path must build bit-identical postings/gram_tf relations,
    including on unicode whitespace / mixed-case / short-string edges."""
    from pyspark.sql import functions as F

    from beyond_vector_search_spark.functions import kernels
    from beyond_vector_search_spark.functions.text import char_ngrams, tokenize

    rows = [
        (1, "Need details on INC-49217 now"),
        (2, "a"),
        (3, ""),
        (4, None),
        (5, "ab"),
        (6, "abcd"),
        (7, "Tabs\tand\nnewlines nbsp   runs"),
        (8, "MiXeD CaSe user_id INC-10010 cache-stampede"),
        (9, "x" * 7),
        (10, "spark spark spark spark"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    expr_terms = (
        docs.select(
            "doc_id",
            F.size(tokenize("text")).cast("long").alias("dl"),
            F.explode(tokenize("text")).alias("term"),
        )
        .groupBy("doc_id", "term", "dl")
        .agg(F.count("*").alias("tf"))
        .select("doc_id", "term", "tf", "dl")
    )
    arrow_terms = kernels.term_tf_frame(docs, text="text")
    assert expr_terms.exceptAll(arrow_terms).count() == 0
    assert arrow_terms.exceptAll(expr_terms).count() == 0

    expr_grams = (
        docs.select("doc_id", F.explode(char_ngrams("text", 4)).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count("*").alias("tf"))
    )
    arrow_grams = kernels.gram_tf_frame(docs, text="text")
    assert expr_grams.exceptAll(arrow_grams).count() == 0
    assert arrow_grams.exceptAll(expr_grams).count() == 0


def test_build_index_kernel_paths_agree(spark, ref_corpus):
    """build_index(index_kernel='arrow') == build_index('expr') on the
    reference corpus (string ids, concat_ws text expression)."""
    from dataclasses import replace

    from pyspark.sql import functions as F

    from beyond_vector_search_spark.config import DEFAULT
    from beyond_vector_search_spark.operators.corpus_index import build_index

    text = F.concat_ws(" ", "title", "text")
    a = build_index(ref_corpus, text=text, cfg=replace(DEFAULT, index_kernel="arrow"))
    e = build_index(ref_corpus, text=text, cfg=replace(DEFAULT, index_kernel="expr"))
    for field in ("postings", "doc_stats", "term_stats", "gram_stats"):
        da, de = getattr(a, field), getattr(e, field)
        assert da.exceptAll(de).count() == 0, field
        assert de.exceptAll(da).count() == 0, field
    ra, re_ = a.scalars.collect()[0], e.scalars.collect()[0]
    assert ra.n_docs == re_.n_docs
    assert abs(ra.avg_dl - re_.avg_dl) < 1e-12


def test_incremental_delta_union_equals_full_build(spark, ref_corpus, ref_index):
    """Incremental ingest: building deltas over two disjoint halves of
    the corpus and unioning them derives the SAME index as one full
    build — global stats (df, idf, avg_dl) re-derive correctly from the
    merged per-document tf relations."""
    from pyspark.sql import functions as F

    from beyond_vector_search_spark.operators.corpus_index import (
        build_delta,
        index_from_delta,
    )
    from beyond_vector_search_spark.operators.retrieval import search_all

    text = F.concat_ws(" ", "title", "text")
    half_a = ref_corpus.where("doc_id < 'DOC-100'")
    half_b = ref_corpus.where("doc_id >= 'DOC-100'")
    assert half_a.count() + half_b.count() == ref_corpus.count()

    merged = build_delta(half_a, text=text).union(build_delta(half_b, text=text))
    idx = index_from_delta(merged)

    for field in ("postings", "doc_stats", "term_stats", "gram_stats", "doc_norm"):
        inc, full = getattr(idx, field), getattr(ref_index, field)
        assert inc.exceptAll(full).count() == 0, field
        assert full.exceptAll(inc).count() == 0, field

    q = spark.createDataFrame(
        [("q1", "INC-49217 details")], "query_id STRING, query STRING"
    )
    got = [
        (r.doc_id, round(r.score, 6))
        for r in search_all(q, idx, k=5)["keyword"].orderBy("rank").collect()
    ]
    want = [
        (r.doc_id, round(r.score, 6))
        for r in search_all(q, ref_index, k=5)["keyword"].orderBy("rank").collect()
    ]
    assert got == want


def test_delta_store_compact_preserves_relations(spark, ref_corpus, tmp_path):
    """compact() collapses append files without changing any relation."""
    from pyspark.sql import functions as F

    from beyond_vector_search_spark.operators.corpus_index import IndexDelta, build_delta

    text = F.concat_ws(" ", "title", "text")
    store = str(tmp_path / "store")
    # simulate two ingest appends
    for pred in ("doc_id < 'DOC-100'", "doc_id >= 'DOC-100'"):
        d = build_delta(ref_corpus.where(pred), text=text)
        for f in IndexDelta._FIELDS:
            getattr(d, f).write.mode("append").parquet(f"{store}/{f}")

    before = IndexDelta.load(spark, store)
    counts = {f: getattr(before, f).count() for f in IndexDelta._FIELDS}
    tf_sum = before.postings.agg(F.sum("tf")).collect()[0][0]
    after = before.compact(store, partitions=4)
    # (``before`` is now stale by design — compact swapped its files)
    for f in IndexDelta._FIELDS:
        assert getattr(after, f).count() == counts[f], f
    # content (not just counts) survived
    assert after.postings.agg(F.sum("tf")).collect()[0][0] == tf_sum


def test_delta_remove_and_replace_equals_rebuild(spark, ref_corpus, ref_index):
    """Document update path: remove() anti-joins a doc out of every
    delta relation; replace() upserts changed docs.  Both must derive
    the SAME index as a from-scratch build over the resulting corpus."""
    from pyspark.sql import functions as F

    from beyond_vector_search_spark.operators.corpus_index import (
        build_delta,
        index_from_delta,
    )

    text = F.concat_ws(" ", "title", "text")
    full = build_delta(ref_corpus, text=text)

    # delete two documents
    gone = ref_corpus.where("doc_id IN ('DOC-100', 'DOC-190')").select("doc_id")
    removed = full.remove(gone)
    expect = index_from_delta(
        build_delta(
            ref_corpus.where("doc_id NOT IN ('DOC-100', 'DOC-190')"), text=text
        )
    )
    got = index_from_delta(removed)
    for field in ("postings", "doc_stats", "term_stats", "gram_stats", "doc_norm"):
        g, e = getattr(got, field), getattr(expect, field)
        assert g.exceptAll(e).count() == 0, field
        assert e.exceptAll(g).count() == 0, field

    # replace: mutate one document's text, upsert, compare to rebuild
    changed = ref_corpus.where("doc_id = 'DOC-100'").select(
        "doc_id", F.lit("t").alias("title"),
        F.lit("entirely new body text").alias("text"),
    )
    upserted = full.replace(build_delta(changed, text=text))
    rebuilt_corpus = ref_corpus.where("doc_id <> 'DOC-100'").select(
        "doc_id", "title", "text"
    ).unionByName(changed)
    expect2 = index_from_delta(build_delta(rebuilt_corpus, text=text))
    got2 = index_from_delta(upserted)
    for field in ("postings", "term_stats", "doc_norm"):
        g, e = getattr(got2, field), getattr(expect2, field)
        assert g.exceptAll(e).count() == 0, field
        assert e.exceptAll(g).count() == 0, field
