"""Compiled serving path (retrieval.compile_query_batch +
compiled_bm25_scores / compiled_vector_scores) parity against the
join-form scorers: same formulas, same OOV drop, same profiles — the
compiled path is a physical-plan change only.

Covers both id regimes: bigint doc_ids (driver testdata) and string
doc_ids (the reference corpus)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from beyond_vector_search_spark.config import EngineConfig
from beyond_vector_search_spark.operators import retrieval as rt
from beyond_vector_search_spark.operators.corpus_index import build_index
from beyond_vector_search_spark.sources.readers import load_table
from tests.conftest import SF_DIR

QUERIES = [
    ("q1", "spark join performance"),
    ("q2", "vector hash index scan"),
    ("q3", "slow query filter value 42"),
]

MATCHED = EngineConfig(include_zero_score_docs=False)
TOL = 1e-9


@pytest.fixture(scope="module")
def docs_index(spark):
    docs = load_table(spark, SF_DIR, "documents")
    return build_index(docs, text="text").cache()


@pytest.fixture(scope="module")
def qdf(spark):
    return spark.createDataFrame(QUERIES, "query_id STRING, query STRING")


def _as_dict(df):
    return {(r["query_id"], r["doc_id"]): r["score"] for r in df.collect()}


def _assert_close(got: dict, want: dict):
    assert set(got) == set(want)
    for k, v in want.items():
        assert math.isclose(got[k], v, rel_tol=TOL, abs_tol=1e-12), (k, got[k], v)


def test_compiled_bm25_matches_join_form(spark, docs_index, qdf):
    compiled = rt.compile_query_batch(QUERIES, docs_index, cfg=MATCHED)
    got = _as_dict(rt.compiled_bm25_scores(docs_index, compiled, cfg=MATCHED))
    want = _as_dict(rt.bm25_scores(qdf, docs_index, cfg=MATCHED))
    _assert_close(got, want)


def test_compiled_vector_matches_join_form(spark, docs_index, qdf):
    compiled = rt.compile_query_batch(QUERIES, docs_index, cfg=MATCHED)
    got = _as_dict(rt.compiled_vector_scores(docs_index, compiled, cfg=MATCHED))
    want = _as_dict(rt.vector_scores(qdf, docs_index, cfg=MATCHED))
    _assert_close(got, want)


def test_compiled_accepts_dataframe_and_list(spark, docs_index, qdf):
    a = rt.compile_query_batch(QUERIES, docs_index, cfg=MATCHED)
    b = rt.compile_query_batch(qdf, docs_index, cfg=MATCHED)
    assert a == b


def test_compiled_zero_restore_profile(spark, docs_index, qdf):
    cfg = EngineConfig()  # include_zero_score_docs=True (reference parity)
    compiled = rt.compile_query_batch(QUERIES, docs_index, cfg=cfg)
    got = _as_dict(rt.compiled_bm25_scores(docs_index, compiled, queries=qdf, cfg=cfg))
    want = _as_dict(rt.bm25_scores(qdf, docs_index, cfg=cfg))
    _assert_close(got, want)
    n_docs, _ = docs_index.scalar_values()
    assert len(got) == len(QUERIES) * n_docs  # zero-score universe restored
    with pytest.raises(ValueError, match="zero-restore"):
        rt.compiled_bm25_scores(docs_index, compiled, cfg=cfg)


def test_compiled_oversized_batch_raises(spark, docs_index):
    """Literal folding is the interactive regime: a batch compiling to
    more features than max_features fails loudly, pointing at the
    join-form scorers."""
    with pytest.raises(ValueError, match="join-form"):
        rt.compile_query_batch(
            [("q1", "spark join performance")], docs_index, cfg=MATCHED, max_features=3
        )


def test_compiled_duplicate_query_ids_raise(spark, docs_index):
    with pytest.raises(ValueError, match="duplicate query_id"):
        rt.compile_query_batch(
            [("q1", "spark join"), ("q1", "other text")], docs_index, cfg=MATCHED
        )


def test_compiled_all_oov_query_is_empty(spark, docs_index):
    compiled = rt.compile_query_batch(
        [("q1", "zzzzqqqqxxxx wwwwvvvv")], docs_index, cfg=MATCHED
    )
    assert compiled.term_weights == {}
    assert rt.compiled_bm25_scores(docs_index, compiled, cfg=MATCHED).count() == 0


def test_compiled_on_string_doc_ids(spark, ref_index):
    """The reference corpus uses string doc_ids — both arms must work
    and match the join form there too."""
    queries = [("q1", "incident INC-49217"), ("q2", "database index")]
    qdf = spark.createDataFrame(queries, "query_id STRING, query STRING")
    compiled = rt.compile_query_batch(queries, ref_index, cfg=MATCHED)
    _assert_close(
        _as_dict(rt.compiled_bm25_scores(ref_index, compiled, cfg=MATCHED)),
        _as_dict(rt.bm25_scores(qdf, ref_index, cfg=MATCHED)),
    )
    _assert_close(
        _as_dict(rt.compiled_vector_scores(ref_index, compiled, cfg=MATCHED)),
        _as_dict(rt.vector_scores(qdf, ref_index, cfg=MATCHED)),
    )


def test_compiled_filter_pushes_into_parquet_scan(spark, docs_index, qdf, tmp_path):
    """The compiled path's IN filter reaches the postings PARQUET scan
    on a persisted index (PushedFilters in the formatted plan) — the
    property that makes it the 100 TB shape: a bucketed/sorted postings
    table then reads only matching row groups, where a broadcast join
    would scan everything."""
    import contextlib
    import io

    from beyond_vector_search_spark.operators.corpus_index import CorpusIndex

    path = str(tmp_path / "idx")
    docs_index.save(path)
    cold = CorpusIndex.load(spark, path)
    compiled = rt.compile_query_batch(QUERIES, cold, cfg=MATCHED)
    plan = rt.compiled_bm25_scores(cold, compiled, cfg=MATCHED)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        plan.explain("formatted")
    txt = buf.getvalue()
    scan_lines = [
        line for line in txt.splitlines() if "PushedFilters" in line and "In(term" in line
    ]
    assert scan_lines, f"no In(term,...) pushed to the postings scan:\n{txt[:2000]}"
    # and the cold-index results still match the in-session index
    got = _as_dict(plan)
    want = _as_dict(
        rt.compiled_bm25_scores(
            docs_index, rt.compile_query_batch(QUERIES, docs_index, cfg=MATCHED),
            cfg=MATCHED,
        )
    )
    _assert_close(got, want)


def test_compiled_tokenization_matches_spark_exprs(spark, docs_index):
    """compile_query_batch tokenizes/shingles DRIVER-side through
    kernels.tokens / kernels.char_grams, the one Python definition the
    Arrow index kernels share; this pins the derived term and gram-tf
    sets equal to the Spark expression forms over adversarial strings —
    unicode, emoji, hyphen/underscore joins, whitespace runs, empties."""
    from collections import Counter

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from beyond_vector_search_spark.functions.kernels import char_grams, tokens

    @settings(max_examples=25, deadline=None)
    @given(
        st.text(
            alphabet=st.characters(
                codec="utf-8", exclude_characters="\x00"
            ),
            max_size=40,
        )
    )
    def check(text):
        qdf = spark.createDataFrame([("q", text)], "query_id STRING, query STRING")
        want_terms = sorted(
            {
                r["t"]
                for r in qdf.select(
                    F.explode_outer(
                        F.array_distinct(
                            __import__(
                                "beyond_vector_search_spark.functions.text",
                                fromlist=["tokenize"],
                            ).tokenize("query")
                        )
                    ).alias("t")
                ).collect()
                if r["t"] is not None
            }
        )
        got_terms = sorted(set(tokens(text)))
        assert got_terms == want_terms, (text, got_terms, want_terms)

        from beyond_vector_search_spark.functions.text import char_ngrams

        want_grams = Counter(
            g
            for r in qdf.select(F.explode_outer(char_ngrams("query", 4)).alias("g")).collect()
            if (g := r["g"]) is not None
        )
        grams = char_grams(text, 4)
        assert Counter(grams) == want_grams, (text, grams, dict(want_grams))

    check()


def test_minmax_window_form_matches_agg_form(spark, docs_index, qdf):
    scored = rt.bm25_scores(qdf, docs_index, cfg=MATCHED)
    via_agg = {
        (r["query_id"], r["doc_id"]): r["norm_score"]
        for r in rt.minmax_normalize(scored).collect()
    }
    via_win = {
        (r["query_id"], r["doc_id"]): r["norm_score"]
        for r in rt.minmax_normalize(scored, via="window").collect()
    }
    assert set(via_agg) == set(via_win)
    for k, v in via_agg.items():
        assert math.isclose(via_win[k], v, rel_tol=TOL, abs_tol=1e-12)


def test_warm_idf_compile_is_bit_identical(spark, docs_index, qdf):
    """r12: the driver-side idf warm cache (CorpusIndex.warm_idf) is a
    job-count optimization only — compiled scores with a COMPLETE
    cache, a PARTIAL cache (forcing the residual cluster lookup), and
    no cache must be bit-identical; a partial cache must never turn an
    uncached in-vocabulary term into OOV."""
    import copy

    def scores():
        compiled = rt.compile_query_batch(QUERIES, docs_index, cfg=MATCHED)
        kw = {
            (r.query_id, r.doc_id): r.score
            for r in rt.compiled_bm25_scores(docs_index, compiled, cfg=MATCHED).collect()
        }
        vec = {
            (r.query_id, r.doc_id): r.score
            for r in rt.compiled_vector_scores(docs_index, compiled, cfg=MATCHED).collect()
        }
        return kw, vec

    had = getattr(docs_index, "_idf_warm", None)
    try:
        if hasattr(docs_index, "_idf_warm"):
            del docs_index._idf_warm
        cold = scores()

        docs_index.warm_idf()
        assert docs_index._idf_warm["t_complete"], "testdata vocab fits the cap"
        warm = scores()
        assert warm == cold

        # partial cache: drop a query term ('spark') and a query gram,
        # clear the complete flags — the residual lookup must fetch them
        partial = copy.deepcopy(docs_index._idf_warm)
        partial["t"].pop("spark", None)
        partial["g"].pop("spar", None)
        partial["t_complete"] = partial["g_complete"] = False
        docs_index._idf_warm = partial
        part = scores()
        assert part == cold
    finally:
        if had is None:
            if hasattr(docs_index, "_idf_warm"):
                del docs_index._idf_warm
        else:
            docs_index._idf_warm = had
