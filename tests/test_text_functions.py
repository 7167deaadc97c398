"""Expression-level parity of the scalar text functions vs the reference."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from beyond_vector_search_spark.functions import kernels, udfs
from beyond_vector_search_spark.functions.text import (
    char_ngrams,
    join_top_sentences,
    norm_answer,
    tokenize,
)
from beyond_vector_search_spark.operators import dedup, fusion, pretrain

SAMPLES = [
    "Need details on INC-49217 now",
    "pipeline failed for INC-10010 cache stampede",
    "userid vs user_id mismatch",
    "Hello   World!  multiple. Sentences here? yes!  ",
    "",
    "ab",
    "UPPER lower 123 mix-ed under_score",
    "  leading and trailing   ",
    "one.two.three",  # no whitespace after periods: single token-ish
    "a! b? c. d. e.",
]


def _run_expr(spark, col_expr, values):
    df = spark.createDataFrame([(v,) for v in values], "s STRING")
    return [r[0] for r in df.select(col_expr(F.col("s"))).collect()]


def test_tokenize_matches_reference(spark):
    from tests.ref_impl import ref_text

    got = _run_expr(spark, tokenize, SAMPLES)
    want = [ref_text.tokenize(s) for s in SAMPLES]
    assert got == want


def test_char_ngrams_matches_reference(spark):
    from tests.ref_impl import ref_retrievers

    got = _run_expr(spark, char_ngrams, SAMPLES)
    want = [ref_retrievers._char_ngrams(s, n=4) for s in SAMPLES]
    assert got == want


def test_join_top_sentences_matches_reference(spark):
    from tests.ref_impl import ref_text

    got = _run_expr(spark, join_top_sentences, SAMPLES)
    want = [ref_text.join_top_sentences(s, max_sentences=2) for s in SAMPLES]
    assert got == want


def test_norm_answer_matches_reference(spark):
    def ref_norm(s):
        return " ".join(s.lower().split())

    got = _run_expr(spark, norm_answer, SAMPLES)
    want = [ref_norm(s) for s in SAMPLES]
    assert got == want


def test_tokenize_on_corpus(spark, ref_corpus):
    """Full-corpus tokenization parity (200 docs)."""
    from tests.ref_impl import ref_text

    rows = ref_corpus.select(
        "doc_id", tokenize(F.concat_ws(" ", "title", "text")).alias("toks")
    ).collect()
    docs = {d.doc_id: d for d in ref_corpus.collect()}
    for r in rows:
        want = ref_text.tokenize(docs[r.doc_id].title + " " + docs[r.doc_id].text)
        assert r.toks == want, r.doc_id


def test_fan_out_config_modes(spark):
    """fan_out's split-count probe: an input with fewer partitions than
    defaultParallelism is repartitioned to defaultParallelism; one with
    enough partitions is returned as is."""
    from beyond_vector_search_spark.functions.kernels import fan_out

    parallelism = spark.sparkContext.defaultParallelism
    assert parallelism > 1
    small = spark.createDataFrame(
        [(i, "x") for i in range(10)], "doc_id long, text string"
    ).coalesce(1)
    spread = fan_out(small)
    assert spread.rdd.getNumPartitions() == parallelism
    assert spread.count() == 10
    wide = spark.range(100).repartition(parallelism)
    assert fan_out(wide) is wide


# every operator that runs as kernels.doc_kernel, at its default
# (kernel) path; benchmark_contamination needs a benchmark relation
_DOC_KERNEL_OPS = {
    "term_tf_frame": lambda d, b: kernels.term_tf_frame(d),
    "gram_tf_frame": lambda d, b: kernels.gram_tf_frame(d),
    "top_terms_udtf": lambda d, b: udfs.top_terms_udtf(d),
    "shingle_rows": lambda d, b: dedup.shingle_rows(d),
    "positioned_shingle_rows": lambda d, b: dedup.positioned_shingle_rows(d, n=3),
    "minhash_signatures": lambda d, b: dedup.minhash_signatures(d),
    "minhash_shingle_rows": lambda d, b: dedup.minhash_shingle_rows(d),
    "doc_signatures": lambda d, b: dedup.doc_signatures(d, fingerprint=True),
    "simhash64": lambda d, b: dedup.simhash64(d),
    "phrase_counts": lambda d, b: fusion.phrase_counts(d, ["quick brown"]),
    "proximity_counts": lambda d, b: fusion.proximity_counts(d, [("quick", "fox")]),
    "benchmark_contamination": lambda d, b: pretrain.benchmark_contamination(
        d, b, n=3, broadcast_set=True
    ),
    "repetition_flags": lambda d, b: pretrain.repetition_flags(d),
}


@pytest.mark.parametrize("name", sorted(_DOC_KERNEL_OPS))
def test_doc_kernel_operators_edge_inputs(spark, name):
    """STRING ids, a NULL text and an empty text run through every
    doc_kernel operator without raising, the output keeps the input's
    id type, and an empty input yields an empty frame with the full
    schema."""
    from pyspark.sql.types import StringType

    docs = spark.createDataFrame(
        [
            ("d1", "the quick brown fox jumps over the quick brown dog"),
            ("d2", None),
            ("d3", ""),
            ("d4", "quick brown fox quick brown fox"),
        ],
        "doc_id STRING, text STRING",
    )
    bench = spark.createDataFrame([("b1", "the quick brown fox")], "doc_id STRING, text STRING")
    op = _DOC_KERNEL_OPS[name]
    out = op(docs, bench)
    assert out.schema["doc_id"].dataType == StringType()
    rows = out.collect()
    assert rows and {r.doc_id for r in rows} <= {"d1", "d2", "d3", "d4"}
    empty = op(docs.limit(0), bench)
    assert empty.schema == out.schema
    assert empty.collect() == []


def test_encoding_artifacts_hand_computed(spark):
    """Mojibake detection: U+FFFD, C1 controls, and UTF-8-as-cp1252
    multigraphs each counted; a PROPERLY encoded e-acute trips nothing;
    ratio rounded to 6; flag on any artifact."""
    from beyond_vector_search_spark.operators.text_analysis import (
        encoding_artifacts,
    )

    rows = [
        (1, "clean caf\u00e9 text"),
        (2, "caf\u00c3\u00a9 r\u00c3\u00a9sum\u00c3\u00a9"),
        (3, "bad \ufffd byte"),
        (4, "ctrl \u0085 here"),
        (5, "quote \u00e2\u0080\u0099 nbsp \u00c2\u00a0x"),
        (6, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in encoding_artifacts(df).collect()}
    assert not got[1]["flag_encoding_artifacts"]
    assert got[2]["n_mojibake"] == 3 and got[2]["n_replacement"] == 0
    assert got[3]["n_replacement"] == 1
    assert got[4]["n_c1_controls"] == 1 and got[4]["n_mojibake"] == 0
    # the cp1252 trigraph counts as mojibake AND its continuation
    # bytes land in the C1 range — both signals fire by design
    assert got[5]["n_mojibake"] == 2 and got[5]["n_c1_controls"] == 2
    assert got[6]["n_chars"] == 0 and not got[6]["flag_encoding_artifacts"]
    r2 = got[2]
    assert r2["artifact_ratio"] == round(3 / r2["n_chars"], 6)
    assert all(got[i]["flag_encoding_artifacts"] for i in (2, 3, 4, 5))
