"""Property-based invariants (hypothesis) for the expression library —
the determinism rules every ranking depends on."""

from __future__ import annotations

import re

from hypothesis import given, settings
from hypothesis import strategies as st


TEXTS = st.text(
    alphabet=st.characters(
        whitelist_categories=("Lu", "Ll", "Nd", "Po", "Zs"), max_codepoint=0x2FF
    ),
    max_size=200,
)


class _Bank:
    """Collect many hypothesis examples, evaluate them in ONE Spark job
    (per-example Spark round-trips would take minutes)."""

    def __init__(self):
        self.samples: list[str] = []

    def add(self, s: str) -> None:
        self.samples.append(s)


@settings(max_examples=200, deadline=None)
@given(TEXTS)
def _collect(bank, s):
    bank.add(s)


def _batch(spark, samples, col_fn):
    df = spark.createDataFrame([(s,) for s in samples], "s STRING")
    from pyspark.sql import functions as F

    return [r[0] for r in df.select(col_fn(F.col("s"))).collect()]


def test_tokenize_property_parity(spark):
    from beyond_vector_search_spark.functions.text import tokenize
    from tests.ref_impl import ref_text

    bank = _Bank()
    _collect(bank)
    samples = bank.samples or [""]
    got = _batch(spark, samples, tokenize)
    for s, g in zip(samples, got):
        assert g == ref_text.tokenize(s), repr(s)


def test_char_ngrams_property_parity(spark):
    from beyond_vector_search_spark.functions.text import char_ngrams
    from tests.ref_impl import ref_retrievers

    bank = _Bank()
    _collect(bank)
    samples = bank.samples or [""]
    got = _batch(spark, samples, char_ngrams)
    for s, g in zip(samples, got):
        assert g == ref_retrievers._char_ngrams(s, n=4), repr(s)


def test_join_top_sentences_property_parity(spark):
    from beyond_vector_search_spark.functions.text import join_top_sentences
    from tests.ref_impl import ref_text

    bank = _Bank()
    _collect(bank)
    samples = bank.samples or [""]
    got = _batch(spark, samples, join_top_sentences)
    for s, g in zip(samples, got):
        assert g == ref_text.join_top_sentences(s, max_sentences=2), repr(s)


def test_stable_topk_tie_break_invariant(spark):
    """For any score multiset, stable_topk orders by (score desc, id asc)
    and equal-score groups are id-sorted — the reference's text.py:52-54
    rule that every golden output depends on."""
    import random

    from pyspark.sql import functions as F

    from beyond_vector_search_spark.operators.retrieval import stable_topk

    rng = random.Random(7)
    rows = []
    for qid in range(20):
        for doc in range(50):
            rows.append((f"q{qid}", doc, rng.choice([0.0, 0.25, 0.5, 0.75, 1.0])))
    df = spark.createDataFrame(rows, "query_id STRING, doc_id BIGINT, score DOUBLE")
    out = stable_topk(df, 10).collect()
    by_q: dict = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    expected = {}
    for qid, doc, score in rows:
        expected.setdefault(qid, []).append((score, doc))
    for qid, rs in by_q.items():
        rs = sorted(rs, key=lambda r: r.rank)
        want = sorted(expected[qid], key=lambda t: (-t[0], t[1]))[:10]
        assert [(r.score, r.doc_id) for r in rs] == want, qid


def test_arrow_kernels_property_parity(spark):
    """Hypothesis sweep: the Arrow counting kernels (functions/kernels)
    agree with the expression path on random unicode-ish text — the
    Python-vs-JVM lower()/\\s+ semantics are the risk surface."""
    from collections import Counter

    from pyspark.sql import functions as F

    from beyond_vector_search_spark.functions import kernels
    from beyond_vector_search_spark.functions.text import char_ngrams, tokenize

    bank = _Bank()
    _collect(bank)
    samples = bank.samples or [""]
    docs = spark.createDataFrame(list(enumerate(samples)), "doc_id LONG, text STRING")

    def counts(df, key):
        out: dict[int, Counter] = {}
        for r in df.collect():
            out.setdefault(r.doc_id, Counter())[r[key]] = r.tf
        return out

    expr_terms = (
        docs.select("doc_id", F.explode(tokenize("text")).alias("term"))
        .groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    )
    assert counts(kernels.term_tf_frame(docs, text="text"), "term") == counts(expr_terms, "term")

    expr_grams = (
        docs.select("doc_id", F.explode(char_ngrams("text", 4)).alias("gram"))
        .groupBy("doc_id", "gram").agg(F.count("*").alias("tf"))
    )
    assert counts(kernels.gram_tf_frame(docs, text="text"), "gram") == counts(expr_grams, "gram")


def test_cosine_from_norms_bitwise_equals_cosine_sim(spark):
    """The hoisted-norm cosine must be BIT-identical to the inline form
    on arbitrary vectors (including zeros and denormal-ish values) —
    it is the same fold expressions, only computed per row."""
    import random

    from pyspark.sql import functions as F

    from beyond_vector_search_spark.functions.vectors import (
        as_double_array,
        cosine_from_norms,
        cosine_sim,
        l2_norm,
    )

    rng = random.Random(11)
    rows = []
    for i in range(200):
        dim = rng.choice([1, 3, 16, 64])
        a = [rng.uniform(-1e3, 1e3) * (10 ** rng.randint(-12, 3)) for _ in range(dim)]
        b = [rng.uniform(-1e3, 1e3) * (10 ** rng.randint(-12, 3)) for _ in range(dim)]
        if i % 17 == 0:
            a = [0.0] * dim
        if i % 23 == 0:
            b = [0.0] * dim
        rows.append((i, a, b))
    df = spark.createDataFrame(rows, "i LONG, a ARRAY<DOUBLE>, b ARRAY<DOUBLE>")
    av, bv = as_double_array(F.col("a")), as_double_array(F.col("b"))
    out = df.select(
        cosine_sim(av, bv).alias("inline"),
        cosine_from_norms(av, bv, l2_norm(av), l2_norm(bv)).alias("hoisted"),
    ).collect()
    for r in out:
        # bit-compare via repr: both must be the exact same double
        assert repr(r["inline"]) == repr(r["hoisted"])


# ---------------------------- media codecs ---------------------------------
# Pure-Python codec properties (no Spark session needed): arbitrary
# payloads must roundtrip exactly through every encode/decode pair.

@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=2, max_value=8),
    st.lists(st.integers(min_value=0, max_value=255), min_size=0, max_size=3000),
)
def test_prop_gif_lzw_roundtrip(mcs, idx):
    from beyond_vector_search_spark.operators import multimodal as mm

    idx = [i % (1 << mcs) for i in idx]
    assert mm._gif_lzw_decode(mcs, mm._gif_lzw_encode(mcs, idx)) == idx


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=0, max_value=4),
    st.randoms(use_true_random=False),
)
def test_prop_png_gif_bmp_image_roundtrip(w, h, filter_type, rnd):
    import numpy as np

    from beyond_vector_search_spark.operators import multimodal as mm

    img = np.array(
        [[rnd.randrange(256) for _ in range(w)] for _ in range(h)], dtype=np.uint8
    )
    assert np.array_equal(mm._decode_png(mm.encode_png_gray8(img, filter_type=filter_type)), img)
    assert np.array_equal(mm._decode_gif(mm.encode_gif_gray8(img)), img)
    assert np.array_equal(mm._decode_gif(mm.encode_gif_gray8(img, interlace=True)), img)
    assert np.array_equal(mm._decode_bmp(mm.encode_bmp_gray8(img)), img)


@settings(max_examples=25, deadline=None)
@given(
    st.integers(min_value=1, max_value=30),
    st.integers(min_value=1, max_value=30),
    st.randoms(use_true_random=False),
)
def test_prop_jpeg_roundtrip_bound(w, h, rnd):
    """At quantization step 1 the only loss is DCT rounding: any image
    roundtrips within |err| <= 1 per pixel."""
    import numpy as np

    from beyond_vector_search_spark.operators import jpeg as jp

    img = np.array(
        [[rnd.randrange(256) for _ in range(w)] for _ in range(h)], dtype=np.uint8
    )
    out = jp.decode_jpeg(jp.encode_jpeg_gray8(img))
    assert out.shape == img.shape
    assert int(np.abs(out.astype(int) - img.astype(int)).max()) <= 1
    # the progressive coding of the SAME quantized coefficients must
    # reconstruct the IDENTICAL pixels (scan splitting is lossless)
    prog = jp.decode_jpeg(jp.encode_jpeg_gray8_progressive(img))
    assert np.array_equal(prog, out)


def test_signature_kernels_property_parity(spark):
    """Hypothesis sweep: the Arrow SimHash and MinHash kernels agree
    with their expression paths on random unicode-ish text — the
    Python-vs-JVM lower() semantics and md5 input construction are the
    risk surface."""
    from beyond_vector_search_spark.operators.dedup import (
        minhash_signatures,
        simhash64,
    )

    bank = _Bank()
    _collect(bank)
    samples = bank.samples or [""]
    docs = spark.createDataFrame(list(enumerate(samples)), "doc_id LONG, text STRING")

    for bits in (32, 60):
        k = sorted(map(tuple, simhash64(docs, bits=bits).collect()))
        e = sorted(map(tuple, simhash64(docs, bits=bits, kernel=False).collect()))
        assert k == e, f"simhash bits={bits}"

    k = sorted((r.doc_id, tuple(r.sig)) for r in minhash_signatures(docs).collect())
    e = sorted(
        (r.doc_id, tuple(r.sig))
        for r in minhash_signatures(docs, kernel=False).collect()
    )
    assert k == e


@settings(max_examples=15, deadline=None)
@given(
    st.sampled_from([(2, 8), (4, 8), (4, 16), (8, 16)]),
    st.integers(min_value=3, max_value=30),
    st.randoms(use_true_random=False),
)
def test_prop_pq_encode_paths_agree(shape, n, rnd):
    """Product-quantization property sweep: for random corpora and
    (m, dim) geometries the Arrow encode kernel and the expression path
    produce identical codes, and codebook-source vectors always encode
    to their own code in every subspace."""
    from beyond_vector_search_spark.operators import similarity as sim
    from beyond_vector_search_spark.session import get_spark

    m, dim = shape
    spark = get_spark("bvs-tests", shuffle_partitions=8)
    n_codes = min(4, n)
    # the +7i offset keeps every vector's subspace slices pairwise
    # distinct: hypothesis shrinks the uniforms to all-zeros, where
    # duplicate codewords tie and the argmin correctly prefers the
    # SMALLER code — which would falsify the own-code assertion below
    rows = [
        (i, [rnd.uniform(-1, 1) + i * 7.0 for _ in range(dim)]) for i in range(n)
    ]
    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    cb = sim.pq_codebooks(emb, m=m, dim=dim, n_codes=n_codes)
    k = {r.vec_id: list(r.codes) for r in sim.pq_encode(emb, cb, m=m, dim=dim).collect()}
    e = {
        r.vec_id: list(r.codes)
        for r in sim.pq_encode(emb, cb, m=m, dim=dim, kernel=False).collect()
    }
    assert k == e
    for code in range(n_codes):
        assert k[code] == [code] * m


def test_chunk_documents_property_invariants(spark):
    """chunk_documents invariants over random (n_tokens, size, overlap):
    chunks cover every token exactly once when overlaps are stripped,
    every chunk except possibly the last is full-size, every chunk adds
    at least one new token, and chunk_ids are gap-free."""
    import random

    from beyond_vector_search_spark.operators.pretrain import chunk_documents

    rng = random.Random(42)
    cases = []
    for case_id in range(60):
        size = rng.randint(2, 40)
        overlap = rng.randint(0, size - 1)
        n = rng.randint(0, 120)
        cases.append((case_id, size, overlap, n))

    # group cases by (size, overlap) so each config is one Spark job
    by_cfg: dict = {}
    for case_id, size, overlap, n in cases:
        by_cfg.setdefault((size, overlap), []).append((case_id, n))

    for (size, overlap), docs in by_cfg.items():
        stride = size - overlap
        df = spark.createDataFrame(
            [(cid, " ".join(f"t{cid}x{i}" for i in range(n))) for cid, n in docs],
            "doc_id long, text string",
        )
        rows = chunk_documents(df, size=size, overlap=overlap).collect()
        got: dict = {}
        for r in rows:
            got.setdefault(r["doc_id"], []).append(r)
        for cid, n in docs:
            chunks = sorted(got.get(cid, []), key=lambda r: r["chunk_id"])
            if n == 0:
                assert chunks == []
                continue
            assert chunks, (size, overlap, n)
            # gap-free ids, correct starts
            assert [c["chunk_id"] for c in chunks] == list(range(len(chunks)))
            assert all(c["start"] == c["chunk_id"] * stride for c in chunks)
            # every chunk except the last is full-size; all add >= 1 new token
            for c in chunks[:-1]:
                assert c["n_chunk_tokens"] == size
            for c in chunks:
                assert c["start"] + overlap < n or c["start"] == 0
            # reconstruction: stride prefixes + last chunk == original
            rebuilt = []
            for i, c in enumerate(chunks):
                toks = c["chunk_text"].split(" ")
                rebuilt.extend(toks if i == len(chunks) - 1 else toks[:stride])
            assert rebuilt == [f"t{cid}x{i}" for i in range(n)], (size, overlap, n)


def test_phrase_counts_property_parity(spark):
    """phrase_counts equals a direct Python sliding-window count over
    random token sequences and random phrases drawn from the same
    small alphabet (so collisions actually occur)."""
    import random

    from beyond_vector_search_spark.operators.fusion import phrase_counts

    rng = random.Random(7)
    alphabet = ["a", "b", "c"]
    docs = [
        (i, " ".join(rng.choice(alphabet) for _ in range(rng.randint(0, 30))))
        for i in range(80)
    ]
    phrases = ["a b", "b b", "a b c", "c", "a a b"]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["doc_id"], r["phrase"]): r["phrase_tf"]
        for r in phrase_counts(df, phrases).collect()
    }

    def py_count(toks, ptoks):
        m = len(ptoks)
        return sum(1 for i in range(len(toks) - m + 1) if toks[i:i + m] == ptoks)

    for doc_id, text in docs:
        toks = text.split(" ") if text else []
        for phrase in phrases:
            want = py_count(toks, phrase.split(" "))
            assert got.get((doc_id, phrase), 0) == want, (doc_id, phrase)
