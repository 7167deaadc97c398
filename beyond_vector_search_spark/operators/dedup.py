"""Deduplication operators for training-data pipelines.

All signature computation is PER-ROW (inside whole-stage codegen, no
shuffle): a document's shingles, MinHash signature, and SimHash are
derived from its own text.  Only the candidate-pair discovery shuffles,
and it shuffles *band buckets* (tiny keys), never raw text — the shape
that survives 100 TB:

    docs ──map──> signatures ──explode bands──> bucket join ──> pairs ──> verify

Hashes are MD5-derived (functions/hashing.py) so the DuckDB oracle
reproduces them byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from beyond_vector_search_spark.functions.hashing import hash64, md5_hex, minhash_signature
from beyond_vector_search_spark.functions.text import tokenize


def word_shingles_from_tokens(toks: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of an ALREADY-projected tokens
    column (plain column reference — see char_ngrams_from_normed for why
    expressions must not be inlined into the per-shingle lambda).

    DuckDB: ``list_distinct(list_transform(range(1, len(toks)-n+2),
    i -> array_to_string(toks[i:i+n-1], ' ')))`` (empty/short -> []).
    """
    toks = F.col(toks) if isinstance(toks, str) else toks
    return F.when(F.size(toks) < n, F.array().cast("array<string>")).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            )
        )
    )


def _doc_shingles(
    df: DataFrame, *, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(doc_id, shingles) with tokens materialized as a column first."""
    toked = df.select(F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("toks"))
    return toked.select("doc_id", word_shingles_from_tokens("toks", n).alias("shingles"))


def shingle_rows(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    kernel: bool = True,
) -> DataFrame:
    """(doc_id, sh) — each document's DISTINCT word n-gram shingles,
    one row per shingle (the long/exploded form every inverted-shingle
    consumer wants).

    ``kernel=True`` (default) emits the rows from an Arrow pass —
    identical contents to ``explode(word_shingles_from_tokens(
    tokenize(text)))`` but ~10x cheaper: the expression form pays
    interpreted per-shingle lambda steps, and a consumer that reuses
    the relation N times (jaccard_pairs touches it for the df cap, the
    sizes, and both join sides) re-evaluates the whole chain per
    consumer.  Row ORDER differs between the paths; all consumers are
    joins/aggregates, so order is immaterial (set parity pinned by
    test)."""
    if kernel:
        from collections.abc import Iterator

        from beyond_vector_search_spark.functions.kernels import _project, tokens

        src, id_type = _project(df, id_col, F.col(text_col))

        def k(batches: Iterator) -> Iterator:
            import pandas as pd

            for pdf in batches:
                ids, shs = [], []
                for doc_id, txt in zip(pdf["doc_id"], pdf["_text"]):
                    toks = tokens(txt)
                    for s in _shingle_set(toks, n):
                        ids.append(doc_id)
                        shs.append(s)
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series(ids, dtype=pdf["doc_id"].dtype),
                        "sh": pd.Series(shs, dtype="object"),
                    }
                )

        return src.mapInPandas(k, f"doc_id {id_type}, sh string")
    return _doc_shingles(df, id_col=id_col, text_col=text_col, n=n).select(
        "doc_id", F.explode("shingles").alias("sh")
    )


def exact_dedup_map(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, content_hash, keeper_id) — exact dedup by content hash;
    the keeper is the minimum id in each hash group (deterministic).

    min(id) over a hash-partitioned window = one shuffle on the hash key
    with map-side partial min; at scale this is the cheapest exact dedup.
    """
    hashed = df.select(
        F.col(id_col).alias("doc_id"), md5_hex(F.col(text_col)).alias("content_hash")
    )
    w = Window.partitionBy("content_hash")
    return hashed.withColumn("keeper_id", F.min("doc_id").over(w))


# ---- shared per-document signature primitives (Arrow kernels) --------------
# One implementation each of the md5 shingle-digest MinHash and the
# bit-majority SimHash, so the standalone kernels and the fused
# doc_signatures kernel cannot drift apart.  The memo caches are
# per-PARTITION (created per kernel invocation) and BOUNDED: corpus
# vocabulary repeats heavily so hit rates are high, but an adversarial
# partition of unique shingles must not accumulate gigabytes in the
# Python worker — at the cap the cache resets (correctness unaffected;
# only the memoization restarts).
_SHINGLE_CACHE_MAX = 200_000   # entries of num_hashes 32-char digests
_TOKHASH_CACHE_MAX = 1_000_000  # entries of one int


def _make_shingle_digests(num_hashes: int):
    import hashlib

    prefixes = [f"{i}:".encode() for i in range(num_hashes)]
    cache: dict[str, list[str]] = {}

    def digests(s: str) -> list[str]:
        d = cache.get(s)
        if d is None:
            if len(cache) >= _SHINGLE_CACHE_MAX:
                cache.clear()
            raw = s.encode("utf-8")
            d = [hashlib.md5(p + raw).hexdigest() for p in prefixes]
            cache[s] = d
        return d

    return digests


def _make_tok_hash():
    import hashlib

    cache: dict[str, int] = {}

    def tok_hash(t: str) -> int:
        h = cache.get(t)
        if h is None:
            if len(cache) >= _TOKHASH_CACHE_MAX:
                cache.clear()
            h = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16)
            cache[t] = h
        return h

    return tok_hash


def _shingle_set(toks: list, n: int) -> set:
    """A document's DISTINCT word n-gram shingles from its token list —
    the one definition every shingle-building kernel shares."""
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def _sig_from_shingles(shingles: set, num_hashes: int, digests) -> list:
    """MinHash signature from a document's shingle SET — the shared
    core of every minhash kernel (same md5 inputs, lexicographic min;
    all-NULL signature for an empty set)."""
    if not shingles:
        return [None] * num_hashes
    per_hash = zip(*(digests(s) for s in shingles))
    return [min(col) for col in per_hash]


def _minhash_sig(toks: list, shingle_n: int, num_hashes: int, digests) -> list:
    """Per-doc MinHash signature from the token list — byte-identical
    to the expression path (same md5 inputs, lexicographic min; all-NULL
    signature for docs shorter than the shingle width)."""
    return _sig_from_shingles(_shingle_set(toks, shingle_n), num_hashes, digests)


def _simhash_fp(tokset: set, shifts, powers, tok_hash) -> int:
    """Per-doc SimHash fingerprint from the DISTINCT-token set —
    bit-identical to the expression fold (majority vote per bit)."""
    import numpy as np

    if not tokset:
        return 0
    hs = np.fromiter((tok_hash(t) for t in tokset), dtype=np.uint64, count=len(tokset))
    ones = ((hs[:, None] >> shifts) & np.uint64(1)).sum(axis=0)
    # sum of (2*bit - 1) > 0  <=>  2*ones > n_tokens
    return int((powers[2 * ones > len(tokset)]).sum())


def _check_simhash_bits(bits: int) -> None:
    if not 1 <= bits <= 63:
        raise ValueError(f"simhash kernel bits must be in [1, 63] (got {bits})")


def _minhash_kernel(
    df: DataFrame, *, id_col: str, text_col: str, num_hashes: int, shingle_n: int
) -> DataFrame:
    """Arrow-batched MinHash: tokenize + word-shingle + per-hash min of
    ``md5(f"{i}:{shingle}")`` hex digests in one narrow pass, BYTE-
    identical to the expression path (same strings hashed, same
    lexicographic min).  Shingle digests are memoized per partition
    with a bounded cache (:func:`_make_shingle_digests`) — the corpus
    shingle vocabulary repeats heavily, so each unique shingle pays its
    ``num_hashes`` md5 calls once.  The expression form costs
    num_hashes x shingles interpreted md5/concat expression steps per
    document — the dominant cost of lsh_candidate_pairs at every
    SCALING.jsonl probe point (same finding as the SimHash kernel)."""
    from collections.abc import Iterator

    from beyond_vector_search_spark.functions.kernels import _project, tokens

    src, id_type = _project(df, id_col, F.col(text_col))

    def kernel(batches: Iterator) -> Iterator:
        import pandas as pd

        digests = _make_shingle_digests(num_hashes)
        for pdf in batches:
            ids, sigs = [], []
            for doc_id, txt in zip(pdf["doc_id"], pdf["_text"]):
                toks = tokens(txt)
                ids.append(doc_id)
                sigs.append(_minhash_sig(toks, shingle_n, num_hashes, digests))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype=pdf["doc_id"].dtype),
                    "sig": pd.Series(sigs, dtype="object"),
                }
            )

    return src.mapInPandas(kernel, f"doc_id {id_type}, sig array<string>")


def minhash_signatures(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 3,
    kernel: bool = True,
) -> DataFrame:
    """(doc_id, sig array<string>) — per-row MinHash over word shingles.

    ``kernel=True`` (default) computes identical signatures in an Arrow
    kernel (:func:`_minhash_kernel`); ``kernel=False`` is the
    pure-expression semantic definition the DuckDB mirror reproduces.
    Tests pin the two byte-identical."""
    if kernel:
        return _minhash_kernel(
            df, id_col=id_col, text_col=text_col, num_hashes=num_hashes, shingle_n=shingle_n
        )
    sh = _doc_shingles(df, id_col=id_col, text_col=text_col, n=shingle_n)
    return sh.select("doc_id", minhash_signature(F.col("shingles"), num_hashes).alias("sig"))


def minhash_shingle_rows(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """(doc_id, sig array<string>, shingles array<string>) — MinHash
    signature AND the distinct shingle set from ONE Arrow pass over the
    text (one tokenize, one shingle build, one transfer).

    The shared-signature form of the LSH-then-verify pipelines
    (:func:`~beyond_vector_search_spark.operators.pretrain.fuzzy_contamination`
    is the canonical consumer): candidate generation needs the
    signature, the exact-Jaccard verify needs the shingle set, and both
    derive from the same per-document shingle build — computing them
    together and materializing the relation means the corpus text is
    scanned exactly ONCE no matter how many consumers follow.  ``sig``
    is byte-identical to :func:`minhash_signatures`; ``shingles``
    (sorted for a deterministic materialized relation) explodes to
    exactly :func:`shingle_rows` — both pinned by test."""
    from collections.abc import Iterator

    from beyond_vector_search_spark.functions.kernels import _project, tokens

    src, id_type = _project(df, id_col, F.col(text_col))

    def kernel(batches: Iterator) -> Iterator:
        import pandas as pd

        digests = _make_shingle_digests(num_hashes)
        for pdf in batches:
            ids, sigs, shs = [], [], []
            for doc_id, txt in zip(pdf["doc_id"], pdf["_text"]):
                toks = tokens(txt)
                shingles = _shingle_set(toks, shingle_n)
                ids.append(doc_id)
                sigs.append(_sig_from_shingles(shingles, num_hashes, digests))
                shs.append(sorted(shingles))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype=pdf["doc_id"].dtype),
                    "sig": pd.Series(sigs, dtype="object"),
                    "shingles": pd.Series(shs, dtype="object"),
                }
            )

    return src.mapInPandas(
        kernel, f"doc_id {id_type}, sig array<string>, shingles array<string>"
    )


def doc_signatures(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 3,
    bits: int = 32,
    fingerprint: bool = False,
) -> DataFrame:
    """(doc_id, sig, simhash[, fingerprint]) — MinHash signature AND
    SimHash fingerprint from ONE Arrow pass over the text (one tokenize,
    one Arrow transfer), for consumers that want the whole per-doc
    signature suite (the ``doc_hashes`` catalog entry).  Each column is
    byte/bit-identical to its standalone operator
    (:func:`minhash_signatures` / :func:`simhash64`) — pinned by test,
    and built from the SAME per-document primitives (:func:`_minhash_sig`
    / :func:`_simhash_fp`), so the three kernels cannot drift apart.

    ``fingerprint=True`` additionally emits
    :func:`text_analysis.doc_fingerprint`'s column (md5 of the sorted
    distinct-token set) from the same tokenize — byte-identical to the
    expression form (pinned by test).  The tokens are already in hand
    here, so the fused column costs one md5 per doc where the join form
    costs a SECOND full text scan plus a corpus-wide join.
    """
    from collections.abc import Iterator

    from beyond_vector_search_spark.functions.kernels import _project, tokens

    _check_simhash_bits(bits)
    src, id_type = _project(df, id_col, F.col(text_col))

    def kernel(batches: Iterator) -> Iterator:
        import hashlib

        import numpy as np
        import pandas as pd

        shifts = np.arange(bits, dtype=np.uint64)
        powers = np.uint64(1) << shifts
        digests = _make_shingle_digests(num_hashes)
        tok_hash = _make_tok_hash()

        for pdf in batches:
            ids, sigs, fps, prints = [], [], [], []
            for doc_id, txt in zip(pdf["doc_id"], pdf["_text"]):
                toks = tokens(txt)
                tokset = set(toks)
                ids.append(doc_id)
                sigs.append(_minhash_sig(toks, shingle_n, num_hashes, digests))
                fps.append(_simhash_fp(tokset, shifts, powers, tok_hash))
                if fingerprint:
                    prints.append(
                        hashlib.md5(" ".join(sorted(tokset)).encode("utf-8")).hexdigest()
                    )
            out = {
                "doc_id": pd.Series(ids, dtype=pdf["doc_id"].dtype),
                "sig": pd.Series(sigs, dtype="object"),
                "simhash": pd.Series(fps, dtype="int64"),
            }
            if fingerprint:
                out["fingerprint"] = pd.Series(prints, dtype="object")
            yield pd.DataFrame(out)

    schema = f"doc_id {id_type}, sig array<string>, simhash long"
    if fingerprint:
        schema += ", fingerprint string"
    return src.mapInPandas(kernel, schema)


def banded_keys(
    sigs: DataFrame,
    *,
    bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """(doc_id, band_id, band_key) — each signature exploded into its
    LSH band keys (md5 of the band's hash slice).  This is the
    PERSISTABLE form of the corpus's dedup state: write it partitioned
    (or bucketed) by band_key once, and every arriving batch joins its
    own few band rows against the store instead of re-signing the
    corpus — the input contract of :func:`lsh_pairs_against_corpus`.

    Band geometry is VALIDATED against the signature length at
    runtime: bands * rows_per_band beyond ``size(sig)`` would slice
    empty arrays, so every document would share the md5("") bucket in
    each overflow band — silent all-pairs candidates on small corpora,
    silently dropped bands under the bucket cap on large ones."""
    need = bands * rows_per_band
    guard = F.when(
        F.size("sig") >= F.lit(need), F.col("sig")
    ).otherwise(
        F.raise_error(
            F.printf(
                F.lit(
                    "banded_keys: bands*rows_per_band = %s exceeds the "
                    "signature length %s — overflow bands would "
                    "degenerate to one shared md5('') bucket"
                ),
                F.lit(str(need)),
                F.size("sig").cast("string"),
            )
        )
    )
    return sigs.select("doc_id", guard.alias("sig")).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band_id"),
                    F.md5(
                        F.concat_ws(
                            "|", F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band)
                        )
                    ).alias("band_key"),
                ),
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_key")


def lsh_pairs_against_corpus(
    new_sigs: DataFrame,
    corpus_sigs: DataFrame | None = None,
    *,
    bands: int = 4,
    rows_per_band: int = 4,
    max_bucket_size: int | None = 10_000,
    include_new_pairs: bool = True,
    corpus_bands: DataFrame | None = None,
) -> DataFrame:
    """(doc_a, doc_b) candidate pairs touching the NEW batch only — the
    incremental form of :func:`lsh_candidate_pairs` for ingest: an
    arriving shard is checked against the existing corpus (cross pairs)
    and against itself (``include_new_pairs``), and the corpus is NEVER
    self-joined — an epoch costs |new| band rows joined into their
    buckets, not |corpus|^2.  Identical banding/threshold semantics:

        lsh_candidate_pairs(corpus ∪ new)
          == lsh_candidate_pairs(corpus) ∪ lsh_pairs_against_corpus(new, corpus)

    (disjoint union, pinned by test) — so running it per batch over an
    append-only corpus reproduces exactly the monolithic pair set,
    batch by batch.

    ``max_bucket_size`` counts the COMBINED (corpus + new) bucket, the
    same guard the monolithic join applies, via one aggregation on the
    join key.  One caveat, inherent to ANY incremental capping: when a
    bucket first crosses the cap in THIS epoch, this call emits none of
    its pairs (matching the monolithic guard), but pairs the bucket
    produced in EARLIER epochs — when it was still under the cap —
    were already emitted and are not retracted, so the per-batch union
    can exceed the monolithic set by exactly those historical pairs
    (pinned by test; same non-retraction argument as the streaming
    near-dup's immediate mode).  The equivalence above is exact while
    no bucket crosses the cap between epochs, and always exact with
    ``max_bucket_size=None``.

    Cost honesty (SCALING.jsonl measures both): called with
    ``corpus_sigs``, each epoch re-signs the corpus, so total signing
    work matches the monolithic run and only the pair join shrinks —
    at small scales that is SLOWER than the self-join.  The
    incremental win is the ``corpus_bands`` store: then an epoch pays
    the NEW batch's signing plus one bucket join against the store
    (co-located if the store is bucketed by band_key; no corpus
    shuffle), and the cap aggregation is the only full pass over the
    stored keys.  A deployment appends the batch's own keys to the
    store after each epoch."""
    # lazy-localCheckpoint the banded relations we DERIVE here: the new
    # side is referenced up to 4x below (cap aggregation, cross join,
    # both self-join sides) and the corpus side twice, and Spark
    # re-inlines an uncached subtree at every reference — so each
    # reference re-ran the caller's signing kernel (measured: the
    # incremental_dedup_pairs entry's plan held 12 MapInPandas signing
    # passes for 2 logical ones).  Both relations are bounded and
    # narrow (docs x bands key rows).  A caller-supplied corpus_bands
    # STORE (the streaming ingest path) is left untouched — re-reading
    # a pruned parquet store is the cheap, intended access path.
    new_banded = banded_keys(
        new_sigs, bands=bands, rows_per_band=rows_per_band
    ).localCheckpoint(eager=False)
    if corpus_bands is None:
        if corpus_sigs is None:
            raise ValueError("pass corpus_sigs or a corpus_bands relation")
        corpus_bands = banded_keys(
            corpus_sigs, bands=bands, rows_per_band=rows_per_band
        ).localCheckpoint(eager=False)
    if max_bucket_size is not None:
        sizes = (
            corpus_bands.select("band_id", "band_key")
            .unionByName(new_banded.select("band_id", "band_key"))
            .groupBy("band_id", "band_key")
            .count()
            .where(F.col("count") <= max_bucket_size)
            .select("band_id", "band_key")
        )
        new_banded = new_banded.join(sizes, ["band_id", "band_key"], "left_semi")
        corpus_bands = corpus_bands.join(sizes, ["band_id", "band_key"], "left_semi")
    a, c = new_banded.alias("a"), corpus_bands.alias("c")
    cross = a.join(
        c,
        (F.col("a.band_id") == F.col("c.band_id"))
        & (F.col("a.band_key") == F.col("c.band_key")),
    ).select(
        F.least("a.doc_id", "c.doc_id").alias("doc_a"),
        F.greatest("a.doc_id", "c.doc_id").alias("doc_b"),
    )
    pairs = cross
    if include_new_pairs:
        b = new_banded.alias("b")
        pairs = pairs.unionByName(
            a.join(
                b,
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            ).select(
                F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
            )
        )
    return pairs.where(F.col("doc_a") != F.col("doc_b")).distinct()


def lsh_candidate_pairs(
    sigs: DataFrame,
    *,
    bands: int = 4,
    rows_per_band: int = 4,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """(doc_a, doc_b) candidate pairs from banded LSH: docs agreeing on
    ALL rows of at least one band.

    Band keys are md5 of the band slice, so the bucket join shuffles
    32-char strings regardless of signature width.  Self-join is on
    (band_id, band_key) — with b*r hashes, collision probability follows
    the usual (1-(1-s^r)^b) S-curve.

    ``max_bucket_size`` is the hot-bucket guard: a bucket of m docs
    emits m^2/2 pairs, so one degenerate band key (near-empty docs
    sharing a trivial signature) goes quadratic at corpus scale.
    Buckets above the cap are dropped BEFORE the self-join (a window
    count on the join key — same shuffle the join needs anyway).  Docs
    in a dropped bucket still pair through their other, more selective
    bands; fully identical documents are the exact-dedup pass's job
    (exact_dedup_map), not LSH's.  ``None`` disables the cap.
    """
    banded = banded_keys(sigs, bands=bands, rows_per_band=rows_per_band)
    if max_bucket_size is not None:
        w = Window.partitionBy("band_id", "band_key")
        banded = (
            banded.withColumn("_bucket_n", F.count("*").over(w))
            .where(F.col("_bucket_n") <= max_bucket_size)
            .drop("_bucket_n")
        )
    # lazy-localCheckpoint before the self-join: Spark inlines an
    # uncached subtree at EVERY reference and plans no ReusedExchange
    # here, so without the cut both join sides re-run the signature
    # kernel (and the cap window) — signing is the dominant cost of
    # this operator at every SCALING.jsonl probe, and it was paid
    # twice per action (measured: the minhash_pairs entry's plan held
    # 2 MapInPandas signing passes).  The checkpointed relation is
    # bounded and narrow (docs x bands key rows, never text); results
    # are unchanged (materialization boundary only).
    banded = banded.localCheckpoint(eager=False)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    candidates: DataFrame | None = None,
    max_shingle_df: int | None = 100_000,
) -> DataFrame:
    """(doc_a, doc_b, jaccard) — exact shingle-set Jaccard similarity.

    Computed via the inverted shingle join (only pairs SHARING a shingle
    are ever materialized — docs with empty intersections never meet),
    then |A∩B| / (|A| + |B| - |A∩B|).  Intersection/union counts are
    integers => cross-engine exact; jaccard is one exact division.
    Pass ``candidates`` (e.g. LSH output) to verify only those pairs.

    ``max_shingle_df`` is the hot-key guard, mirroring the gram space's
    ``max_gram_df_ratio`` (corpus_index): a shingle present in m docs
    contributes m^2/2 join rows, so boilerplate shingles go quadratic
    at corpus scale.  Shingles above the df cap are removed from BOTH
    the intersection join and the per-doc sizes, i.e. the result is
    exact Jaccard over the filtered shingle space (stopword-removal
    semantics, not an underestimate).  ``None`` disables.
    """
    # lazy-localCheckpoint the shingle kernel's output: the relation is
    # referenced up to 5x below (df-cap aggregation, per-doc sizes —
    # itself joined twice — and both intersection-join sides), and
    # Spark re-inlines the uncached kernel subtree at every reference
    # with no exchange reuse (the references hang off DIFFERENT join/
    # aggregation keys, so no shared Exchange exists to reuse).  One
    # disk-backed materialization of the (doc_id, shingle) rows — which
    # the intersection self-join must shuffle anyway — replaces up to
    # 5 tokenize+shingle kernel passes over the corpus text.  Measured
    # at sf0.1: ngram_jaccard_pairs entry 2.12 -> 0.91 s median,
    # fuzzy_contamination 1.18 -> 0.84 s; results unchanged
    # (materialization boundary only; both entries stay hash-green).
    sh = shingle_rows(df, id_col=id_col, text_col=text_col, n=shingle_n).localCheckpoint(
        eager=False
    )
    if max_shingle_df is not None:
        keep = (
            sh.groupBy("sh")
            .agg(F.count("*").alias("_df"))
            .where(F.col("_df") <= max_shingle_df)
            .select("sh")
        )
        sh = sh.join(keep, "sh", "left_semi")
    if candidates is not None:
        # prune the shingle relation to candidate DOCS before the
        # self-join — the pair-level semi below cannot push into the
        # join's sides, so without this the "verify only those pairs"
        # path still paid the full all-pairs intersection join (the
        # fuzzy_contamination candidate-pruning shape).  Per-doc sizes
        # are unaffected: docs are pruned, never their shingles.
        cand_ids = (
            candidates.select(F.col("doc_a").alias("doc_id"))
            .unionByName(candidates.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        sh = sh.join(cand_ids, "doc_id", "left_semi")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    if candidates is not None:
        inter = inter.join(candidates, ["doc_a", "doc_b"], "left_semi")
    out = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))).alias("jaccard"),
        )
    )
    return out.where(F.col("jaccard") >= threshold)


def positioned_shingle_rows(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    kernel: bool = True,
) -> DataFrame:
    """(doc_id, pos, sh) — every word n-gram shingle WITH its 1-based
    token position (NOT distinct: the positional long form that span
    detection needs, vs :func:`shingle_rows`' set form).

    ``kernel=True`` emits the rows from one Arrow pass (same tokenizer
    as the index build); ``kernel=False`` is the expression twin
    (posexplode over the shingle sequence) — set-parity pinned by test.
    """
    if kernel:
        from collections.abc import Iterator

        from beyond_vector_search_spark.functions.kernels import _project, tokens

        src, id_type = _project(df, id_col, F.col(text_col))

        def k(batches: Iterator) -> Iterator:
            import pandas as pd

            for pdf in batches:
                ids, poss, shs = [], [], []
                for doc_id, txt in zip(pdf["doc_id"], pdf["_text"]):
                    toks = tokens(txt)
                    for i in range(len(toks) - n + 1):
                        ids.append(doc_id)
                        poss.append(i + 1)
                        shs.append(" ".join(toks[i : i + n]))
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series(ids, dtype=pdf["doc_id"].dtype),
                        "pos": pd.Series(poss, dtype="int64"),
                        "sh": pd.Series(shs, dtype="object"),
                    }
                )

        return src.mapInPandas(k, f"doc_id {id_type}, pos long, sh string")
    toked = df.select(F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("toks"))
    grams = toked.select(
        "doc_id",
        F.when(F.size("toks") < n, F.array().cast("array<string>"))
        .otherwise(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice("toks", i, n)),
            )
        )
        .alias("shs"),
    )
    return grams.select(
        "doc_id", F.posexplode("shs").alias("p0", "sh")
    ).select("doc_id", (F.col("p0") + 1).cast("long").alias("pos"), "sh")


def duplicate_spans(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_span_tokens: int | None = None,
    max_shingle_df: int | None = 1000,
    kernel: bool = True,
) -> DataFrame:
    """(id_a, id_b, start_a, start_b, span_tokens) — MAXIMAL exact
    duplicated token spans across document pairs: runs of >= 1
    consecutive matching n-token shingles at a constant positional
    offset, reported as the covered token span (run_len + n - 1 tokens
    from each start).  The cross-document core of Lee et al. 2022's
    "Deduplicating Training Data Makes Language Models Better" exact-
    substring pass, re-expressed relationally: where that work builds a
    suffix array, this builds the positional inverted shingle index —
    the shape Spark executes well — and recovers maximal repeated
    substrings (at token granularity, quantized by the shingle width)
    with a gaps-and-islands window instead of suffix-array traversal.

    Plan shape at 100 TB: positioned shingles are a narrow map pass
    (Arrow kernel); the only corpus-sized shuffle is the inverted join
    on the shingle key, bounded by ``max_shingle_df`` (a shingle in m
    docs yields m^2/2 join rows — boilerplate shingles go quadratic, so
    shingles above the df cap are dropped BEFORE the self-join, same
    hot-key guard as :func:`jaccard_pairs`/:func:`lsh_candidate_pairs`);
    the islands window partitions by (pair, offset) — keys whose groups
    are at most one document long, never corpus-sized.

    ``min_span_tokens`` filters the output (default n — every match
    reported); span starts are 1-based token positions.  Deterministic
    end-to-end => DuckDB-oracle-checkable.
    """
    min_span = n if min_span_tokens is None else min_span_tokens
    # lazy-localCheckpoint the positioned-shingle kernel output — same
    # multi-reference recompute as jaccard_pairs (df-cap aggregation +
    # both inverted-join sides each re-inlined the kernel; no shared
    # Exchange to reuse).  Measured at sf0.1: entry median 1.92 ->
    # 1.15 s, rows identical.
    sh = positioned_shingle_rows(
        df, id_col=id_col, text_col=text_col, n=n, kernel=kernel
    ).localCheckpoint(eager=False)
    if max_shingle_df is not None:
        keep = (
            sh.groupBy("sh")
            .agg(F.count_distinct("doc_id").alias("_df"))
            .where(F.col("_df") <= max_shingle_df)
            .select("sh")
        )
        sh = sh.join(keep, "sh", "left_semi")
    a, b = sh.alias("a"), sh.alias("b")
    matches = a.join(
        b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id"))
    ).select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        F.col("a.pos").alias("pos_a"),
        F.col("b.pos").alias("pos_b"),
    )
    # runs of consecutive pos_a at constant offset: within one
    # (id_a, id_b, offset) partition pos_b is determined by pos_a, so
    # row_number over pos_a is duplicate-free and pos_a - row_number is
    # the classic island key
    off = (F.col("pos_a") - F.col("pos_b")).alias("off")
    w = Window.partitionBy("id_a", "id_b", "off").orderBy("pos_a")
    islands = matches.select("id_a", "id_b", "pos_a", "pos_b", off).withColumn(
        "isl", F.col("pos_a") - F.row_number().over(w)
    )
    spans = islands.groupBy("id_a", "id_b", "off", "isl").agg(
        F.min("pos_a").alias("start_a"),
        F.min("pos_b").alias("start_b"),
        (F.count("*") + F.lit(n - 1)).cast("long").alias("span_tokens"),
    )
    return spans.where(F.col("span_tokens") >= min_span).select(
        "id_a", "id_b", "start_a", "start_b", "span_tokens"
    )


def _simhash_kernel(
    df: DataFrame, *, id_col: str, text_col: str, bits: int
) -> DataFrame:
    """Arrow-batched SimHash: tokenize + md5-hash + bit-majority vote in
    numpy, one narrow pass (``mapInPandas``), bit-identical to the
    expression path (integer vote, same 60-bit md5-derived token hash).

    The expression form evaluates ``bits x tokens`` interpreted lambda
    steps per document (~3 ms/doc at bits=60 — measured: 15.6 s for 5k
    docs, the dominant cost of simhash_pairs at every SCALING.jsonl
    probe point); this kernel is the same Pandas-UDF escape hatch the
    index build uses (functions/kernels.py), ~20x faster.  Token hashes
    are memoized per partition, bounded (:func:`_make_tok_hash`).
    """
    from collections.abc import Iterator

    from beyond_vector_search_spark.functions.kernels import _project, tokens

    _check_simhash_bits(bits)
    src, id_type = _project(df, id_col, F.col(text_col))

    def kernel(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        shifts = np.arange(bits, dtype=np.uint64)
        powers = np.uint64(1) << shifts
        tok_hash = _make_tok_hash()

        for pdf in batches:
            ids, fps = [], []
            for doc_id, txt in zip(pdf["doc_id"], pdf["_text"]):
                tokset = set(tokens(txt))
                ids.append(doc_id)
                fps.append(_simhash_fp(tokset, shifts, powers, tok_hash))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype=pdf["doc_id"].dtype),
                    "simhash": pd.Series(fps, dtype="int64"),
                }
            )

    return src.mapInPandas(kernel, f"doc_id {id_type}, simhash long")


def simhash64(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    kernel: bool = True,
) -> DataFrame:
    """(doc_id, simhash) — SimHash over the distinct-token set.

    Per-row, integer-exact, portable: token hash = 60-bit md5-derived
    int; bit j of the fingerprint is 1 iff sum over tokens of
    (2*bit_j(h)-1) is positive.  32 bits keeps the per-row work
    (tokens × bits) cheap while remaining a real near-dup fingerprint.

    ``kernel=True`` (default) computes the identical fingerprints in an
    Arrow numpy kernel (:func:`_simhash_kernel` — the interpreted
    bits×tokens lambda fold is the dominant cost of simhash_pairs);
    ``kernel=False`` is the pure-expression semantic definition, which
    the DuckDB mirror reproduces (same md5 hash, same bit fold).  Tests
    pin the two bit-identical.
    """
    # same validation as doc_signatures — an out-of-range bits must
    # raise, never silently fall back to the ~20x-slower expression
    # fold (or, for bits<1, die later in an opaque sequence() error)
    _check_simhash_bits(bits)
    if kernel:
        return _simhash_kernel(df, id_col=id_col, text_col=text_col, bits=bits)
    hashed = df.select(
        F.col(id_col).alias("doc_id"),
        F.transform(F.array_distinct(tokenize(F.col(text_col))), lambda t: hash64(t)).alias("hs"),
    )
    # SQL lambdas: the shift amount is itself a lambda variable, which the
    # python DSL's shiftright() does not accept — the >> operator in a SQL
    # expression does.  bit j of the fingerprint = majority vote of bit j
    # across token hashes; fingerprint = fold over bits 31..0 of acc*2+bit.
    fingerprint = F.expr(
        f"""aggregate(
              transform(sequence({bits - 1}, 0, -1), j ->
                CASE WHEN aggregate(hs, 0L,
                       (acc, h) -> acc + (CAST((h >> j) & 1 AS BIGINT) * 2 - 1)) > 0
                     THEN 1L ELSE 0L END),
              0L, (acc, bit) -> acc * 2 + bit)"""
    )
    return hashed.select("doc_id", fingerprint.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 60,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """(doc_a, doc_b, hamming) — SimHash near-duplicate pairs via the
    banded hamming join of Manku/Jain/Das Sarma (WWW'07 web dedup).

    Default ``bits=60`` (the full md5-derived hash width) is the
    production setting: 32-bit fingerprints collide heavily past ~10k
    docs and the pair count goes output-quadratic (measured in
    SCALING.jsonl); the oracle catalog entry passes 32 explicitly for
    its small planted corpus.

    The fingerprint's ``bits`` are split into ``bands`` disjoint
    contiguous bit-bands; only documents sharing at least one band key
    are candidates (equi-join on (band_id, band_key) — never an
    all-pairs join), then candidates are verified with the exact
    hamming distance (``bit_count(a XOR b)``).

    **Pigeonhole losslessness**: a pair with hamming <= ``max_hamming``
    differs in at most ``max_hamming`` of the disjoint bands, so with
    ``bands > max_hamming`` at least one band is bit-identical and the
    banding can never miss a qualifying pair — unlike MinHash-LSH this
    blocking is exact, not probabilistic (recall is 1.0 by
    construction; the test suite pins banded == all-pairs).

    ``max_bucket_size`` is the standard hot-bucket guard (see
    :func:`lsh_candidate_pairs`): a band key shared by m docs emits
    m^2/2 candidates, and the all-zeros band of near-empty documents is
    the classic degenerate key.  Capped buckets trade the losslessness
    guarantee inside those buckets only.  ``None`` disables.
    """
    sh = simhash64(df, id_col=id_col, text_col=text_col, bits=bits)
    return hamming_fingerprint_pairs(
        sh,
        id_col="doc_id",
        fp_col="simhash",
        bits=bits,
        bands=bands,
        max_hamming=max_hamming,
        max_bucket_size=max_bucket_size,
    ).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "hamming"
    )


def hamming_fingerprint_pairs(
    fps: DataFrame,
    *,
    id_col: str = "doc_id",
    fp_col: str = "simhash",
    bits: int = 60,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """(id_a, id_b, hamming) — the banded hamming join over ANY integer
    fingerprint relation (id, fingerprint): SimHash text fingerprints,
    perceptual image hashes (multimodal.image_phashes), audio
    fingerprints.  Same pigeonhole losslessness and hot-bucket guard as
    :func:`simhash_pairs` (which delegates here); works for full signed
    64-bit fingerprints too — ``shiftright``'s arithmetic sign-fill
    lands above the band mask, so band keys extract exactly.

    The band join runs over DISTINCT fingerprints, then expands each
    qualifying fingerprint pair back to its id groups.  On a corpus
    with duplicates the candidate volume in id space is quadratic in
    the duplication factor while the distinct-fingerprint volume is
    CONSTANT (measured: 46M id-space candidates vs 1.7M fp-space at a
    4x-duplicated 20k-doc corpus); the id expansion emits exactly the
    result pairs.  Three parts, union-compatible with the id-space
    semantics row for row:

    - intra-fingerprint pairs (hamming 0): the id groups self-paired,
      for fingerprints retaining at least one surviving band bucket;
    - inter-fingerprint pairs: band-bucket self-join over distinct
      fingerprints (fa < fb), hamming verified BEFORE the per-pair
      distinct (hamming is a pure function of the pair), then one
      equi-join per side to expand ids, ordered least/greatest;
    - the hot-bucket cap drops whole (band_id, band_key) buckets whose
      TOTAL id count (sum of group sizes) exceeds the cap — identical
      bucket membership to the id-space formulation, since identical
      fingerprints always share all their buckets.
    """
    if bands <= max_hamming:
        raise ValueError(
            f"bands ({bands}) must exceed max_hamming ({max_hamming}) "
            "for the pigeonhole recall guarantee"
        )
    width = bits // bands
    mask = (1 << width) - 1
    # One explicit exchange on the fingerprint so every consumer below
    # (group sizes, intra self-join, the two expansion joins) hangs off
    # the same hash-partitioned child and the _fp-keyed joins/
    # aggregations reuse the partitioning with no further shuffle of
    # the id relation.
    sh = fps.select(F.col(id_col).alias("_id"), F.col(fp_col).alias("_fp")).repartition(
        "_fp"
    )
    # defensive input hygiene: a repeated (id, fp) row would otherwise
    # double every pair the id participates in (dedups WITHIN the _fp
    # partitioning — no extra exchange)
    #
    # ...and lazy-localCheckpoint the result: the intended ReuseExchange
    # dedupe did NOT hold at runtime — the consumers' differing
    # projections plan distinct exchanges and the (possibly Arrow-
    # kernel) fingerprint lineage re-ran per consumer (r13-opt;
    # measured: simhash_pairs entry 2.23 -> 1.20 s median at sf0.1,
    # rows identical).  The checkpointed relation is two integers per
    # document — negligible at any scale.
    sh = sh.dropDuplicates(["_id", "_fp"]).localCheckpoint(eager=False)
    groups = sh.groupBy("_fp").agg(F.count("*").alias("_gn"))
    banded = groups.select(
        "_fp",
        "_gn",
        F.explode(
            F.expr(
                # shiftright(), not `>>`: the infix form fails to parse
                # inside a struct field alias (same parser quirk
                # simhash64 works around)
                f"transform(sequence(0, {bands - 1}), b -> struct("
                f"b AS band_id, shiftright(_fp, b * {width}) & {mask} AS band_key))"
            )
        ).alias("band"),
    ).select("_fp", "_gn", "band.band_id", "band.band_key")
    if max_bucket_size is not None:
        w = Window.partitionBy("band_id", "band_key")
        banded = (
            banded.withColumn("_bucket_n", F.sum("_gn").over(w))
            .where(F.col("_bucket_n") <= max_bucket_size)
            .drop("_bucket_n")
        )
    surviving = banded.select("_fp").distinct()
    intra = (
        sh.alias("x")
        .join(sh.alias("y"), (F.col("x._fp") == F.col("y._fp")) & (F.col("x._id") < F.col("y._id")))
        .join(surviving.withColumnRenamed("_fp", "_sfp"), F.col("x._fp") == F.col("_sfp"), "left_semi")
        .select(
            F.col("x._id").alias("id_a"),
            F.col("y._id").alias("id_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    a, b = banded.alias("a"), banded.alias("b")
    fp_pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a._fp") < F.col("b._fp")),
        )
        .select(
            F.col("a._fp").alias("_fa"),
            F.col("b._fp").alias("_fb"),
            F.bit_count(F.col("a._fp").bitwiseXOR(F.col("b._fp")))
            .cast("int")
            .alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()  # a fingerprint pair may share several bands
    )
    inter = (
        fp_pairs.join(
            sh.select(F.col("_id").alias("_ida"), F.col("_fp").alias("_fa")), "_fa"
        )
        .join(sh.select(F.col("_id").alias("_idb"), F.col("_fp").alias("_fb")), "_fb")
        # an id carrying TWO fingerprints within max_hamming of each
        # other would expand to a degenerate self-pair — excluded, as
        # the id-space formulation's a._id < b._id predicate did
        .where(F.col("_ida") != F.col("_idb"))
        .select(
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
            "hamming",
        )
    )
    return intra.unionByName(inter)


def line_dedup(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 5,
    sep: str = "\n",
    join_sep: str | None = None,
) -> DataFrame:
    """(doc_id, n_lines, n_kept, clean_text) — corpus-wide LINE-level
    exact dedup (the RefinedWeb/C4-style boilerplate pass): every line
    whose trimmed value already occurred earlier in the corpus — by
    (doc_id, line position) order — is dropped; each document's
    ``clean_text`` is its surviving lines re-joined in original order.
    Lines whose trimmed length is under ``min_len`` are exempt (blank
    lines and short separators are structure, not boilerplate).

    Shape: posexplode lines (narrow), ONE window partitioned by the
    trimmed line VALUE (the same hash-partitioned min-window as
    :func:`exact_dedup_map` — no global ordering), then one groupBy to
    reassemble.  Deterministic: the keeper of each duplicated line is
    the globally smallest (doc_id, position).

    ``sep`` is a regex for ``split`` (a Java-regex literal for plain
    separators); ``join_sep`` is the LITERAL string clean_text re-joins
    with, defaulting to ``sep``.  For PARAGRAPH-level dedup pass a
    regex split with a literal joiner — e.g.
    ``sep="\\n{2,}", join_sep="\\n\\n", min_len=40`` — otherwise the
    regex itself would be inserted between surviving units.
    """
    join_sep = sep if join_sep is None else join_sep
    lines = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("line_no", "line"),
    ).withColumn("_t", F.trim("line"))
    # exempt lines (blank/short) bypass the window entirely: they keep
    # unconditionally, and routing them through the value-partitioned
    # window would funnel every blank line in the corpus into ONE
    # degenerate _t='' partition — a billion-row straggler sort whose
    # row_number nobody reads.  Values are identical either way: equal
    # _t implies equal length, so no exempt line ever shares a
    # partition with a window-decided one.
    exempt = F.length("_t") < min_len
    windowed = lines.where(~exempt)
    w = Window.partitionBy("_t").orderBy("doc_id", "line_no")
    flagged = (
        windowed.withColumn("_keep", F.row_number().over(w) == 1)
        .unionByName(lines.where(exempt).withColumn("_keep", F.lit(True)))
    )
    kept_lines = F.array_sort(
        F.collect_list(F.when(F.col("_keep"), F.struct("line_no", "line")))
    )
    return flagged.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum(F.col("_keep").cast("long")).alias("n_kept"),
        F.array_join(
            F.transform(kept_lines, lambda s: s.getField("line")), join_sep
        ).alias("clean_text"),
    )


def connected_components(
    pairs: DataFrame,
    *,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) — connected components of the near-dup pair
    graph; component = min node id reachable.  THE dedup-clustering
    primitive: LSH emits pairwise matches, but "keep one doc per
    duplicate CLUSTER" needs the transitive closure of those pairs.

    Iterative min-label propagation as DataFrame dataflow: each round
    every node adopts the smallest label among itself and its
    neighbors; converged when no label changes.  Rounds are bounded by
    the cluster diameter — near-dup clusters are dense and shallow
    (2-4 rounds in practice); for adversarially long chains switch to
    the large-star/small-star formulation ("Connected Components in
    MapReduce and Beyond", Kiveris et al., SOCC'14 — public), which
    converges in O(log n) rounds with the same join+agg shape.

    Scale notes:
    - ``localCheckpoint(eager)`` per round truncates the exponentially
      growing lineage (on a cluster: checkpoint to reliable storage).
    - The per-round cost is one broadcast-or-shuffle join (edges x
      labels) + one groupBy(node) min — both partial-agg friendly.
    - The convergence probe is an aggregated count, never collected
      data.

    Not expressible in one SQL statement on Spark (no recursive CTE
    fixpoint over aggregates) — the DuckDB oracle uses a recursive
    reachability CTE instead.
    """
    # undirected: both directions, plus self-loops so isolated partners
    # keep their own label
    edges = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(pairs.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("component"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.v == labels.node)
            .select(F.col("u").alias("node"), "component")
        )
        hop = (
            labels.unionByName(neighbor_min)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        # shortcut (pointer doubling): relabel by the component's OWN
        # current label — every label is a node id present in the
        # label table, so one extra join doubles the propagation
        # distance per round and convergence is O(log diameter)
        # rounds instead of O(diameter).  A 1M-doc boilerplate chain
        # converges in ~20 rounds; pure one-hop min propagation would
        # need 1M (and the max_iter guard below would fire).
        roots = hop.select(
            F.col("node").alias("component"), F.col("component").alias("_root")
        )
        new_labels = (
            hop.join(roots, "component", "left")
            .select("node", F.coalesce("_root", "component").alias("component"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where("n.component <> o.component")
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # exhausting max_iter without a fixed point means distant
        # nodes still carry non-minimal labels — one true cluster
        # would be reported as several, each electing its own
        # canonical, so duplicates would SILENTLY survive.  Fail loud.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            f"rounds ({changed} labels still changing) — the graph "
            "has a longer chain than max_iter; raise max_iter"
        )
    return labels


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """(doc_id, cluster_id, is_canonical) — every document labeled with
    its duplicate cluster (singletons cluster with themselves); keep
    ``is_canonical`` rows for the deduplicated corpus."""
    comps = connected_components(pairs, src=src, dst=dst)
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(comps, F.col("doc_id") == F.col("node"), "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("cluster_id"),
        )
        .withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))
    )


def cluster_canonicals(
    clusters: DataFrame,
    scores: DataFrame,
    *,
    score_col: str = "score",
    score_decimals: int = 6,
) -> DataFrame:
    """(doc_id, cluster_id, is_canonical) — re-elect each duplicate
    cluster's canonical as its highest-SCORING member instead of
    :func:`dedup_clusters`' smallest id: quality-aware dedup, the form
    production pipelines actually run ("of these near-duplicates, keep
    the best one") with any per-doc quality signal — NB log-odds
    (pretrain.nb_quality_scores), DSIR weights, PageRank centrality.

    ``scores``: (doc_id, score) relation; members missing from it rank
    below every scored member (a cluster with no scores at all falls
    back to id order, so every cluster still elects exactly one
    canonical).  Ranking uses (rounded score DESC, doc_id ASC) — the
    catalog's cross-engine rule.  The window partitions by cluster_id:
    work is bounded by cluster size, never corpus-global.
    """
    sc = scores.select(
        "doc_id", F.col(score_col).cast("double").alias("_score")
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc_nulls_last(F.round(F.col("_score"), score_decimals)),
        F.asc("doc_id"),
    )
    return (
        clusters.select("doc_id", "cluster_id")
        .join(sc, "doc_id", "left")
        .withColumn("is_canonical", F.row_number().over(w) == 1)
        .drop("_score")
    )
