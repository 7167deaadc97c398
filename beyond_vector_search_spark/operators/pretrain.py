"""Pretraining-corpus preparation operators: decontamination, PII
scrubbing, repetition-based quality flags, sequence packing, and
deterministic sharding.

These are the steps a large-scale LLM training-data pipeline runs
between raw text and tokenized shards (the public recipes: C4, Gopher
Rae et al. 2021 appendix A, RefinedWeb, Dolma).  The reference engine
(mick2004/beyond-vector-search) stops at retrieval; these extend the
same corpus model (id + text) to corpus curation, all as JVM-side
DataFrame plans:

- decontamination: token-n-gram overlap against a benchmark set — the
  standard "13-gram collision" check, benchmark side broadcast;
- PII scrub: regex count + redact inside whole-stage codegen;
- repetition flags: Gopher-style top-word / top-bigram fractions —
  per-document integer aggregates from one zero-exchange Arrow pass
  (the explode + partial-aggregation expression form stays as the
  semantic definition);
- sequence packing: contiguous greedy packing per deterministic hash
  shard (a partitioned-window cumsum — never a global window);
- sharding: portable-hash shard assignment + partitioned parquet write.

No row-at-a-time Python anywhere — the only Python boundaries are
Arrow-batched kernels (the corpus_index kernel rules); every ratio is a
per-row division of exact integer aggregates, so results are
engine-portable (the DuckDB oracles in plans/pretrain_queries.py
hash-match) and path-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from beyond_vector_search_spark.functions.hashing import hash64
from beyond_vector_search_spark.functions.text import tokenize

# Redaction patterns: Java regex (Spark) and RE2 (DuckDB) agree on this
# subset (character classes, bounded repetition, \b, \d — no
# backreferences or lookaround).
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b\d{2}-\d{3}-\d{3}-\d{4}\b"  # TPC-H c_phone shape
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def benchmark_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    corpus_shingles: DataFrame | None = None,
    bench_shingles: DataFrame | None = None,
    broadcast_set: bool = False,
) -> DataFrame:
    """(doc_id, n_shared) — corpus documents sharing at least one token
    ``n``-gram with any benchmark document.

    The standard pre-training decontamination check (GPT-3 appendix C /
    Gopher appendix A use 13-gram collisions; ``n`` is a knob).  Shape:

        benchmark shingles ──distinct──> broadcast   (eval sets are
        corpus shingles    ──explode──┐               small by
                                      ⋈ (map-side)    definition)
                                      groupBy(doc_id) count

    The corpus side is touched exactly once, map-side only — no
    shuffle of corpus text; the only exchange is the final per-doc
    count (already partially aggregated).  If the benchmark outgrows
    the broadcast threshold, Catalyst falls back to a hashed join
    keyed on the shingle — still never wider than the collision set.

    ``corpus_shingles`` / ``bench_shingles`` accept a precomputed
    (doc_id, sh) relation for their side (the shared-signature
    pattern: a pipeline that also runs dedup/fuzzy passes has usually
    shingled the corpus already — reusing it makes this check free of
    its own text scan).  Must contain each document's DISTINCT
    ``n``-gram shingles, i.e. :func:`dedup.shingle_rows` rows.

    ``broadcast_set=True`` (requires corpus TEXT, i.e. no
    ``corpus_shingles``) shingles the benchmark ON THE DRIVER (one
    bounded collect of benchmark text — or of ``bench_shingles`` rows
    when supplied) and counts collisions INSIDE one Arrow pass over
    the corpus text — the §8 "move a lightweight proxy" shape: the
    corpus's shingle stream never leaves the Python worker (only the
    per-doc collision counts do), removing the bench-side kernel job,
    the join, and the final count exchange outright.  Value-identical
    to the join form (same ``_shingle_set`` per doc, same
    distinct-intersection count; pinned by test).  Sized by the
    benchmark (eval sets are small by definition — a few MB of strings
    even at GPT-3's 13-gram sweep); for a benchmark too big to collect
    and hold per worker, keep the join form.  Measured at sf0.1
    (interleaved A/B, 6 pairs, shared-host noise band): entry-shaped
    medians 2.4 s (cached-join form) -> 0.86 s.
    """
    from beyond_vector_search_spark.operators.dedup import shingle_rows

    def shingles(df: DataFrame) -> DataFrame:
        # Arrow shingle kernel (dedup.shingle_rows) — same rows as the
        # explode(word_shingles_from_tokens(...)) expression chain
        return shingle_rows(df, id_col=id_col, text_col=text_col, n=n)

    if broadcast_set:
        if corpus_shingles is not None:
            raise ValueError(
                "broadcast_set counts shingles inside the corpus text kernel; "
                "pass the corpus as text (corpus_shingles=None) or use the join form"
            )
        from beyond_vector_search_spark.functions.kernels import doc_kernel, tokens
        from beyond_vector_search_spark.operators.dedup import _shingle_set

        if bench_shingles is not None:
            bench_set = frozenset(
                r["sh"] for r in bench_shingles.select("sh").distinct().collect()
            )
        else:
            # driver-side shingling: same tokenizer + _shingle_set as
            # the kernel path, over one collect of the (small) eval set
            bench_set = set()
            for r in benchmark.select(F.col(text_col).alias("_text")).collect():
                toks = tokens(r["_text"])
                bench_set |= _shingle_set(toks, n)
            bench_set = frozenset(bench_set)
        bc = corpus.sparkSession.sparkContext.broadcast(bench_set)

        def make():
            bset = bc.value

            def shared(txt):
                c = len(_shingle_set(tokens(txt), n) & bset)
                return ([c],) if c else ((),)

            return shared

        return doc_kernel(corpus, make, "n_shared long", id_col=id_col, text=text_col)
    bench_sh = (
        bench_shingles if bench_shingles is not None else shingles(benchmark)
    ).select("sh").distinct()
    corpus_sh = (
        corpus_shingles if corpus_shingles is not None else shingles(corpus)
    )
    return (
        corpus_sh.join(F.broadcast(bench_sh), "sh")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_shared"))
    )


def pii_scrub(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, n_emails, n_phones, n_ips, clean_text) — count and redact
    the classic PII regex families (emails, dashed phone numbers,
    IPv4 addresses), the C4/Dolma-style scrub pass.

    Pure ``regexp_count``/``regexp_replace`` expressions — whole-stage
    codegen, one narrow map over the corpus, embarrassingly parallel at
    any scale.  Emails are replaced first so their domains can never be
    re-matched by the looser patterns.

    Counts are taken SEQUENTIALLY on the same intermediate strings the
    redaction cascade produces (phones counted on the email-redacted
    text, IPs on the phone-redacted text), so each count equals the
    number of that family's tokens actually present in ``clean_text``
    — an audit reconciling counts against redactions always balances.
    Counting every family on the raw text would disagree whenever
    patterns overlap ('1.2.3.4@example.com' is one <EMAIL>, zero <IP>).
    """
    text = F.col(text_col)
    after_email = F.regexp_replace(text, F.lit(EMAIL_RE), F.lit("<EMAIL>"))
    after_phone = F.regexp_replace(after_email, F.lit(PHONE_RE), F.lit("<PHONE>"))
    clean = F.regexp_replace(after_phone, F.lit(IPV4_RE), F.lit("<IP>"))
    return df.select(
        F.col(id_col),
        F.regexp_count(text, F.lit(EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(after_email, F.lit(PHONE_RE)).cast("long").alias("n_phones"),
        F.regexp_count(after_phone, F.lit(IPV4_RE)).cast("long").alias("n_ips"),
        clean.alias("clean_text"),
    )


def repetition_flags(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_word_threshold: float = 0.20,
    top_bigram_threshold: float = 0.18,
    kernel: bool = True,
) -> DataFrame:
    """Gopher-style repetition quality signals per document (Rae et al.
    2021, appendix A quality heuristics):

    (doc_id, n_tokens, distinct_ratio, top_word_frac, top_bigram_frac,
     mean_word_len, flag_repetitive)

    - top_word_frac / top_bigram_frac: fraction of the doc occupied by
      its most frequent token / token bigram;
    - flag_repetitive: either fraction over its threshold (Gopher drops
      docs whose top 2-gram exceeds 0.18 of the text).

    Every statistic is PER-DOCUMENT, so none of them needs to leave
    the row.  ``kernel=True`` (default) computes the six integer
    aggregates in one Arrow pass (tokenize + two ``Counter``s per doc)
    — a narrow map with ZERO exchanges: the corpus's exploded token
    stream never shuffles, where the expression path ships every
    (doc, gram) row through two aggregation exchanges and a join.
    Measured at sf0.1 (5k docs): 1.1 s -> 0.5 s; at 100 TB the win is
    the removed corpus-token-scale shuffles, not the constant.
    ``kernel=False`` keeps the original explode + partial-aggregation
    plan (the semantic definition the DuckDB oracle mirrors; row- and
    value-identical to the kernel — pinned by test).

    Ratios are divisions of exact integer sums, so they are
    bit-identical across engines, partitionings and paths (rounded to
    6 only as presentation).
    """
    if kernel:
        stats = _repetition_stats_kernel(df, id_col=id_col, text_col=text_col)
        top_word = F.round(F.col("max_tf") / F.col("n_tokens"), 6)
        top_bigram = F.round(
            F.coalesce(
                F.col("max_bi").cast("double") / F.nullif(F.col("total_bi"), F.lit(0)),
                F.lit(0.0),
            ),
            6,
        )
        return stats.select(
            "doc_id",
            "n_tokens",
            F.round(F.col("n_distinct") / F.col("n_tokens"), 6).alias("distinct_ratio"),
            top_word.alias("top_word_frac"),
            top_bigram.alias("top_bigram_frac"),
            F.round(F.col("sum_len") / F.col("n_tokens"), 6).alias("mean_word_len"),
            (
                (top_word > top_word_threshold) | (top_bigram > top_bigram_threshold)
            ).alias("flag_repetitive"),
        )
    toked = df.select(F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("toks"))

    wtf = (
        toked.select("doc_id", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    wagg = wtf.groupBy("doc_id").agg(
        F.sum("tf").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_distinct"),
        F.max("tf").cast("long").alias("max_tf"),
        F.sum(F.length("term") * F.col("tf")).cast("long").alias("sum_len"),
    )

    # non-distinct bigrams (frequency matters — word_shingles_from_tokens
    # dedups, so build them inline; toks is a projected column, keeping
    # the tokenize regex out of the per-gram lambda)
    bigrams = _bigram_array("toks")
    btf = (
        toked.select("doc_id", F.explode(bigrams).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count("*").alias("tf"))
    )
    bagg = btf.groupBy("doc_id").agg(
        F.sum("tf").cast("long").alias("total_bi"),
        F.max("tf").cast("long").alias("max_bi"),
    )

    top_word = F.round(F.col("max_tf") / F.col("n_tokens"), 6)
    top_bigram = F.round(
        F.coalesce(F.col("max_bi") / F.col("total_bi"), F.lit(0.0)), 6
    )
    return (
        wagg.join(bagg, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.round(F.col("n_distinct") / F.col("n_tokens"), 6).alias("distinct_ratio"),
            top_word.alias("top_word_frac"),
            top_bigram.alias("top_bigram_frac"),
            F.round(F.col("sum_len") / F.col("n_tokens"), 6).alias("mean_word_len"),
            # compare the ROUNDED fractions so both engines flag
            # identically at threshold boundaries
            (
                (top_word > top_word_threshold) | (top_bigram > top_bigram_threshold)
            ).alias("flag_repetitive"),
        )
    )


def _repetition_stats_kernel(
    df: DataFrame, *, id_col: str, text_col: str
) -> DataFrame:
    """(doc_id, n_tokens, n_distinct, max_tf, sum_len, total_bi, max_bi)
    — the six per-document integer aggregates repetition_flags derives
    its ratios from, in one Arrow pass (same tokenizer as the
    expression path: kernels.tokens; bigrams are the
    non-distinct ``' '``-joined adjacent pairs of _bigram_array).
    Token-less documents emit nothing — exactly the rows the explode
    path loses (no (doc, gram) row means no aggregate group)."""
    from collections import Counter

    from beyond_vector_search_spark.functions.kernels import doc_kernel, tokens

    def stats(txt):
        toks = tokens(txt)
        n = len(toks)
        if n == 0:
            return ((),)
        wc = Counter(toks)
        bc = Counter(toks[i] + " " + toks[i + 1] for i in range(n - 1))
        return (
            [n],
            [len(wc)],
            [max(wc.values())],
            [sum(map(len, toks))],
            [n - 1],
            [max(bc.values()) if bc else 0],
        )

    return doc_kernel(
        df,
        lambda: stats,
        "n_tokens long, n_distinct long, max_tf long, sum_len long, total_bi long, max_bi long",
        id_col=id_col,
        text=text_col,
    )


def _toked(
    df: DataFrame, tokens: DataFrame | None, *, id_col: str, text_col: str
) -> DataFrame:
    """(doc_id, toks) — tokenize ``df``, or validate and pass through a
    pre-tokenized relation (the persisted-tokens path).  Accepts the
    token column as either ``tokens`` (corpus_index.doc_tokens' output)
    or ``toks``."""
    if tokens is None:
        return df.select(
            F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("toks")
        )
    cols = set(tokens.columns)
    tok_src = "tokens" if "tokens" in cols else "toks"
    if tok_src not in cols:
        raise ValueError(
            f"tokens relation must have a 'tokens' (or 'toks') column, got {sorted(cols)}"
        )
    id_src = "doc_id" if "doc_id" in cols else id_col
    if id_src not in cols:
        raise ValueError(
            f"tokens relation must carry the document id ('doc_id' or {id_col!r})"
        )
    return tokens.select(F.col(id_src).alias("doc_id"), F.col(tok_src).alias("toks"))


def _keep(cache: bool | None):
    """Materialization policy for a twice-plus-consumed relation.

    ``True`` → ``.cache()`` (memory/disk blocks, reconstructible from
    lineage on executor loss).  ``False`` (default) → lazy
    ``localCheckpoint`` — cheaper than cache for write-once/read-few
    because it skips the storage-level bookkeeping, BUT checkpoint
    blocks are NOT reconstructible: losing an executor (or having one
    reclaimed by dynamic allocation) fails the job instead of
    recomputing.  On a dynamic-allocation or preemptible cluster pass
    ``None`` — fully lazy, each consumer recomputes the relation from
    source (the pre-r9 behavior) — or, better at scale, persist the
    relation to parquet once and pass it back in via the ``tokens=`` /
    ``raw_tokens=`` parameters (the IndexDelta pattern)."""
    if cache is None:
        return lambda d: d
    if cache:
        return lambda d: d.cache()
    return lambda d: d.localCheckpoint(eager=False)


def _bigram_array(toks_col: str):
    """NON-DISTINCT word-bigram array from a token-array column — the
    one definition repetition_flags / bigram_logppl / dsir_logweights
    share (frequency matters, so word_shingles_from_tokens' dedup form
    cannot be used; the cross-function count reuse and the DuckDB
    oracles depend on all three building bigrams identically)."""
    return F.when(
        F.size(toks_col) < 2, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(toks_col) - 1),
            lambda i: F.concat_ws(" ", F.slice(toks_col, i, 2)),
        )
    )


def unigram_logppl(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    cache: bool | None = False,
    tokens: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, n_tokens, logppl) — per-document unigram log-perplexity
    under the corpus's own unigram distribution:

        logppl(d) = Σ_t tf_d(t) · −ln( ctf(t) / N ) / |d|

    The CCNet-style LM-quality signal (Wenzek et al. 2020 use a KenLM
    5-gram; the unigram form is the same shape with the LM replaced by
    corpus term frequencies): low = docs made of common words, high =
    rare-token-heavy docs — used as a quality bucket for filtering or
    mixture weighting.

    Shape: one explode into (doc, term, tf) partial aggregation; the
    term-probability table is a term-keyed aggregate joined back on
    term (co-partitioned with its own shuffle; broadcast while the
    vocabulary is small); the per-doc rollup is a partial agg.  Every
    input to the float sum is exact (integer tf × ln of an exact
    ratio); the cross-row float aggregation is rounded to 6 decimals,
    the catalog's determinism rule.

    ``tokens``: optional pre-tokenized (doc_id, toks ARRAY<STRING>)
    relation — see :func:`bigram_logppl` for the contract.  ``cache``:
    materialization policy for the twice-consumed tf relation — see
    :func:`_keep` for the localCheckpoint reliability tradeoff.
    """
    toked = _toked(df, tokens, id_col=id_col, text_col=text_col)
    wtf = _keep(cache)(
        toked.select("doc_id", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        # two consumers (term counts + the final join) — materialize so
        # the corpus is tokenized once, not once per consumer
    )
    ctf = wtf.groupBy("term").agg(F.sum("tf").alias("ctf"))
    n = ctf.agg(F.sum("ctf").alias("n"))
    probs = ctf.crossJoin(F.broadcast(n)).select(
        "term", (F.col("ctf") / F.col("n")).alias("p")
    )
    return (
        wtf.join(probs, "term")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.round(
                F.sum(F.col("tf") * -F.log("p")) / F.sum("tf"), 6
            ).alias("logppl"),
        )
    )


def chunk_documents(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """(doc_id, chunk_id, start, n_chunk_tokens, chunk_text) — fixed-size
    token-window chunking with overlap, the standard RAG/embedding
    preprocessing step (split long documents into ``size``-token windows
    that slide by ``size - overlap``).

    Chunk rule (identical in the DuckDB oracle): windows start at token
    offsets 0, stride, 2·stride, … while ``offset + overlap < n`` — so
    every emitted chunk contributes at least one token not covered by
    the previous chunk, and a document shorter than one window yields
    exactly one chunk.  Empty documents yield none.  ``chunk_id`` is
    ``offset / stride`` (deterministic, gap-free).

    Scale shape: pure per-row expressions — ``sequence`` for the offset
    list, ``posexplode`` + ``slice`` for the windows.  Narrow (no
    shuffle at all); output rows ≈ corpus tokens / stride, exactly the
    fan-out any downstream embedding job must pay anyway.
    """
    if overlap >= size:
        raise ValueError(f"overlap ({overlap}) must be < size ({size})")
    stride = size - overlap
    toked = df.select(
        F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("toks")
    ).withColumn("n", F.size("toks")).where(F.col("n") > 0)
    offsets = F.sequence(
        F.lit(0), F.greatest(F.col("n") - overlap, F.lit(1)) - 1, F.lit(stride)
    )
    exploded = toked.select("doc_id", "toks", F.explode(offsets).alias("off"))
    chunk = F.slice("toks", F.col("off") + 1, size)
    return exploded.select(
        "doc_id",
        (F.col("off") / stride).cast("long").alias("chunk_id"),
        F.col("off").cast("long").alias("start"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


# The Gopher quality-filter stopword list (Rae et al. 2021 appendix A:
# "the, be, to, of, and, that, have, with").
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.10,
    min_alpha_word_frac: float = 0.80,
    min_stopwords: int = 2,
) -> DataFrame:
    """Per-document Gopher quality-filter metrics and flags (Rae et al.
    2021, appendix A — the rule set C4/MassiveText-style pipelines run):

    (doc_id, n_words, mean_word_len, symbol_ratio, alpha_word_frac,
     n_stopwords, flag_word_count, flag_word_len, flag_symbol,
     flag_alpha, flag_stopwords, keep)

    - word count within [min_words, max_words];
    - mean word length within [3, 10];
    - symbol-to-word ratio (``#`` and ``...`` occurrences) ≤ 0.1;
    - ≥ 80% of words contain at least one alphabetic character;
    - at least 2 of the 8 Gopher stopwords present.

    ``keep`` = all five rules pass.  Thresholds are knobs with the
    paper's defaults.  All metrics are per-row expressions over one
    tokenize — whole-stage codegen, zero shuffles, and every ratio is
    a division of exact integer counts (rounded to 6 for presentation
    only), so the DuckDB oracle hash-matches.
    """
    text = F.col(text_col)
    toks = tokenize(text)
    # whitespace words (the unit of the word-level rules — tokenization
    # would split 'e.g.' into letters-only pieces and hide the symbols)
    words = F.filter(F.split(F.trim(text), r"\s+"), lambda w: w != "")
    n_words = F.size(words)
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    sum_len = F.aggregate(
        words, F.lit(0), lambda acc, w: acc + F.length(w)
    )
    n_hash = F.regexp_count(text, F.lit("#"))
    n_ellip = F.regexp_count(text, F.lit(r"\.\.\."))
    stop_arr = F.array([F.lit(s) for s in GOPHER_STOPWORDS])
    n_stop = F.size(F.array_intersect(F.array_distinct(toks), stop_arr))

    mean_len = F.round(sum_len / n_words, 6)
    sym_ratio = F.round((n_hash + n_ellip) / n_words, 6)
    alpha_frac = F.round(alpha_words / n_words, 6)

    base = df.select(
        F.col(id_col).alias("doc_id"),
        n_words.cast("long").alias("n_words"),
        F.coalesce(mean_len, F.lit(0.0)).alias("mean_word_len"),
        F.coalesce(sym_ratio, F.lit(0.0)).alias("symbol_ratio"),
        F.coalesce(alpha_frac, F.lit(0.0)).alias("alpha_word_frac"),
        n_stop.cast("long").alias("n_stopwords"),
    )
    flags = base.select(
        "*",
        ((F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)).alias(
            "flag_word_count"
        ),
        (
            (F.col("mean_word_len") >= min_mean_word_len)
            & (F.col("mean_word_len") <= max_mean_word_len)
        ).alias("flag_word_len"),
        (F.col("symbol_ratio") <= max_symbol_ratio).alias("flag_symbol"),
        (F.col("alpha_word_frac") >= min_alpha_word_frac).alias("flag_alpha"),
        (F.col("n_stopwords") >= min_stopwords).alias("flag_stopwords"),
    )
    return flags.select(
        "*",
        (
            F.col("flag_word_count")
            & F.col("flag_word_len")
            & F.col("flag_symbol")
            & F.col("flag_alpha")
            & F.col("flag_stopwords")
        ).alias("keep"),
    )


def bigram_logppl(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = 0.9,
    cache: bool | None = False,
    tokens: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, n_bigrams, logppl2) — per-document log-perplexity under
    an interpolated corpus BIGRAM model:

        p(w2 | w1) = lam · c(w1 w2)/c(w1)  +  (1−lam) · c(w2)/N

    the Jelinek-Mercer-smoothed 2-gram counterpart of
    :func:`unigram_logppl` (CCNet uses a KenLM 5-gram; the 2-gram form
    is the same filtering signal built from corpus counts alone).
    Documents with fewer than 2 tokens have no bigrams and are absent.

    ``c(·)`` are corpus-wide token counts (c(w1) is the plain unigram
    count — the final token of each document is still counted, a
    deliberate simplification that keeps every input an exact integer).

    Shape: ONE fused explode emits both n-gram grains as (kind, gram)
    rows and ONE aggregation produces the combined per-doc tf relation
    — the corpus text is scanned and tokenized exactly once.  btf/wtf
    are narrow ``kind`` filters over that relation, which is materialized
    (lazy localCheckpoint; ``cache=True`` uses .cache() instead) so
    its four consumers — corpus bigram counts, unigram counts, and the
    final per-doc join — read the aggregated blocks, never the text.
    All joins are keyed on the n-gram — co-partitioned with their own
    aggregation shuffles, broadcast while vocabularies are small.  The
    cross-row float sum is rounded to 6 (catalog determinism rule).
    At cluster scale, materialize the tf relation to parquet instead
    (the IndexDelta pattern).

    ``tokens``: optional pre-tokenized (doc_id, toks ARRAY<STRING>)
    relation (``corpus_index.doc_tokens`` persisted to parquet is the
    canonical producer).  When supplied, the DOCUMENT TEXT IS NEVER
    SCANNED — every derivation reads the tokens relation, which is the
    incremental 100 TB form: tokenize once at ingest, run every LM
    scoring pass (this, :func:`unigram_logppl`,
    :func:`dsir_logweights`) off the persisted tokens.  ``df`` is
    ignored for derivation when ``tokens`` is given.

    ``cache``: materialization policy for the twice-plus-consumed tf
    relation — ``cache=None`` keeps the plan fully lazy (recompute per
    consumer; survives executor loss / dynamic allocation, which the
    default localCheckpoint does not — see :func:`_keep`).
    """
    keep = _keep(cache)
    toked = _toked(df, tokens, id_col=id_col, text_col=text_col)
    bigrams = _bigram_array("toks")
    # fused single pass: both grains tagged (kind, gram) from one
    # explode, counted by one aggregation — exactly the rows the two
    # separate explode+agg passes produced, minus one corpus scan
    both = F.concat(
        F.transform(
            F.col("toks"),
            lambda t: F.struct(F.lit("t").alias("kind"), t.alias("gram")),
        ),
        F.transform(
            bigrams,
            lambda b: F.struct(F.lit("b").alias("kind"), b.alias("gram")),
        ),
    )
    tf_all = keep(
        toked.select("doc_id", F.explode(both).alias("g"))
        .select("doc_id", F.col("g.kind").alias("kind"), F.col("g.gram").alias("gram"))
        .groupBy("doc_id", "kind", "gram")
        .agg(F.count("*").alias("tf"))
    )
    btf = tf_all.where(F.col("kind") == "b").select(
        "doc_id", F.col("gram").alias("bg"), "tf"
    )
    wtf = tf_all.where(F.col("kind") == "t").select(
        "doc_id", F.col("gram").alias("term"), "tf"
    )
    cbg = btf.groupBy("bg").agg(F.sum("tf").alias("cbg"))
    ctf = wtf.groupBy("term").agg(F.sum("tf").alias("ctf"))
    n = ctf.agg(F.sum("ctf").alias("n"))
    probs = (
        cbg.withColumn("w1", F.substring_index("bg", " ", 1))
        .withColumn("w2", F.substring_index("bg", " ", -1))
        .join(ctf.select(F.col("term").alias("w1"), F.col("ctf").alias("c1")), "w1")
        .join(ctf.select(F.col("term").alias("w2"), F.col("ctf").alias("c2")), "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "bg",
            (
                lam * (F.col("cbg") / F.col("c1"))
                + (1.0 - lam) * (F.col("c2") / F.col("n"))
            ).alias("p"),
        )
    )
    return (
        btf.join(probs, "bg")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_bigrams"),
            F.round(F.sum(F.col("tf") * -F.log("p")) / F.sum("tf"), 6).alias("logppl2"),
        )
    )


def dsir_logweights(
    raw: DataFrame,
    target: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
    alpha: float = 1.0,
    cache: bool | None = False,
    raw_tokens: DataFrame | None = None,
    target_tokens: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, n_feats, logw) — DSIR importance weights (Xie et al.
    2023, Data Selection via Importance Resampling): score every RAW
    document by how much more likely its hashed-bigram features are
    under the TARGET distribution than under the raw distribution:

        logw(x) = Σ over bigram occurrences f of
                  ln p_target(bucket(f)) − ln p_raw(bucket(f))

    with add-``alpha`` smoothing over the ``n_buckets`` hashed
    vocabulary (p(b) = (c(b) + α) / (N + α·B)).  High-logw documents
    look like the target domain; resampling proportional to exp(logw)
    is the DSIR selection step (combine with
    :func:`scale.mixture_sample`-style deterministic hashing for a
    reproducible draw).

    Feature hashing uses the portable md5-derived
    :func:`functions.hashing.hash64` mod ``n_buckets``, so the DuckDB
    oracle reproduces bucket assignment byte-for-byte.

    Shape: bucket counts are partial aggregations bounded by
    ``n_buckets`` rows (broadcast); the log-ratio table joins the raw
    occurrences map-side and the per-doc sum is one partial agg.  The
    target side is an eval-set / domain sample — small by definition,
    like the decontamination benchmark.  Both bigram-row relations are
    materialized (lazy localCheckpoint; ``cache=True`` uses .cache();
    ``cache=None`` stays fully lazy — see :func:`_keep` for the
    executor-loss tradeoff) so each side's text is scanned and hashed
    exactly once even though the raw rows feed two consumers (bucket
    counts + the final join); at cluster scale the bucket-row
    relations would be materialized parquet (IndexDelta pattern).

    ``raw_tokens`` / ``target_tokens``: optional pre-tokenized
    (doc_id, toks) relations — when supplied, that side's text is
    never scanned (see :func:`bigram_logppl`).
    """
    def bigram_rows(df: DataFrame, tokens: DataFrame | None = None) -> DataFrame:
        toked = _toked(df, tokens, id_col=id_col, text_col=text_col)
        bigrams = _bigram_array("toks")
        return toked.select("doc_id", F.explode(bigrams).alias("bg")).select(
            "doc_id", F.pmod(hash64("bg"), F.lit(n_buckets)).alias("bucket")
        )

    # materialization policy per _keep — cache=None keeps the plan
    # fully lazy for dynamic-allocation clusters
    keep = _keep(cache)
    raw_rows = keep(bigram_rows(raw, raw_tokens))
    tgt_rows = keep(bigram_rows(target, target_tokens))
    raw_counts = raw_rows.groupBy("bucket").agg(F.count("*").alias("cr"))
    tgt_counts = tgt_rows.groupBy("bucket").agg(F.count("*").alias("ct"))
    # scalar totals derive from the (≤ n_buckets-row) count tables and
    # ride in as broadcast 1-row frames — plan construction stays fully
    # lazy (no eager count() job inside what looks like lazy lineage)
    n_raw = raw_counts.agg(F.sum("cr").cast("double").alias("n_raw"))
    n_tgt = tgt_counts.agg(F.sum("ct").cast("double").alias("n_tgt"))
    ratios = (
        raw_counts.join(tgt_counts, "bucket", "full")
        .crossJoin(F.broadcast(n_raw))
        .crossJoin(F.broadcast(n_tgt))
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce(F.col("ct"), F.lit(0)) + alpha)
                    / (F.coalesce(F.col("n_tgt"), F.lit(0.0)) + alpha * n_buckets)
                )
                - F.log(
                    (F.coalesce(F.col("cr"), F.lit(0)) + alpha)
                    / (F.coalesce(F.col("n_raw"), F.lit(0.0)) + alpha * n_buckets)
                )
            ).alias("lr"),
        )
    )
    return (
        raw_rows.join(F.broadcast(ratios), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_feats"),
            F.round(F.sum("lr"), 6).alias("logw"),
        )
    )


def assign_shards(
    df: DataFrame, *, id_col: str = "doc_id", n_shards: int = 8, seed: int | None = None
) -> DataFrame:
    """Add a deterministic ``shard`` column: portable-md5-hash of the id
    modulo ``n_shards``.  A pure function of the key — reproducible
    across engines, runs, and cluster sizes (functions.hashing.hash64),
    which is what makes training-data shards re-creatable byte-for-byte.
    """
    return df.withColumn(
        "shard", F.pmod(hash64(F.col(id_col), seed), F.lit(n_shards)).cast("bigint")
    )


def pack_sequences(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    seq_len: int = 512,
    n_shards: int = 8,
    counts: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, n_tokens, shard, start_offset, seq_id) — contiguous
    greedy packing of documents into fixed-``seq_len`` training
    sequences, per deterministic hash shard.

    The "concatenate then chunk" packing every LLM data loader uses:
    within a shard, documents are laid out in id order; a document's
    ``start_offset`` is the running token count before it, and it
    starts inside sequence ``floor(start_offset / seq_len)``.

    ``counts``: optional precomputed (doc_id, n_tokens) relation — pass
    the REAL tokenizer's counts (e.g. BPE piece counts from
    ``bpe.bpe_segment``) instead of the default whitespace-token proxy;
    the document text is then never scanned here (the persisted-tokens
    contract the LM scorers follow).  Documents in ``df`` missing from
    ``counts`` are kept with n_tokens = 0 (left join), matching the
    default path's every-doc-appears contract — segmenters drop
    zero-token docs, and the packing manifest must not.

    Scale shape: the cumulative sum is a window PARTITIONED by shard —
    never a global window (a single-partition cumsum over the corpus is
    the classic scale-killer; sharding first bounds every partition to
    corpus/n_shards).  At 100 TB you'd raise ``n_shards`` to O(cluster
    cores); packing quality is unaffected because sequences never cross
    shards anyway.
    """
    if counts is not None:
        given = counts.select(
            F.col("doc_id" if "doc_id" in counts.columns else id_col).alias(
                "doc_id"
            ),
            F.col("n_tokens").cast("long").alias("n_tokens"),
        )
        counts = (
            df.select(F.col(id_col).alias("doc_id"))
            .join(given, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce(F.col("n_tokens"), F.lit(0).cast("long")).alias(
                    "n_tokens"
                ),
            )
        )
    else:
        counts = df.select(
            F.col(id_col).alias("doc_id"),
            F.size(tokenize(F.col(text_col))).cast("long").alias("n_tokens"),
        )
    sharded = assign_shards(counts, id_col="doc_id", n_shards=n_shards)
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).cast("long")
    return sharded.select(
        "doc_id",
        "n_tokens",
        "shard",
        start.alias("start_offset"),
        F.floor(start / seq_len).cast("long").alias("seq_id"),
    )


def write_shards(
    df: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    n_shards: int = 8,
    seed: int | None = None,
) -> None:
    """Write the corpus as ``shard=N/`` parquet partitions with
    deterministic membership (assign_shards).  ``repartition`` on the
    shard column first so each shard is one writer task's output —
    without it every input task writes a sliver into every shard
    directory (the small-files problem at cluster scale).
    """
    (
        assign_shards(df, id_col=id_col, n_shards=n_shards, seed=seed)
        .repartition("shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )


def shingle_novelty(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """(doc_id, n_shingles, novelty) — the fraction of a document's
    distinct token ``n``-gram shingles whose FIRST corpus occurrence
    (minimum doc_id) is this document.

    A cheap cross-document redundancy score: near-1.0 documents are
    fresh content, near-0.0 documents restate earlier ones — the
    aggregate view of what pairwise shingle-Jaccard (dedup.jaccard_pairs)
    measures pairwise, at one groupBy instead of a candidate join.

    Shape: explode distinct shingles once; ``min(doc_id)`` per shingle
    is a partial aggregation; the join back is keyed on the shingle,
    co-partitioned with the aggregation's own shuffle.  Documents with
    fewer than ``n`` tokens have no shingles and are absent from the
    output (nothing to score).
    """
    from beyond_vector_search_spark.operators.dedup import shingle_rows

    # lazy-localCheckpoint the shingle kernel output — referenced by
    # BOTH the first-doc aggregation and the join-back, so the uncached
    # subtree re-ran the tokenize+shingle kernel twice per action (no
    # shared Exchange: the two consumers key differently).  r13-opt;
    # measured 1.50 -> 1.10 s median at sf0.1, rows identical.
    ex = shingle_rows(df, id_col=id_col, text_col=text_col, n=n).localCheckpoint(
        eager=False
    )
    first = ex.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    return (
        ex.join(first, "sh")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.round(
                F.avg((F.col("doc_id") == F.col("first_doc")).cast("double")), 6
            ).alias("novelty"),
        )
    )


def wordcount_labels(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
) -> DataFrame:
    """(doc_id, keep) — the cheap rule-based weak label that bootstraps
    a learned quality classifier: Gopher's word-count gate alone
    (``n_words >= min_words``, Rae et al. 2021 appendix A rule 1).

    The real-world recipe (CCNet, LLaMA, RedPajama) labels a seed set
    with a rule or a reference corpus and trains a cheap linear/NB
    classifier on token counts to generalize the signal; this helper is
    the rule side of that loop.  Pure narrow expressions (regexp split +
    size), zero shuffles.
    """
    words = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda w: w != F.lit("")
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        (F.size(words) >= F.lit(min_words)).alias("keep"),
    )


def nb_quality_scores(
    df: DataFrame,
    labels: DataFrame | None = None,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens: DataFrame | None = None,
    alpha: float = 1.0,
    cache: bool = False,
) -> DataFrame:
    """(doc_id, label_keep, n_tokens, log_odds, pred_keep) — a
    multinomial Naive Bayes quality classifier trained on a weak label
    and applied back to the corpus: the fastText-style quality filter
    from the public pretraining recipes (CCNet Wenzek et al. 2020,
    LLaMA's "Wikipedia-reference" classifier), reduced to its
    SQL-expressible core so the whole train+score loop is one
    deterministic relational plan (and DuckDB-oracle-able).

    Training (add-``alpha`` smoothed):

        w(t) = ln( (c1(t)+α) / (N1+αV) ) − ln( (c0(t)+α) / (N0+αV) )
        b    = ln( (D1+α) / (D0+α) )

    where ``c_k(t)`` is token t's total tf in class k, ``N_k`` the class
    token mass, ``V`` the corpus vocabulary size, ``D_k`` the class doc
    counts.  Scoring: ``log_odds(d) = b + Σ_t tf_d(t)·w(t)`` and
    ``pred_keep = round(log_odds, 6) > 0`` (the rounded value decides so
    both engines agree at the boundary).

    ``labels`` defaults to :func:`wordcount_labels` (the Gopher
    word-count gate) — classifier bootstrapping from a rule.

    Scale shape: ONE corpus tokenize/explode feeds both training and
    scoring (the label rides the (doc, term, tf) rows, so class counts
    are a second partial aggregation of the same relation — the text is
    never scanned twice); the weight table is vocabulary-sized and
    joins back on term, co-partitioned with the tf aggregation's own
    shuffle (AQE broadcasts it while the vocabulary is small).  All
    counts are exact integers; only the final cross-row float sum is
    rounded (6 decimals, the catalog rule).

    ``cache=True`` persists the labeled (doc, term, tf) relation and
    the label relation: Catalyst does NOT share subtrees across the
    train/score/report consumers, so the uncached plan re-tokenizes
    the corpus per consumer (~7 document scans in the audit); cached,
    the text is scanned once — the 100 TB form materializes the same
    relations to parquet (bigram_logppl's contract).
    """
    lab, wtf = _nb_labeled_tf(
        df, labels, id_col=id_col, text_col=text_col, tokens=tokens, cache=cache
    )
    weights, prior = _nb_model_from(lab, wtf, alpha=alpha)
    scored = _nb_doc_sums(wtf, weights)
    return (
        lab.join(scored, "doc_id", "left")
        .crossJoin(F.broadcast(prior))
        .select(
            "doc_id",
            F.col("keep").alias("label_keep"),
            F.coalesce(F.col("n_tokens"), F.lit(0).cast("long")).alias("n_tokens"),
            F.round(F.col("b") + F.coalesce(F.col("s"), F.lit(0.0)), 6).alias(
                "log_odds"
            ),
            (F.round(F.col("b") + F.coalesce(F.col("s"), F.lit(0.0)), 6) > 0).alias(
                "pred_keep"
            ),
        )
    )


def _nb_labeled_tf(
    df: DataFrame,
    labels: DataFrame | None,
    *,
    id_col: str,
    text_col: str,
    tokens: DataFrame | None,
    cache: bool,
) -> tuple[DataFrame, DataFrame]:
    """(lab, wtf) — the label relation and the labeled (doc, term, tf)
    relation the NB train/score stages share."""
    if labels is None:
        labels = wordcount_labels(df, id_col=id_col, text_col=text_col)
    # the module-wide policy (_keep): True=cache, False=lazy
    # localCheckpoint, None=fully lazy — a hand-rolled False=no-op here
    # would make the same-named knob silently mean ~7 corpus
    # re-tokenizations in nb_quality_scores while meaning one scan in
    # every LM op
    keep_rel = _keep(cache)
    lab = keep_rel(
        labels.select(
            F.col("doc_id")
            if "doc_id" in labels.columns
            else F.col(id_col).alias("doc_id"),
            F.col("keep").cast("boolean").alias("keep"),
        )
    )
    toked = _toked(df, tokens, id_col=id_col, text_col=text_col)
    wtf = keep_rel(
        toked.join(lab, "doc_id")
        .select("doc_id", "keep", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"), F.first("keep").alias("keep"))
    )
    return lab, wtf


def _nb_model_from(
    lab: DataFrame, wtf: DataFrame, *, alpha: float
) -> tuple[DataFrame, DataFrame]:
    a = F.lit(float(alpha))
    cls = wtf.groupBy("term").agg(
        F.sum(F.when(F.col("keep"), F.col("tf")).otherwise(F.lit(0))).alias("c1"),
        F.sum(F.when(~F.col("keep"), F.col("tf")).otherwise(F.lit(0))).alias("c0"),
    )
    tot = cls.agg(
        F.sum("c1").alias("n1"), F.sum("c0").alias("n0"), F.count("*").alias("v")
    )
    weights = cls.crossJoin(F.broadcast(tot)).select(
        "term",
        (
            F.log((F.col("c1") + a) / (F.col("n1") + a * F.col("v")))
            - F.log((F.col("c0") + a) / (F.col("n0") + a * F.col("v")))
        ).alias("w"),
    )
    prior = lab.agg(
        F.sum(F.col("keep").cast("long")).alias("d1"),
        F.sum((~F.col("keep")).cast("long")).alias("d0"),
    ).select(F.log((F.col("d1") + a) / (F.col("d0") + a)).alias("b"))
    return weights, prior


def _nb_doc_sums(wtf: DataFrame, weights: DataFrame) -> DataFrame:
    return (
        wtf.join(weights, "term")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("w")).alias("s"),
        )
    )


def nb_quality_model(
    df: DataFrame,
    labels: DataFrame | None = None,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens: DataFrame | None = None,
    alpha: float = 1.0,
    cache: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """(weights, prior) — TRAIN the NB quality model and return it as
    two relations: (term, w) per-token log-likelihood ratios and a
    1-row (b) prior.  Persist both to parquet to FREEZE the model (the
    tokenizer-artifact contract): :func:`nb_score` then applies it to
    any document relation — new batches at ingest, a streaming
    micro-batch inside foreachBatch, or a different corpus — without
    retraining.  Same math as :func:`nb_quality_scores` (which is
    train+apply on one corpus in one plan)."""
    lab, wtf = _nb_labeled_tf(
        df, labels, id_col=id_col, text_col=text_col, tokens=tokens, cache=cache
    )
    return _nb_model_from(lab, wtf, alpha=alpha)


def nb_score(
    df: DataFrame,
    weights: DataFrame,
    prior: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, n_tokens, log_odds, pred_keep) — apply a FROZEN NB
    quality model to a document relation.  Tokens absent from the
    model's vocabulary contribute nothing (the add-α smoothing already
    priced unseen mass into the weights); all-OOV or empty documents
    score the bare prior.  Stateless — one tokenize + one
    vocabulary-sized join — so it composes directly with streaming
    ingest (score each micro-batch inside foreachBatch; the weights
    relation broadcasts)."""
    toked = _toked(df, tokens, id_col=id_col, text_col=text_col)
    wtf = (
        toked.select("doc_id", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    scored = _nb_doc_sums(wtf, weights)
    return (
        toked.select("doc_id")
        .join(scored, "doc_id", "left")
        .crossJoin(F.broadcast(prior))
        .select(
            "doc_id",
            F.coalesce(F.col("n_tokens"), F.lit(0).cast("long")).alias("n_tokens"),
            F.round(F.col("b") + F.coalesce(F.col("s"), F.lit(0.0)), 6).alias(
                "log_odds"
            ),
            (F.round(F.col("b") + F.coalesce(F.col("s"), F.lit(0.0)), 6) > 0).alias(
                "pred_keep"
            ),
        )
    )


def fuzzy_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    num_hashes: int = 16,
    shingle_n: int = 3,
    bands: int = 4,
    rows_per_band: int = 4,
    max_bucket_size: int | None = 10_000,
    corpus_bands: DataFrame | None = None,
    corpus_shingles: DataFrame | None = None,
    cache: bool | None = False,
) -> DataFrame:
    """(doc_id, bench_id, jaccard) — corpus documents NEAR-duplicate to
    a benchmark document: MinHash-LSH candidate generation between the
    two relations, then an exact shingle-Jaccard verify, kept at
    ``round(jaccard, 6) >= threshold`` (the rounded value decides, the
    catalog's cross-engine boundary rule).

    The FUZZY decontamination sweep (the Llama-2 recipe): exact
    n-gram collision (:func:`benchmark_contamination`) misses eval
    text that was lightly edited before landing in a crawl; near-dup
    similarity against the eval set catches it.  Composition of the
    dedup primitives in their asymmetric cross-relation form — the
    corpus NEVER self-joins:

        benchmark sigs → band keys  (eval sets are small: broadcasts)
        corpus sigs → band keys ⋈ bench band keys  → candidate pairs
        shingle sets (candidates only) → exact Jaccard → threshold

    ``max_bucket_size`` drops corpus band buckets larger than the cap
    (the standard hot-bucket guard; boilerplate buckets would pair
    with everything).

    Shared signatures are the DEFAULT: each side's text is scanned
    exactly ONCE — a fused Arrow pass
    (:func:`dedup.minhash_shingle_rows`) emits the MinHash signature
    AND the distinct shingle set together, and that relation is
    materialized (``cache`` is the :func:`_keep` policy), so the band
    keys for candidate generation and the shingle rows for the exact
    verify both read the materialized rows, never the text.  The
    from-scratch form previously re-derived the signature chain per
    consumer — ~21 corpus scans in the audited plan; at 100 TB that is
    twenty-one passes where one suffices.

    ``corpus_bands`` / ``corpus_shingles`` accept the corpus's
    PRECOMPUTED dedup state — band keys (:func:`dedup.banded_keys`
    rows with matching num_hashes/shingle_n/bands/rows_per_band; the
    streaming band store persists exactly this) and shingle rows
    (:func:`dedup.shingle_rows` at ``shingle_n``).  A pipeline that
    already ran a MinHash dedup pass reuses that state here and this
    sweep costs NO corpus text scan at all: the only corpus-side work
    is the band join and the candidate-pruned Jaccard verify.  Results
    are identical (parity pinned by test).
    """
    from beyond_vector_search_spark.operators import dedup as dd

    keep = _keep(cache)
    kw = dict(
        id_col=id_col, text_col=text_col, num_hashes=num_hashes, shingle_n=shingle_n
    )
    c_state = None
    if corpus_bands is not None:
        # banded_keys' normalized shape: (doc_id, band_id, band_key)
        cb = corpus_bands.select("doc_id", "band_id", "band_key")
    else:
        if corpus_shingles is not None:
            # mixed state: verify shingles are precomputed, so the
            # fused pass's corpus-wide shingle arrays would be dead
            # weight — run the sig-only kernel for the band keys
            sigs = keep(dd.minhash_signatures(corpus, **kw))
        else:
            # ONE corpus text pass yields band keys AND verify shingles
            c_state = keep(dd.minhash_shingle_rows(corpus, **kw))
            sigs = c_state
        cb = dd.banded_keys(
            sigs.select("doc_id", "sig"),
            bands=bands,
            rows_per_band=rows_per_band,
        )
    # the eval set is small by definition: one fused pass, materialized
    b_state = keep(dd.minhash_shingle_rows(benchmark, **kw))
    bb = dd.banded_keys(
        b_state.select("doc_id", "sig"),
        bands=bands,
        rows_per_band=rows_per_band,
    ).withColumnRenamed("doc_id", "bench_id")
    if max_bucket_size is not None:
        ok = (
            cb.groupBy("band_id", "band_key")
            .agg(F.count("*").alias("n"))
            .where(F.col("n") <= int(max_bucket_size))
            .select("band_id", "band_key")
        )
        cb = cb.join(ok, ["band_id", "band_key"], "semi")
    cands = keep(
        cb.join(F.broadcast(bb), ["band_id", "band_key"])
        .select("doc_id", "bench_id")
        .distinct()
    )
    if corpus_shingles is not None:
        # prune the precomputed rows to candidates — same semi-join
        # discipline as the fused path, no shingle kernel at all
        csh = corpus_shingles.join(
            cands.select("doc_id").distinct(), "doc_id", "semi"
        )
    elif c_state is not None:
        # explode the MATERIALIZED shingle sets for candidate ids only
        # — no second corpus text scan
        csh = (
            c_state.join(cands.select("doc_id").distinct(), "doc_id", "semi")
            .select("doc_id", F.explode("shingles").alias("sh"))
        )
    else:
        # corpus_bands given but shingles not: shingle only the
        # candidate documents' text (the bands made the fused pass
        # unnecessary; a candidates-only kernel beats a corpus-wide one)
        cand_ids = cands.select(F.col("doc_id").alias(id_col)).distinct()
        csh = dd.shingle_rows(
            corpus.join(cand_ids, [id_col], "semi"),
            id_col=id_col,
            text_col=text_col,
            n=shingle_n,
        )
    bsh = b_state.select(
        F.col("doc_id").alias("bench_id"), F.explode("shingles").alias("sh")
    )
    na = csh.groupBy("doc_id").agg(F.count("*").alias("na"))
    nb = bsh.groupBy("bench_id").agg(F.count("*").alias("nb"))
    inter = (
        cands.join(csh, "doc_id")
        .join(bsh, ["bench_id", "sh"])
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("ninter"))
    )
    jac = F.round(
        F.col("ninter") / (F.col("na") + F.col("nb") - F.col("ninter")), 6
    )
    return (
        inter.join(na, "doc_id")
        .join(F.broadcast(nb), "bench_id")
        .select("doc_id", "bench_id", jac.alias("jaccard"))
        .where(F.col("jaccard") >= F.lit(float(threshold)))
    )
