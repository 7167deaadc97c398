"""Retrieval scoring as relational joins over the inverted index.

The reference scores every document with per-query Python loops
(retrievers.py:97,129).  Here scoring is the classic inverted-index join
shape — a sparse matrix-multiply expressed relationally:

    queries ─tokenize/ngram─> query terms  ⋈ term_stats (idf)   [broadcast]
                                           ⋈ postings/doc_vec   [the big join]
                                           groupBy(query_id, doc_id) agg

Only documents sharing at least one term/gram with the query are touched;
Catalyst broadcasts the (tiny) query side so the postings table never
shuffles.  Zero-score documents are restored by an outer join against
``doc_ids`` for exact reference parity (retrievers.py scores ALL docs) —
a flag drops them at scale, affecting only deep-tail ranks.

All operators take a ``(query_id, query)`` DataFrame: batching N queries
is the same plan as 1 query, which is how the eval workload (14 labels ×
3 strategies) runs as one job rather than 42 loops.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from beyond_vector_search_spark.config import DEFAULT, EngineConfig
from beyond_vector_search_spark.functions.text import char_ngrams, tokenize
from beyond_vector_search_spark.operators.corpus_index import CorpusIndex


def stable_topk(scored: DataFrame, k: int, *, score_col: str = "score") -> DataFrame:
    """Top-k per query with the reference's deterministic tie-break
    (text.py:52-54): score desc, then doc_id asc.  Adds ``rank``.

    ``row_number`` over (partition by query_id) shuffles once on
    query_id; with AQE the per-query partitions coalesce.  For the
    unpartitioned single-query case this is still one narrow exchange.

    Ordering uses the score ROUNDED to 10 decimals: documents with
    identical content have mathematically equal scores, but distributed
    float aggregation sums in nondeterministic order, producing phantom
    ~1e-16 differences that would defeat the doc_id tie-break.  Rounding
    collapses them back into exact ties (the reference, summing each
    doc's identical dict in identical order, ties them bit-exactly).

    Tie-break caveat: the reference breaks exact ties by POSITION IN
    THE CORPUS LIST (text.py:52-54); this engine uses doc_id ascending.
    The two agree whenever corpus file order equals doc_id order — true
    for the shipped corpus and the driver testdata, not guaranteed for
    arbitrary inputs.  For a corpus whose file order differs, add an
    explicit ordinal column and pass it as the tie-break instead.  The
    10-decimal rounding can also merge scores the reference would rank
    as distinct (it compares full doubles); no such case exists in the
    shipped data.
    """
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round(F.col(score_col), 10)), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _restore_zero_docs(scored: DataFrame, queries: DataFrame, doc_ids: DataFrame) -> DataFrame:
    """All (query, doc) pairs with missing scores as 0.0 (parity mode —
    see EngineConfig.include_zero_score_docs; a 100 TB run disables it).

    The scored relation is broadcast: in parity mode it is bounded by
    |queries| x |matched docs|, always the small side of this join, and
    the hint turns a two-sided shuffle (SortMergeJoin) into a map-side
    broadcast join over the query x doc universe."""
    universe = queries.select("query_id").crossJoin(doc_ids)
    return universe.join(F.broadcast(scored), ["query_id", "doc_id"], "left").select(
        "query_id", "doc_id", F.coalesce(F.col("score"), F.lit(0.0)).alias("score")
    )


def bm25_scores(
    queries: DataFrame,
    index: CorpusIndex,
    *,
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """(query_id, doc_id, score) — classic BM25 (retrievers.py:125-144).

    Per query term t present in the corpus (inner join to term_stats =
    the OOV drop at retrievers.py:135), per doc containing t:

        idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avg_dl))

    Duplicate query terms count once (reference iterates q_tf.keys(),
    retrievers.py:134) — hence array_distinct on the query tokens.
    """
    q_terms = queries.select(
        "query_id", F.explode(F.array_distinct(tokenize("query"))).alias("term")
    )
    # Tiny side: terms-of-queries ⋈ term_stats — broadcast both ways is
    # fine; postings is the only large input.
    q_idf = q_terms.join(index.term_stats.select("term", "idf"), "term")
    # avg_dl folded in as a literal (one memoized 1-row collect on the
    # index) — the alternative crossJoin(broadcast(scalars)) adds a
    # BroadcastNestedLoopJoin stage to every query plan for one number.
    _, avg_dl_val = index.scalar_values()
    avg_dl = F.lit(avg_dl_val if avg_dl_val != 0.0 else 1.0)
    k1, b = cfg.bm25_k1, cfg.bm25_b
    contrib = (
        F.col("idf")
        * (F.col("tf") * (k1 + 1.0))
        / (F.col("tf") + k1 * (1.0 - b + b * (F.col("dl") / avg_dl)))
    )
    # postings carries dl denormalized (corpus_index.build_postings), so
    # the whole score is one broadcast join + one aggregation — no
    # doc_stats join, no scalar crossJoin.
    scored = (
        F.broadcast(q_idf)
        .join(index.postings, "term")
        .select("query_id", "doc_id", contrib.alias("contrib"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("contrib").alias("score"))
    )
    if cfg.include_zero_score_docs:
        scored = _restore_zero_docs(scored, queries, index.doc_ids)
    return scored


def query_gram_vec(queries: DataFrame, index: CorpusIndex, *, cfg: EngineConfig = DEFAULT) -> DataFrame:
    """(query_id, gram, qw, idf) — sublinear TF-IDF query vector in the
    char n-gram space, query-side idf taken from the DOC space and
    unknown grams dropped (retrievers.py:87-95).

    ``idf`` rides along so cosine scoring can reconstruct the DOC-side
    weight for the same gram inline (vector_scores' gram_tf path) —
    the join key is the gram, so its idf is shared by both sides."""
    q_tf = (
        queries.select("query_id", F.explode(char_ngrams("query", cfg.ngram_n)).alias("gram"))
        .groupBy("query_id", "gram")
        .agg(F.count("*").alias("tf"))
    )
    return q_tf.join(index.gram_stats.select("gram", "idf"), "gram").select(
        "query_id", "gram", ((1.0 + F.log("tf")) * F.col("idf")).alias("qw"), "idf"
    )


def vector_scores(
    queries: DataFrame,
    index: CorpusIndex,
    *,
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """(query_id, doc_id, score) — char-n-gram TF-IDF cosine
    (retrievers.py:87-103).

    dot(q, d) via the inverted-index join on gram; then normalized by
    q_norm * doc_norm with the ``or 1.0`` guards (retrievers.py:84,96).

    Two physical shapes, same algebra:

    - **gram_tf path** (in-session index, ``index.gram_tf`` present):
      the broadcast query vector joins the raw per-doc gram counts
      DIRECTLY and reconstructs the doc weight inline —
      ``qw * ((1+ln tf) * idf)`` with the idf carried on the query row
      (the join key IS the gram, so both sides share its idf).  This
      prunes to query-matching grams at the FIRST join: the lazy
      doc_vec chain (gram_tf ⋈ gram_stats ⋈ doc_norm) would instead
      stream every gram row of the corpus through two broadcast
      builds before the selective join.  The full-document norm joins
      AFTER the aggregation, touching one row per (query, matched doc).
    - **doc_vec path** (index loaded from parquet: doc_vec is a flat
      pre-joined relation — weight and norm materialized by save()):
      one broadcast join against it, nothing to prune early.
    """
    qv = query_gram_vec(queries, index, cfg=cfg)
    # q_norm as a window over the (tiny) query-vector relation — no
    # separate agg + broadcast-join round trip.
    w_q = Window.partitionBy("query_id")
    qv = qv.withColumn(
        "q_norm",
        F.coalesce(
            F.nullif(F.sqrt(F.sum(F.col("qw") * F.col("qw")).over(w_q)), F.lit(0.0)),
            F.lit(1.0),
        ),
    )
    gram_tf = getattr(index, "gram_tf", None)
    if gram_tf is not None:
        dots = (
            F.broadcast(qv)
            .join(gram_tf, "gram")
            .select(
                "query_id",
                "doc_id",
                (F.col("qw") * ((1.0 + F.log("tf")) * F.col("idf"))).alias("contrib"),
                "q_norm",
            )
            .groupBy("query_id", "doc_id")
            .agg(F.sum("contrib").alias("dot"), F.first("q_norm").alias("q_norm"))
        )
        scored = dots.join(index.doc_norm, "doc_id").select(
            "query_id",
            "doc_id",
            (F.col("dot") / (F.col("q_norm") * F.col("norm"))).alias("score"),
        )
    else:
        scored = (
            F.broadcast(qv)
            .join(index.doc_vec, "gram")
            .groupBy("query_id", "doc_id")
            .agg(
                F.sum(F.col("qw") * F.col("weight")).alias("dot"),
                F.first("q_norm").alias("q_norm"),
                F.first("norm").alias("norm"),
            )
            .select(
                "query_id",
                "doc_id",
                (F.col("dot") / (F.col("q_norm") * F.col("norm"))).alias("score"),
            )
        )
    if cfg.include_zero_score_docs:
        scored = _restore_zero_docs(scored, queries, index.doc_ids)
    return scored


def minmax_normalize(
    scored: DataFrame, *, score_col: str = "score", via: str = "agg"
) -> DataFrame:
    """Per-query min-max normalization with the constant-array guard
    (retrievers.py:169-176: hi <= lo -> all 0.0).

    ``via="agg"`` (default): groupBy + broadcast-join back — the agg
    output is one row per query, so the join is a broadcast, BUT the
    score relation is referenced twice (agg input + join probe): right
    when it is cached or cheap.  ``via="window"``: min/max as window
    functions over the query partition — the input plan executes
    exactly ONCE, which is the right shape for an uncached compiled
    serving plan (the agg form would recompute the whole arm for the
    bounds).  Identical math either way.
    """
    if via == "window":
        w = Window.partitionBy("query_id")
        lo, hi = F.min(score_col).over(w), F.max(score_col).over(w)
        return scored.select(
            "query_id",
            "doc_id",
            F.when(hi <= lo, F.lit(0.0))
            .otherwise((F.col(score_col) - lo) / (hi - lo))
            .alias("norm_score"),
        )
    bounds = scored.groupBy("query_id").agg(
        F.min(score_col).alias("_lo"), F.max(score_col).alias("_hi")
    )
    return scored.join(F.broadcast(bounds), "query_id").select(
        "query_id",
        "doc_id",
        F.when(F.col("_hi") <= F.col("_lo"), F.lit(0.0))
        .otherwise((F.col(score_col) - F.col("_lo")) / (F.col("_hi") - F.col("_lo")))
        .alias("norm_score"),
    )


def hybrid_scores(
    queries: DataFrame,
    index: CorpusIndex,
    *,
    cfg: EngineConfig = DEFAULT,
    keyword: DataFrame | None = None,
    vector: DataFrame | None = None,
    minmax_via: str = "agg",
) -> DataFrame:
    """(query_id, doc_id, score) — min-max-normalized blend
    0.60*keyword + 0.40*vector (retrievers.py:147-188).

    The reference normalizes over scores of ALL docs (it searches with
    k=len(docs), retrievers.py:165-166); with zero-restored inputs the
    full outer join + coalesce(0.0) reproduces the missing-doc -> 0.0
    rule (retrievers.py:183-184).  Pass precomputed ``keyword``/``vector``
    score DFs to reuse work (the eval loop does); pass
    ``minmax_via="window"`` when the arms are UNCACHED plans so each
    arm executes once (see :func:`minmax_normalize`).
    """
    key_n = minmax_normalize(
        keyword if keyword is not None else bm25_scores(queries, index, cfg=cfg),
        via=minmax_via,
    )
    vec_n = minmax_normalize(
        vector if vector is not None else vector_scores(queries, index, cfg=cfg),
        via=minmax_via,
    )
    # Blend as union + re-aggregation rather than a full-outer join:
    # same semantics (a doc missing from one arm contributes 0.0 to the
    # sum, exactly the coalesce(.,0.0) of retrievers.py:183-184), but
    # ONE hash-aggregate shuffle over the combined rows instead of a
    # two-sided sort-merge join — no sort, and partial aggregation
    # halves the shuffled volume map-side.
    return (
        key_n.select(
            "query_id", "doc_id", (cfg.alpha_keyword * F.col("norm_score")).alias("part")
        )
        .unionByName(
            vec_n.select(
                "query_id", "doc_id", (cfg.alpha_vector * F.col("norm_score")).alias("part")
            )
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("part").alias("score"))
    )


# ---------------------------------------------------------------------------
# Compiled serving path: query batch folded into the plan as literals
# ---------------------------------------------------------------------------
#
# The join-form scorers above are the INGEST/BULK shape: queries as a
# DataFrame, scored by broadcast joins — right when the "query" side is
# itself large (the eval workload, reranking jobs).  Interactive serving
# is the opposite regime: a handful of queries against a big index.  For
# that, the batch is COMPILED — the queries' term/gram weights are
# resolved against the index once (a driver-side collect bounded by
# |queries| x terms-per-query, the same contract as
# streaming/percolate.compile_standing_queries) and folded into the plan
# as literal maps.  Scoring is then:
#
#     postings.where(term IN (<query terms>))   -- scan-prunable filter
#         -> explode(term -> [(query_id, idf)]) -> groupBy agg -> top-k
#
# Two scale wins over the broadcast-join form, beyond the fewer-stages
# latency win measured at sf0.1 (bm25 0.67s -> ~0.3s):
# - the IN-list pushes into the scan (parquet row-group stats / bucket
#   pruning on a term-bucketed postings table), so a 100 TB index reads
#   only the touched slivers — a broadcast join still scans everything;
# - no broadcast exchange at all: zero build-side latency, no driver
#   round-trip per join.
#
# Semantics are IDENTICAL to bm25_scores/vector_scores (same formulas,
# same OOV drop, same matched-only vs zero-restored profiles) — pinned
# by parity tests (tests/test_index_and_retrieval.py) and by the catalog
# entries sharing one DuckDB oracle with the join form.


from dataclasses import dataclass, field


class DuplicateQueryIdError(ValueError):
    """Duplicate query_id in a batch — a CALLER bug, not a regime the
    join-form scorers should absorb (they would emit duplicated score
    rows).  Distinct type so fallback wrappers (ServingArms) can
    re-raise it while still falling back on the documented rejections
    (non-string ids, max_features overflow)."""


@dataclass(frozen=True)
class CompiledQueryBatch:
    """A query batch resolved against an index snapshot, ready to fold
    into serving plans as literals.

    ``term_weights``: term -> [(query_id, idf)] — BM25 arm.
    ``gram_weights``: gram -> [(query_id, qw, idf)] — cosine arm (qw =
    query-side sublinear TF-IDF weight; idf rides along to reconstruct
    the doc weight at the matched gram, exactly like
    :func:`query_gram_vec`).
    ``q_norms``: query_id -> query-vector L2 norm (the ``or 1.0`` guard
    applied).  ``avg_dl``: the snapshot's average doc length.
    """

    term_weights: dict = field(default_factory=dict)
    gram_weights: dict = field(default_factory=dict)
    q_norms: dict = field(default_factory=dict)
    avg_dl: float = 1.0


def compile_query_batch(
    queries,
    index: CorpusIndex,
    *,
    cfg: EngineConfig = DEFAULT,
    max_features: int = 100_000,
) -> CompiledQueryBatch:
    """Resolve a (small) query batch against the index.

    ``queries``: a (query_id, query) DataFrame or a plain list of
    (query_id, query) tuples.  Tokenization/shingling run driver-side
    through the SAME ``kernels.tokens`` / ``kernels.char_grams`` as
    the Arrow index kernels (parity-tested against the Spark
    expressions), so the only cluster work is ONE isin-FILTERED
    COLLECT (term_stats + gram_stats lookups for the queries' own
    terms, unioned into one tagged job): no join, no shuffle, and on a
    persisted index the IN-lists push into the stats scans."""
    import math
    from collections import Counter

    from beyond_vector_search_spark.functions.kernels import char_grams, tokens

    if isinstance(queries, DataFrame):
        # BOUNDED collect: the bulk fallback (ServingArms catching this
        # ValueError) exists for huge batches, and collecting the whole
        # DataFrame to find out it is huge would OOM the driver before
        # the max_features check could fire.  limit(cap+1) bounds the
        # driver transfer to max_features+1 rows in every case — if we
        # got fewer, the collect was complete.
        got = queries.limit(max_features + 1).collect()
        if len(got) > max_features:
            raise ValueError(
                f"query batch exceeds {max_features} rows — the bulk "
                "regime; use the join-form scorers "
                "(bm25_scores/vector_scores)"
            )
        rows = [(r["query_id"], r["query"]) for r in got]
    else:
        rows = list(queries)
    rows.sort(key=lambda x: str(x[0]))
    if len({qid for qid, _ in rows}) != len(rows):
        raise DuplicateQueryIdError(
            "duplicate query_id in batch — ids must be unique"
        )
    # The compiled plan's from_json literal maps (and _empty_scores) fix
    # query_id as STRING; silently stringifying a non-string id would
    # change the output schema vs the join-form scorers (which preserve
    # the id type).  Fail loudly instead of diverging.
    bad = [qid for qid, _ in rows if not isinstance(qid, str)]
    if bad:
        raise ValueError(
            f"compiled serving requires STRING query ids (got {type(bad[0]).__name__}: "
            f"{bad[0]!r}) — cast ids to string, or use the join-form scorers "
            "(bm25_scores/vector_scores), which preserve the id type"
        )

    # per-query distinct terms (BM25 dedups duplicate query terms) and
    # gram tf counts — reference text.py:8-17 / retrievers.py:33-44
    q_toks: dict[str, list[str]] = {}
    q_gram_tf: dict[str, Counter] = {}
    n = cfg.ngram_n
    for qid, q in rows:
        q_toks[qid] = sorted(set(tokens(q)))
        q_gram_tf[qid] = Counter(char_grams(q, n))

    all_terms = sorted({t for ts in q_toks.values() for t in ts})
    all_grams = sorted({g for c in q_gram_tf.values() for g in c})
    if len(all_terms) + len(all_grams) > max_features:
        raise ValueError(
            f"query batch compiles to {len(all_terms) + len(all_grams)} distinct "
            f"terms+grams (> max_features={max_features}): literal folding is the "
            "INTERACTIVE regime — for large query workloads use the join-form "
            "scorers (bm25_scores/vector_scores), which broadcast the query side"
        )

    # Driver-side idf warm cache (CorpusIndex.warm_idf): resolve the
    # query vocabulary from the pre-collected dict first; only cache
    # MISSES go to the cluster, and a COMPLETE cache turns misses into
    # genuine OOV (no lookup at all) — the compile step is then zero
    # jobs.  Values are the exact collected doubles, so the two paths
    # score bit-identically.
    term_idf: dict[str, float] = {}
    gram_idf: dict[str, float] = {}
    need_terms, need_grams = all_terms, all_grams
    warm = getattr(index, "_idf_warm", None)
    if warm is not None:
        wt, wg = warm["t"], warm["g"]
        term_idf = {t: wt[t] for t in all_terms if t in wt}
        gram_idf = {g: wg[g] for g in all_grams if g in wg}
        need_terms = (
            [] if warm["t_complete"] else [t for t in all_terms if t not in wt]
        )
        need_grams = (
            [] if warm["g_complete"] else [g for g in all_grams if g not in wg]
        )

    # ONE collect for everything the compile still needs: the term-idf
    # and gram-idf lookups (isin-filtered, scan-prunable) unioned into a
    # single tagged relation, plus the index scalars when their memo is
    # cold.  The union is narrow (no shuffle — each branch reads its
    # own cached/pruned relation), so this is one job where separate
    # collects pay one job-launch round-trip each; measured at sf0.1
    # the compile step drops ~0.15 s, which is most of what remains of
    # the serving trio's first-call latency.
    parts: list[DataFrame] = []
    if need_terms:
        parts.append(
            index.term_stats.where(F.col("term").isin(need_terms)).select(
                F.lit("t").alias("_k"),
                F.col("term").alias("_key"),
                F.col("idf").cast("double").alias("_v"),
            )
        )
    if need_grams:
        parts.append(
            index.gram_stats.where(F.col("gram").isin(need_grams)).select(
                F.lit("g").alias("_k"),
                F.col("gram").alias("_key"),
                F.col("idf").cast("double").alias("_v"),
            )
        )
    if getattr(index, "_scalar_vals", None) is None:
        parts.append(
            index.scalars.select(
                F.lit("s").alias("_k"),
                F.lit("n_docs").alias("_key"),
                F.col("n_docs").cast("double").alias("_v"),
            ).unionByName(
                index.scalars.select(
                    F.lit("s").alias("_k"),
                    F.lit("avg_dl").alias("_key"),
                    F.col("avg_dl").cast("double").alias("_v"),
                )
            )
        )
    scal: dict[str, float] = {}
    if parts:
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        for r in u.collect():
            {"t": term_idf, "g": gram_idf, "s": scal}[r["_k"]][r["_key"]] = float(
                r["_v"]
            )
    if scal:
        # fill the index's scalar memo from the same job (n_docs is an
        # exact integer; doubles are exact to 2^53, far past any corpus)
        index._scalar_vals = (int(scal["n_docs"]), scal["avg_dl"])

    term_weights: dict[str, list[tuple[str, float]]] = {}
    for qid, _ in rows:
        for t in q_toks[qid]:
            if t in term_idf:  # OOV terms drop (the inner-join rule)
                term_weights.setdefault(t, []).append((qid, term_idf[t]))

    gram_weights: dict[str, list[tuple[str, float, float]]] = {}
    q_norms: dict[str, float] = {}
    for qid, _ in rows:
        sq = 0.0
        for g in sorted(q_gram_tf[qid]):
            idf = gram_idf.get(g)
            if idf is None:  # unknown grams drop (retrievers.py:87-95)
                continue
            qw = (1.0 + math.log(q_gram_tf[qid][g])) * idf
            gram_weights.setdefault(g, []).append((qid, qw, idf))
            sq += qw * qw
        if sq > 0.0:
            q_norms[qid] = math.sqrt(sq) or 1.0

    _, avg_dl = index.scalar_values()
    return CompiledQueryBatch(
        term_weights=term_weights,
        gram_weights=gram_weights,
        q_norms=q_norms,
        avg_dl=avg_dl if avg_dl != 0.0 else 1.0,
    )


def _json_map(mapping: dict, value_schema: str) -> Column:
    """A literal map column built from ONE ``from_json`` expression.

    Building literal maps with nested ``create_map``/``struct``/``lit``
    calls costs hundreds of py4j round-trips per plan (one per
    expression node) — measured at ~0.3 s for a 60-gram query batch.
    A single JSON literal is one round-trip, and Catalyst constant-folds
    ``from_json`` of a foldable input into a plain literal, so nothing
    is parsed per row.  ``json.dumps`` emits shortest-round-trip floats
    (repr), so doubles survive exactly."""
    import json

    return F.from_json(F.lit(json.dumps(mapping)), f"map<string, {value_schema}>")


def _empty_scores(index: CorpusIndex) -> DataFrame:
    """Empty (query_id, doc_id, score) with the index's doc_id type
    (bigint for the testdata tables, string for the reference corpus)."""
    doc_t = dict(index.doc_ids.dtypes)["doc_id"]
    return index.doc_ids.sparkSession.createDataFrame(
        [], f"query_id string, doc_id {doc_t}, score double"
    )


def compiled_bm25_scores(
    index: CorpusIndex,
    compiled: CompiledQueryBatch,
    *,
    queries: DataFrame | None = None,
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """(query_id, doc_id, score) — BM25 over a compiled query batch:
    one scan-prunable IN filter on postings, one aggregation.  Same
    math as :func:`bm25_scores`.  ``queries`` is only needed for the
    zero-restore parity profile."""
    terms = sorted(compiled.term_weights)
    if not terms:
        scored = _empty_scores(index)
    else:
        qmap = _json_map(
            {
                t: [{"query_id": qid, "idf": idf} for qid, idf in compiled.term_weights[t]]
                for t in terms
            },
            "array<struct<query_id:string, idf:double>>",
        )
        k1, b = cfg.bm25_k1, cfg.bm25_b
        avg_dl = F.lit(compiled.avg_dl)
        pairs = index.postings.where(F.col("term").isin(terms)).select(
            "doc_id", "tf", "dl", F.explode(F.element_at(qmap, F.col("term"))).alias("q")
        )
        contrib = (
            F.col("q.idf")
            * (F.col("tf") * (k1 + 1.0))
            / (F.col("tf") + k1 * (1.0 - b + b * (F.col("dl") / avg_dl)))
        )
        scored = (
            pairs.select(F.col("q.query_id").alias("query_id"), "doc_id", contrib.alias("contrib"))
            .groupBy("query_id", "doc_id")
            .agg(F.sum("contrib").alias("score"))
        )
    if cfg.include_zero_score_docs:
        if queries is None:
            raise ValueError("zero-restore profile needs the queries DataFrame")
        scored = _restore_zero_docs(scored, queries, index.doc_ids)
    return scored


def compiled_vector_scores(
    index: CorpusIndex,
    compiled: CompiledQueryBatch,
    *,
    queries: DataFrame | None = None,
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """(query_id, doc_id, score) — char-gram TF-IDF cosine over a
    compiled query batch.  Same math as :func:`vector_scores`; the
    doc-side weight is reconstructed at the matched gram from the
    literal idf (gram_tf path) or read off doc_vec (persisted path,
    norm already denormalized — no doc_norm join at all)."""
    grams = sorted(compiled.gram_weights)
    if not grams:
        scored = _empty_scores(index)
    else:
        gmap = _json_map(
            {
                g: [
                    {"query_id": qid, "qw": qw, "idf": idf}
                    for qid, qw, idf in compiled.gram_weights[g]
                ]
                for g in grams
            },
            "array<struct<query_id:string, qw:double, idf:double>>",
        )
        nmap = _json_map(dict(sorted(compiled.q_norms.items())), "double")
        gram_tf = getattr(index, "gram_tf", None)
        if gram_tf is not None:
            contrib = F.col("q.qw") * ((1.0 + F.log("tf")) * F.col("q.idf"))
            pairs = gram_tf.where(F.col("gram").isin(grams)).select(
                "doc_id", "tf", F.explode(F.element_at(gmap, F.col("gram"))).alias("q")
            )
            dots = (
                pairs.select(
                    F.col("q.query_id").alias("query_id"), "doc_id", contrib.alias("contrib")
                )
                .groupBy("query_id", "doc_id")
                .agg(F.sum("contrib").alias("dot"))
            )
            scored = dots.join(index.doc_norm, "doc_id").select(
                "query_id",
                "doc_id",
                (F.col("dot") / (F.element_at(nmap, F.col("query_id")) * F.col("norm"))).alias(
                    "score"
                ),
            )
        else:
            pairs = index.doc_vec.where(F.col("gram").isin(grams)).select(
                "doc_id",
                "norm",
                "weight",
                F.explode(F.element_at(gmap, F.col("gram"))).alias("q"),
            )
            scored = (
                pairs.select(
                    F.col("q.query_id").alias("query_id"),
                    "doc_id",
                    (F.col("q.qw") * F.col("weight")).alias("contrib"),
                    "norm",
                )
                .groupBy("query_id", "doc_id")
                .agg(F.sum("contrib").alias("dot"), F.first("norm").alias("norm"))
                .select(
                    "query_id",
                    "doc_id",
                    (
                        F.col("dot") / (F.element_at(nmap, F.col("query_id")) * F.col("norm"))
                    ).alias("score"),
                )
            )
    if cfg.include_zero_score_docs:
        if queries is None:
            raise ValueError("zero-restore profile needs the queries DataFrame")
        scored = _restore_zero_docs(scored, queries, index.doc_ids)
    return scored


def search_all(
    queries: DataFrame,
    index: CorpusIndex,
    *,
    k: int | None = None,
    cfg: EngineConfig = DEFAULT,
) -> dict[str, DataFrame]:
    """Top-k per strategy for a batch of queries:
    {"vector": df, "keyword": df, "hybrid": df}, each
    (query_id, doc_id, score, rank).

    The returned relations are LAZY and uncached: consuming an arm's
    top-k and the hybrid top-k executes that arm's scoring plan once
    per action (Spark shares nothing across actions without a cache).
    The hybrid blend uses ``minmax_via="window"`` so each arm plan
    appears exactly ONCE inside the hybrid action — the agg form would
    reference every uncached arm twice more (bounds agg + join probe).
    Callers that consume several relations repeatedly should hold the
    arms in :class:`operators.serving.ServingArms` (the cached-arm
    protocol) instead.
    """
    k = k if k is not None else cfg.k
    key = bm25_scores(queries, index, cfg=cfg)
    vec = vector_scores(queries, index, cfg=cfg)
    hyb = hybrid_scores(
        queries, index, cfg=cfg, keyword=key, vector=vec, minmax_via="window"
    )
    return {
        "vector": stable_topk(vec, k),
        "keyword": stable_topk(key, k),
        "hybrid": stable_topk(hyb, k),
    }


def search_all_tagged(
    queries: DataFrame,
    index: CorpusIndex,
    *,
    k: int | None = None,
    cfg: EngineConfig = DEFAULT,
    keyword: DataFrame | None = None,
    vector: DataFrame | None = None,
    minmax_via: str = "window",
) -> DataFrame:
    """(arm, query_id, doc_id, score, rank) — ALL THREE strategies'
    top-k in ONE relation, so one action serves the whole trio.

    This is the latency shape :func:`search_all` cannot give: its three
    relations cost one Spark action each, and at interactive grain the
    fixed per-action floor (scheduler round trip + stage launch,
    BASELINE.md's decomposition) dominates the actual scoring work —
    three actions pay the floor three times.  Here the keyword, vector
    and blended scores union under an ``arm`` tag and ONE row_number
    window over (arm, query_id) ranks all of them: one job, one floor,
    one ranking exchange — the same tagged-union fold
    ``operators/evaluate.py`` uses for the eval loop
    (strategy-tagged answers).  Per-arm rows are exactly
    :func:`search_all`'s (pinned by test).

    Pass CACHED arm score relations (``keyword``/``vector`` — the
    ServingArms / plans._scores serving profile) so each arm's plan
    executes once; with the defaults the uncached arm plans appear
    both in the union and inside the hybrid blend, which is correct
    but re-executes them (the search_all caching note applies
    doubly).

    Regime note (measured at 50k docs): each arm relation has TWO
    consumers inside the one action (the union and the blend), and a
    cold cache fills under concurrent consumers with some duplicated
    work — the fused action cost ~6 s there vs ~3.7 s for the three
    separate warm-cache actions (cached arms still beat uncached,
    6.1-6.5 vs 7.1-9.8: exchange reuse does not fully deduplicate the
    arm subtrees).  So this is the INTERACTIVE-grain shape — small
    matched sets or warm arms, where the saved action floors dominate
    (at 5k docs the fused trio ≈ the sum of the three, minus two
    floors); for bulk serving over cold big corpora, fill the arms
    once (ServingArms) and rank per arm."""
    k = k if k is not None else cfg.k
    key = keyword if keyword is not None else bm25_scores(queries, index, cfg=cfg)
    vec = vector if vector is not None else vector_scores(queries, index, cfg=cfg)
    hyb = hybrid_scores(
        queries, index, cfg=cfg, keyword=key, vector=vec, minmax_via=minmax_via
    )
    cols = ["query_id", "doc_id", "score"]
    tagged = (
        key.select(F.lit("keyword").alias("arm"), *cols)
        .unionByName(vec.select(F.lit("vector").alias("arm"), *cols))
        .unionByName(hyb.select(F.lit("hybrid").alias("arm"), *cols))
    )
    w = Window.partitionBy("arm", "query_id").orderBy(
        F.desc(F.round(F.col("score"), 10)), F.asc("doc_id")
    )
    return tagged.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )
