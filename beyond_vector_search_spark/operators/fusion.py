"""Rank fusion, query expansion, and diversification — the classic
"beyond a single retriever" operators layered over the score relations
of :mod:`operators.retrieval`.

The reference stops at a fixed min-max blend of its two retrievers
(retrievers.py:147-188, the ``hybrid_scores`` parity path).  Real
retrieval stacks run further stages — fusion, expansion,
diversification, spell correction, phrase/proximity matching — each
published and each purely relational, so they compose onto the
inverted-index join plans with no new scan of the corpus.  The three
headline ones:

- **Reciprocal Rank Fusion** (Cormack, Clarke & Buettcher, SIGIR 2009):
  score-free fusion, ``sum over arms of 1/(k0 + rank)``.  Ranks come
  from a per-arm window; the fusion itself is one union + hash
  aggregation — the same single-shuffle shape as ``hybrid_scores``.
- **Pseudo-relevance feedback** (Rocchio/RM3 family): take the top
  ``n_feedback`` documents of a first BM25 pass, mine their postings
  for the highest-weight expansion terms, re-score with the expanded
  term set.  Every stage is a join/agg over relations the index
  already serves (postings, term_stats) — the second pass reuses the
  same broadcast-join scoring shape as the first.
- **Maximal Marginal Relevance** (Carbonell & Goldstein, SIGIR 1998):
  greedy diversification of a small top-N candidate set.  The
  candidate pair similarities are an inverted-index self-join in the
  char-gram space; the greedy argmax loop is inherently sequential in
  ``k`` but touches only N rows per query, so it runs as a grouped
  Arrow kernel (applyInPandas over cogrouped candidates + pair sims)
  — the 100 TB-safe shape: per-query state is O(N), never the corpus.

Determinism contract (shared with the catalog oracles): every rank and
every comparison value is computed over scores ROUNDED to 6 decimals,
ties broken by ascending id — identical rules in the DuckDB oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from beyond_vector_search_spark.config import DEFAULT, EngineConfig
from beyond_vector_search_spark.functions.text import tokenize
from beyond_vector_search_spark.operators.corpus_index import CorpusIndex


def _arm_ranks(scored: DataFrame, *, round_to: int = 6) -> DataFrame:
    """(query_id, doc_id, rank) — per-query dense ranking of one arm's
    score relation with the catalog's deterministic ordering (rounded
    score desc, doc_id asc)."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round(F.col("score"), round_to)), F.asc("doc_id")
    )
    return scored.select("query_id", "doc_id", F.row_number().over(w).alias("rank"))


def rrf_scores(
    arms: dict[str, DataFrame],
    *,
    k0: int = 60,
    per_arm_k: int | None = None,
) -> DataFrame:
    """(query_id, doc_id, score) — Reciprocal Rank Fusion over any
    number of score relations (each ``(query_id, doc_id, score)``).

        rrf(d) = sum over arms a of 1 / (k0 + rank_a(d))

    ``k0=60`` is the constant of the original paper.  ``per_arm_k``
    truncates each arm to its top-k before fusing (the deployed shape:
    fusing full score relations is wasted work when only the fused
    top-k is served; None = fuse everything, the oracle-parity shape).

    Scale shape: one window per arm (each a single shuffle on
    query_id, AQE-coalesced), then union + one hash aggregation.  No
    score normalization is needed — RRF is rank-only, which is exactly
    why it is the robust default for fusing arms whose score scales
    are incomparable (BM25 vs cosine).
    """
    if not arms:
        raise ValueError("no arms given")
    parts = []
    for df in arms.values():
        ranked = _arm_ranks(df)
        if per_arm_k is not None:
            ranked = ranked.where(F.col("rank") <= per_arm_k)
        parts.append(
            ranked.select(
                "query_id", "doc_id", (1.0 / (k0 + F.col("rank"))).alias("part")
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.groupBy("query_id", "doc_id").agg(F.sum("part").alias("score"))


def prf_expansion_terms(
    queries: DataFrame,
    index: CorpusIndex,
    keyword_scores: DataFrame,
    *,
    n_feedback: int = 5,
    n_terms: int = 10,
) -> DataFrame:
    """(query_id, term, weight) — pseudo-relevance-feedback expansion
    terms: the ``n_terms`` highest-weight terms of the top
    ``n_feedback`` documents of the first-pass BM25 ranking, original
    query terms excluded.

    Term weight is the Rocchio-style centroid mass
    ``idf(t) * sum over feedback docs of tf(t, d)`` — a join of the
    (tiny) feedback set against postings, aggregated per (query, term).
    The feedback set is |queries| x n_feedback rows, always broadcast;
    postings never shuffles.
    """
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round(F.col("score"), 6)), F.asc("doc_id")
    )
    feedback = (
        keyword_scores.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= n_feedback)
        .select("query_id", "doc_id")
    )
    q_terms = queries.select(
        "query_id", F.explode(F.array_distinct(tokenize("query"))).alias("term")
    )
    mass = (
        F.broadcast(feedback)
        .join(index.postings.select("doc_id", "term", "tf"), "doc_id")
        .groupBy("query_id", "term")
        .agg(F.sum("tf").alias("ftf"))
        .join(index.term_stats.select("term", "idf"), "term")
        .join(q_terms, ["query_id", "term"], "left_anti")
        .select("query_id", "term", (F.col("idf") * F.col("ftf")).alias("weight"))
    )
    w_t = Window.partitionBy("query_id").orderBy(
        F.desc(F.round(F.col("weight"), 6)), F.asc("term")
    )
    return (
        mass.withColumn("trank", F.row_number().over(w_t))
        .where(F.col("trank") <= n_terms)
        .select("query_id", "term", "weight")
    )


def prf_bm25_scores(
    queries: DataFrame,
    index: CorpusIndex,
    keyword_scores: DataFrame,
    *,
    cfg: EngineConfig = DEFAULT,
    n_feedback: int = 5,
    n_terms: int = 10,
    beta: float = 0.4,
) -> DataFrame:
    """(query_id, doc_id, score) — BM25 re-scored with the expanded
    query: ``score = bm25(original) + beta * bm25(expansion terms)``.

    The expansion arm reuses the exact broadcast-join scoring shape of
    :func:`retrieval.bm25_scores` — expansion terms join term_stats
    and postings, aggregate per (query, doc) — then the two arms merge
    by the same union + hash-agg trick as ``hybrid_scores`` (one
    shuffle, partial aggregation map-side).
    """
    exp = prf_expansion_terms(
        queries, index, keyword_scores, n_feedback=n_feedback, n_terms=n_terms
    )
    _, avg_dl_val = index.scalar_values()
    avg_dl = F.lit(avg_dl_val if avg_dl_val != 0.0 else 1.0)
    k1, b = cfg.bm25_k1, cfg.bm25_b
    contrib = (
        F.col("idf")
        * (F.col("tf") * (k1 + 1.0))
        / (F.col("tf") + k1 * (1.0 - b + b * (F.col("dl") / avg_dl)))
    )
    exp_scored = (
        F.broadcast(exp.join(index.term_stats.select("term", "idf"), "term"))
        .join(index.postings, "term")
        .select("query_id", "doc_id", (F.lit(beta) * contrib).alias("part"))
    )
    return (
        keyword_scores.select("query_id", "doc_id", F.col("score").alias("part"))
        .unionByName(exp_scored)
        .groupBy("query_id", "doc_id")
        .agg(F.sum("part").alias("score"))
    )


def spell_suggestions(
    terms: DataFrame,
    index: CorpusIndex,
    *,
    max_distance: int = 2,
    top_n: int = 3,
    gram_n: int = 3,
) -> DataFrame:
    """(term, suggestion, distance, df, rank) — "did you mean"
    spell-correction of query terms against the index vocabulary:
    char-``gram_n``-gram blocking proposes vocabulary terms sharing at
    least one gram, then exact Levenshtein distance (JVM built-in — no
    Python) verifies within ``max_distance``; suggestions rank by
    (distance asc, df desc, suggestion asc), top ``top_n`` per term.

    The classic two-stage fuzzy-match shape: blocking makes the
    candidate set proportional to shared-gram collisions instead of
    |terms| x |vocabulary|, and the expensive edit distance runs only
    on survivors.  The vocabulary gram index derives from term_stats
    (aggregated rows, not the corpus); at cluster scale persist it
    alongside the index and broadcast the (tiny) misspelled-term side.

    ``terms``: a (term) or (query_id, term) relation — typically the
    OOV terms of a query batch (anti-join against term_stats).
    """
    from beyond_vector_search_spark.functions.text import char_ngrams

    vocab = index.term_stats.select(F.col("term").alias("suggestion"), "df")
    vgrams = vocab.select(
        "suggestion", "df",
        F.explode(F.array_distinct(char_ngrams(F.col("suggestion"), gram_n))).alias("g"),
    )
    tgrams = terms.select(
        "term", F.explode(F.array_distinct(char_ngrams(F.col("term"), gram_n))).alias("g")
    )
    cand = (
        F.broadcast(tgrams)
        .join(vgrams, "g")
        .select("term", "suggestion", "df")
        .distinct()
    )
    # compare case-folded: the vocabulary is lowercase (tokenize), and a
    # caller's "Shufle" should still be distance-1 from "shuffle"
    dist = F.levenshtein(F.lower("term"), "suggestion")
    verified = cand.where(
        (dist <= max_distance) & (F.lower("term") != F.col("suggestion"))
    ).select(
        "term",
        "suggestion",
        dist.cast("int").alias("distance"),
        F.col("df").cast("long").alias("df"),
    )
    w = Window.partitionBy("term").orderBy(
        F.asc("distance"), F.desc("df"), F.asc("suggestion")
    )
    return (
        verified.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_n)
    )


def phrase_counts(
    docs: DataFrame,
    phrases: list[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    kernel: bool = True,
) -> DataFrame:
    """(doc_id, phrase, phrase_tf) — exact-phrase occurrence counts:
    how many token positions start the given token sequence (overlap
    counted, standard positional-index semantics).  Only documents
    containing a phrase appear.

    ``kernel=True`` (default) counts every phrase in ONE Arrow pass
    over the text (tokenize once, a sliding-window compare per phrase)
    — zero exchanges, one scan regardless of phrase count.  The
    expression form (``kernel=False``, the semantic definition the
    DuckDB oracle mirrors) pays an interpreted ``aggregate``-over-
    ``slice`` per position per phrase AND one scan per phrase arm:
    measured at sf0.1 (5k docs, 3 phrases) 7.7 s vs 0.4 s — the same
    interpreted-HOF-vs-kernel gap as the shingle kernels
    (functions/kernels.py).  Row parity pinned by test.

    The phrase list folds into the plan either way, so at 100 TB this
    is narrow-scan parallel; for a LARGE phrase set, build a positional
    inverted index instead (dedup.positioned_shingle_rows) and join on
    the first term.
    """
    from beyond_vector_search_spark.functions.kernels import _project, tokens
    from beyond_vector_search_spark.functions.text import tokenize

    ptoks_by_phrase = [(phrase, tokens(phrase)) for phrase in phrases]
    ptoks_by_phrase = [(p, pt) for p, pt in ptoks_by_phrase if pt]
    if not ptoks_by_phrase:
        raise ValueError("no non-empty phrases given")

    if kernel:
        from collections.abc import Iterator

        src, id_type = _project(docs, id_col, F.col(text_col))

        def k(batches: Iterator) -> Iterator:
            import pandas as pd

            for pdf in batches:
                ids, phs, tfs = [], [], []
                for doc_id, txt in zip(pdf["doc_id"], pdf["_text"]):
                    toks = tokens(txt)
                    n = len(toks)
                    for phrase, pt in ptoks_by_phrase:
                        m = len(pt)
                        if n < m:
                            continue
                        c = sum(1 for i in range(n - m + 1) if toks[i : i + m] == pt)
                        if c:
                            ids.append(doc_id)
                            phs.append(phrase)
                            tfs.append(c)
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series(ids, dtype=pdf["doc_id"].dtype),
                        "phrase": pd.Series(phs, dtype="object"),
                        "phrase_tf": pd.Series(tfs, dtype="int64"),
                    }
                )

        return src.mapInPandas(k, f"doc_id {id_type}, phrase string, phrase_tf long")

    toked = docs.select(
        F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("toks")
    )
    arms = []
    for phrase, ptoks in ptoks_by_phrase:
        m = len(ptoks)
        target = F.array(*[F.lit(t) for t in ptoks])
        # positions 1 .. n-m+1; guard the degenerate n < m case (Spark's
        # sequence(1, 0) would count DOWN)
        n_starts = F.size("toks") - (m - 1)
        count = F.when(n_starts < 1, F.lit(0)).otherwise(
            F.aggregate(
                F.sequence(F.lit(1), n_starts),
                F.lit(0),
                lambda acc, i: acc + F.when(F.slice("toks", i, m) == target, 1).otherwise(0),
            )
        )
        arms.append(
            toked.select(
                "doc_id",
                F.lit(phrase).alias("phrase"),
                count.cast("long").alias("phrase_tf"),
            ).where(F.col("phrase_tf") > 0)
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out


def proximity_counts(
    docs: DataFrame,
    term_pairs: list[tuple[str, str]],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 5,
    max_positions: int | None = None,
    kernel: bool = True,
) -> DataFrame:
    """(doc_id, term_a, term_b, min_dist, n_within) — positional
    proximity of term pairs: the minimum token distance between any
    occurrence of ``term_a`` and any occurrence of ``term_b``, and how
    many (a, b) occurrence pairs fall within ``window`` tokens.  Only
    documents containing BOTH terms appear; ``min_dist`` is the
    standard proximity-scoring input (score ~ 1/(1+min_dist)).

    ``kernel=True`` (default) computes every pair's position lists and
    distance stats in ONE Arrow pass (tokenize once per doc) — zero
    exchanges, one scan regardless of pair count.  The expression form
    (``kernel=False``, the semantic definition the DuckDB oracle
    mirrors) pays an interpreted position ``filter`` over the full
    index sequence per term per pair, a nested-``transform`` distance
    matrix per pair, one scan per pair arm — and the pushed
    ``min_dist IS NOT NULL`` filter re-evaluates the whole chain below
    the project.  Measured at sf0.1 (5k docs, 3 pairs): 28.8 s vs
    0.4 s — the largest interpreted-HOF penalty in the catalog.  Row
    parity pinned by test.  Terms are matched post-tokenization
    (lowercased) on both paths.

    The distance matrix is |positions(a)| x |positions(b)| PER ROW — a
    degenerate document repeating both terms thousands of times makes
    that quadratic.  ``max_positions`` caps each position list to its
    first N occurrences (min_dist then approximates over the prefix);
    None = exact, the oracle-parity setting.
    """
    from beyond_vector_search_spark.functions.text import tokenize

    if kernel:
        from collections.abc import Iterator

        from beyond_vector_search_spark.functions.kernels import _project, tokens

        pairs = [(a, b, a.lower(), b.lower()) for a, b in term_pairs]
        if not pairs:
            raise ValueError("no term pairs given")
        src, id_type = _project(docs, id_col, F.col(text_col))

        def k(batches: Iterator) -> Iterator:
            import pandas as pd

            for pdf in batches:
                ids, tas, tbs, mds, nws = [], [], [], [], []
                for doc_id, txt in zip(pdf["doc_id"], pdf["_text"]):
                    toks = tokens(txt)
                    for a, b, al, bl in pairs:
                        pa = [i for i, t in enumerate(toks) if t == al]
                        pb = [i for i, t in enumerate(toks) if t == bl]
                        if max_positions is not None:
                            pa = pa[:max_positions]
                            pb = pb[:max_positions]
                        if not pa or not pb:
                            continue
                        dists = [abs(x - y) for x in pa for y in pb]
                        ids.append(doc_id)
                        tas.append(a)
                        tbs.append(b)
                        mds.append(min(dists))
                        nws.append(sum(1 for d in dists if d <= window))
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series(ids, dtype=pdf["doc_id"].dtype),
                        "term_a": pd.Series(tas, dtype="object"),
                        "term_b": pd.Series(tbs, dtype="object"),
                        "min_dist": pd.Series(mds, dtype="int64"),
                        "n_within": pd.Series(nws, dtype="int64"),
                    }
                )

        return src.mapInPandas(
            k,
            f"doc_id {id_type}, term_a string, term_b string, "
            "min_dist long, n_within long",
        )

    toked = docs.select(
        F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("toks")
    )

    def positions(term: str) -> Column:
        # F.get is 0-based and NULL-safe out of bounds (element_at
        # throws under ANSI mode on the empty-document guard index)
        pos = F.filter(
            F.sequence(F.lit(1), F.greatest(F.size("toks"), F.lit(1))),
            lambda i: F.get("toks", i - 1) == F.lit(term.lower()),
        )
        return pos if max_positions is None else F.slice(pos, 1, max_positions)

    arms = []
    for a, b in term_pairs:
        pa, pb = positions(a), positions(b)
        dists = F.flatten(
            F.transform(pa, lambda x: F.transform(pb, lambda y: F.abs(x - y)))
        )
        arms.append(
            toked.select(
                "doc_id",
                F.lit(a).alias("term_a"),
                F.lit(b).alias("term_b"),
                F.array_min(dists).cast("long").alias("min_dist"),
                F.size(F.filter(dists, lambda d: d <= window)).cast("long").alias("n_within"),
            ).where(F.col("min_dist").isNotNull())
        )
    if not arms:
        raise ValueError("no term pairs given")
    out = arms[0]
    for arm in arms[1:]:
        out = out.unionByName(arm)
    return out


def candidate_pair_sims(candidates: DataFrame, index: CorpusIndex) -> DataFrame:
    """(doc_a, doc_b, sim) — char-gram TF-IDF cosine between every
    unordered pair of DISTINCT candidate documents (doc_a < doc_b).

    The pair similarities are query-independent, so candidates shared
    by several queries are paired once.  Shape: restrict doc_vec to
    the candidate set (broadcast semi-join — the candidate set is
    |queries| x N, tiny by construction), then the standard inverted
    self-join on gram.  With N candidates the pair space is O(N^2)
    per query — bounded by the caller's top-N cut, never corpus-sized.
    """
    cand_ids = candidates.select("doc_id").distinct()
    gram_tf = getattr(index, "gram_tf", None)
    if gram_tf is not None:
        # in-session index: prune the RAW per-doc gram counts to the
        # candidate set FIRST, then reconstruct weights and norms from
        # the pruned rows only — the full-corpus doc_vec/doc_norm chain
        # (every gram row of the corpus through two broadcast builds)
        # never runs.  A candidate's norm needs all of ITS OWN grams,
        # which the doc_id-pruned relation retains, so the norms here
        # are identical to index.doc_norm's (same gram_stats inner
        # join, same ``or 1.0`` guard).
        w = (
            gram_tf.join(F.broadcast(cand_ids), "doc_id")
            .join(F.broadcast(index.gram_stats.select("gram", "idf")), "gram")
            .select(
                "doc_id", "gram", ((1.0 + F.log("tf")) * F.col("idf")).alias("weight")
            )
        )
        norms = w.groupBy("doc_id").agg(
            F.coalesce(
                F.nullif(F.sqrt(F.sum(F.col("weight") * F.col("weight"))), F.lit(0.0)),
                F.lit(1.0),
            ).alias("norm")
        )
        vec = w.join(F.broadcast(norms), "doc_id")
    else:
        # parquet-loaded index: doc_vec is a flat pre-joined relation —
        # one broadcast semi-join prunes it
        vec = index.doc_vec.join(F.broadcast(cand_ids), "doc_id").select(
            "doc_id", "gram", "weight", "norm"
        )
    a = vec.select(
        F.col("doc_id").alias("doc_a"), "gram",
        F.col("weight").alias("wa"), F.col("norm").alias("na"),
    )
    b = vec.select(
        F.col("doc_id").alias("doc_b"), "gram",
        F.col("weight").alias("wb"), F.col("norm").alias("nb"),
    )
    return (
        a.join(b, "gram")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            (F.sum(F.col("wa") * F.col("wb")) / F.first(F.col("na") * F.col("nb"))).alias("sim")
        )
    )


def mmr_rerank(
    candidates: DataFrame,
    index: CorpusIndex,
    *,
    k: int = 5,
    lam: float = 0.7,
    round_to: int = 6,
) -> DataFrame:
    """(query_id, doc_id, mmr_rank, mmr_score) — Maximal Marginal
    Relevance selection of ``k`` documents from each query's candidate
    set (``candidates``: (query_id, doc_id, score) — typically a
    top-N cut of a retriever).

        mmr(d) = lam * rel(d) - (1 - lam) * max over selected s of sim(d, s)

    selected greedily; the first pick is the pure-relevance argmax.
    Ties (after rounding to ``round_to``) break by ascending doc_id —
    the deterministic rule every catalog ranking uses.

    Physical shape: pair similarities come from
    :func:`candidate_pair_sims` (inverted-index self-join, O(N^2) per
    query); the greedy loop runs per query group as a cogrouped
    Arrow kernel (``cogroup(...).applyInPandas``) over N candidate
    rows + N^2/2 sim rows — per-query state is O(N), so a billion
    queries parallelize trivially and no stage ever sees the corpus.

    Relevance and sims are pre-rounded to ``round_to`` before the MMR
    arithmetic so the selection sequence is reproducible cross-engine
    (the DuckDB oracle unrolls the same greedy loop as k CTE steps).
    """
    import math

    import pandas as pd

    def _round_away(x: float, digits: int = round_to) -> float:
        """round-half-away-from-zero — the rule SQL round() applies
        (DuckDB: std::round of the scaled value; Spark: BigDecimal
        HALF_UP).  Python's built-in round is half-EVEN and disagrees
        exactly on the .5 boundary the greedy argmax can land on."""
        m = 10.0 ** digits
        return (math.floor(x * m + 0.5) if x >= 0 else math.ceil(x * m - 0.5)) / m

    # The candidate relation is referenced four times below (pair-sim
    # id set, both membership sides, and the cogroup input) — cache it
    # LAZILY so a caller passing a raw scoring chain doesn't pay four
    # re-executions of the retrieval plan.  No job runs at plan
    # construction; the first action materializes the (per-query-
    # bounded) candidate rows once.  Callers that pass an already-
    # cached/memoized relation lose nothing.  The cache is SCOPED to
    # the returned DataFrame's lifetime (weakref finalizer below):
    # repeated mmr_rerank calls in a long-lived session release each
    # call's candidate cache once its result is dropped — unpersisting
    # is always safe (worst case the candidates recompute).
    cand = candidates.select(
        "query_id", "doc_id", F.round("score", round_to).alias("rel")
    ).cache()
    sims = candidate_pair_sims(cand, index)
    # distinct column names on the two candidate projections: both
    # derive from the same plan, and Spark's self-join ambiguity check
    # rejects a shared `query_id` joined twice
    ca = cand.select(F.col("query_id").alias("qa"), F.col("doc_id").alias("doc_a"))
    cb = cand.select(F.col("query_id").alias("qb"), F.col("doc_id").alias("pdoc_b"))
    pair_q = (
        sims.select("doc_a", "doc_b", F.round("sim", round_to).alias("sim"))
        .join(F.broadcast(ca), "doc_a")
        .join(
            F.broadcast(cb),
            (F.col("qb") == F.col("qa")) & (F.col("pdoc_b") == F.col("doc_b")),
        )
        .select(F.col("qa").alias("query_id"), "doc_a", "doc_b", "sim")
    )

    lam_v, k_v = float(lam), int(k)

    def _mmr(key, cand_pdf: pd.DataFrame, pair_pdf: pd.DataFrame) -> pd.DataFrame:
        cand_pdf = cand_pdf.sort_values("doc_id").reset_index(drop=True)
        rel = dict(zip(cand_pdf["doc_id"], cand_pdf["rel"]))
        sim: dict[tuple[int, int], float] = {}
        for da, db, s in zip(pair_pdf["doc_a"], pair_pdf["doc_b"], pair_pdf["sim"]):
            sim[(da, db)] = s
            sim[(db, da)] = s
        selected: list[int] = []
        scores: list[float] = []
        remaining = list(cand_pdf["doc_id"])
        while remaining and len(selected) < k_v:
            best_doc, best_val = None, None
            for d in remaining:
                if selected:
                    max_sim = max(sim.get((d, s), 0.0) for s in selected)
                    val = _round_away(lam_v * rel[d] - (1.0 - lam_v) * max_sim)
                else:
                    val = _round_away(lam_v * rel[d])
                # argmax with ascending-doc_id tie-break: remaining is
                # doc_id-sorted, so strictly-greater keeps the first
                if best_val is None or val > best_val:
                    best_doc, best_val = d, val
            selected.append(best_doc)
            scores.append(best_val)
            remaining.remove(best_doc)
        return pd.DataFrame(
            {
                "query_id": [key[0]] * len(selected),
                "doc_id": selected,
                "mmr_rank": list(range(1, len(selected) + 1)),
                "mmr_score": scores,
            }
        )

    # output id/query types follow the input (the catalog uses bigint
    # doc_ids, the reference corpus uses strings — both must work)
    dtypes = dict(candidates.dtypes)
    schema = (
        f"query_id {dtypes['query_id']}, doc_id {dtypes['doc_id']}, "
        "mmr_rank int, mmr_score double"
    )
    out = (
        cand.groupBy("query_id")
        .cogroup(pair_q.groupBy("query_id"))
        .applyInPandas(_mmr, schema=schema)
    )

    # Release the candidate cache when the result DataFrame is garbage
    # collected: blocking=False and a broad guard because the finalizer
    # may fire at interpreter shutdown, after the JVM is gone.
    import weakref

    def _release(df=cand):
        try:
            df.unpersist(blocking=False)
        except Exception:  # noqa: BLE001 — session/JVM already stopped
            pass

    weakref.finalize(out, _release)
    return out
