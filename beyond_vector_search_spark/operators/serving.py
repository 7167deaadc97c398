"""Shared serving-arm protocol: build each retrieval arm's score
relation ONCE per (index, query batch) and serve every consumer from
the cached relation.

Motivation (SCALING.jsonl, rounds 5-6): the fusion family — RRF, PRF,
MMR — and the ranking-metrics/LTR exports each need one or more of the
keyword/vector/hybrid score relations.  Called naively, every operator
re-derives its arms from the index (4-7 s each at 50k-100k docs); held
here, a deployment gets the single-scan shape: ONE arm build per
(index snapshot, query batch), then every fusion/rerank/export call is
pure post-processing of cached rows.

This is the one place where a query batch becomes arm score
relations: ``cli run`` serves every strategy through one
``ServingArms``, and the catalog's session memo
(``plans/entry_queries._scores``) holds one per scale-factor
directory, so the arms the catalog oracles pin
(compiled_bm25_scores / compiled_vector_scores / hybrid_scores) are
the arms every serving caller reads.

Reference note: the reference engine rebuilds its whole in-memory index
per process and re-scores per call (run.py:18-23, retrievers.py); an
explicit shared-arm object is the Spark-side analogue of its
`retrievers` dict living for the process lifetime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from beyond_vector_search_spark.config import DEFAULT, EngineConfig
from beyond_vector_search_spark.operators import retrieval as rt
from beyond_vector_search_spark.operators.corpus_index import CorpusIndex

_ARM_NAMES = ("keyword", "vector", "hybrid")


class ServingArms:
    """Lazily-built, cached arm score relations for one query batch.

    ``queries``: a (query_id, query) DataFrame or a list of
    (query_id, query) tuples.  The batch is resolved against the index
    once and scored via the scan-prunable literal-fold path
    (:func:`retrieval.compile_query_batch`); batches the compiled path
    rejects — non-string ids, or more distinct features than
    ``max_features`` — fall back to the join-form scorers
    automatically (the bulk regime, where broadcasting the query side
    is the right plan anyway).

    Each arm builds on FIRST ACCESS and is ``.cache()``-ed (lazily —
    no job runs until a consumer acts); ``hybrid`` blends the two
    cached arms, so the three relations cost two corpus scans total.
    Call :meth:`release` (or use as a context manager) to unpersist.

    Usage::

        arms = ServingArms(index, [("q1", "spark join performance")])
        rrf   = rrf_scores(arms.as_dict("keyword", "vector"))
        prf   = prf_bm25_scores(qdf, index, arms.arm("keyword"))
        mmr   = mmr_rerank(arms.topk("vector", 12), index, k=5)
        arms.release()
    """

    def __init__(
        self,
        index: CorpusIndex,
        queries,
        *,
        cfg: EngineConfig = DEFAULT,
    ) -> None:
        self.index = index
        self.cfg = cfg
        if isinstance(queries, DataFrame):
            self._queries_df: DataFrame | None = queries
            self._rows: list[tuple] | None = None
        else:
            self._queries_df = None
            self._rows = list(queries)
        if self._rows is not None:
            # duplicate ids are a CALLER bug on EVERY path: the compiled
            # path raises DuplicateQueryIdError inside compile, but the
            # join-form fallback (a rejected batch) would silently SUM
            # the duplicates' contributions into doubled scores — fail
            # loudly here instead
            ids = [qid for qid, _ in self._rows]
            if len(set(ids)) != len(ids):
                raise rt.DuplicateQueryIdError(
                    "duplicate query_id in batch — ids must be unique"
                )
        self._batch = None  # CompiledQueryBatch | False (fallback) | None (unresolved)
        self._arms: dict[str, DataFrame] = {}

    # -- inputs ------------------------------------------------------------

    def queries_df(self) -> DataFrame:
        """The (query_id, query) DataFrame form (built once if the batch
        came in as tuples)."""
        if self._queries_df is None:
            spark = self.index.doc_ids.sparkSession
            self._queries_df = spark.createDataFrame(
                self._rows, "query_id STRING, query STRING"
            )
        return self._queries_df

    def _compiled_batch(self):
        """The compiled batch, or False when the batch is not
        compilable (falls back to the join form)."""
        if self._batch is None:
            src = self._rows if self._rows is not None else self._queries_df
            try:
                self._batch = rt.compile_query_batch(src, self.index, cfg=self.cfg)
            except rt.DuplicateQueryIdError:
                # caller bug, not a regime: the join form would
                # silently emit duplicated score rows — fail loudly
                raise
            except ValueError:
                # non-string ids or feature count over max_features:
                # the documented bulk regime — join-form scorers
                self._batch = False
        return self._batch

    def _assert_unique_df_ids(self) -> None:
        """Join-form fallback guard for DataFrame-input batches: the
        compiled path checks duplicates driver-side during compile, but
        the join form would silently SUM a duplicated id's rows into
        doubled scores.  One tiny bounded job, run once per batch."""
        if self._rows is not None or getattr(self, "_df_ids_ok", False):
            return
        dup = (
            self._queries_df.groupBy("query_id")
            .count()
            .where("count > 1")
            .limit(1)
            .collect()
        )
        if dup:
            raise rt.DuplicateQueryIdError(
                f"duplicate query_id in batch ({dup[0]['query_id']!r}) — ids must be unique"
            )
        self._df_ids_ok = True

    # -- arms --------------------------------------------------------------

    def arm(self, name: str) -> DataFrame:
        """(query_id, doc_id, score) for ``name`` in keyword | vector |
        hybrid — built on first access, cached, reused thereafter."""
        if name not in _ARM_NAMES:
            raise ValueError(f"unknown arm {name!r} (expected one of {_ARM_NAMES})")
        if name not in self._arms:
            if name == "hybrid":
                df = rt.hybrid_scores(
                    self.queries_df(),
                    self.index,
                    cfg=self.cfg,
                    keyword=self.arm("keyword"),
                    vector=self.arm("vector"),
                )
            else:
                batch = self._compiled_batch()
                if batch is not False:
                    scorer = (
                        rt.compiled_bm25_scores
                        if name == "keyword"
                        else rt.compiled_vector_scores
                    )
                    df = scorer(
                        self.index, batch, queries=self.queries_df(), cfg=self.cfg
                    )
                else:
                    self._assert_unique_df_ids()
                    scorer = rt.bm25_scores if name == "keyword" else rt.vector_scores
                    df = scorer(self.queries_df(), self.index, cfg=self.cfg)
            self._arms[name] = df.cache()
        return self._arms[name]

    def as_dict(self, *names: str) -> dict[str, DataFrame]:
        """{name: score relation} — the :func:`fusion.rrf_scores` arms
        input.  Defaults to keyword + vector."""
        names = names or ("keyword", "vector")
        return {n: self.arm(n) for n in names}

    def topk(self, name: str, k: int) -> DataFrame:
        """stable_topk of one arm (the MMR/export candidate shape)."""
        return rt.stable_topk(self.arm(name), k)

    def tagged_topk(self, k: int) -> DataFrame:
        """(arm, query_id, doc_id, score, rank) — ALL THREE arms'
        top-k as one relation (:func:`retrieval.search_all_tagged`
        over this object's cached arms): one action serves the whole
        trio, the interactive-latency shape.  After
        :meth:`materialize` the single action reads warm caches and
        pays exactly one job floor for all three strategies."""
        return rt.search_all_tagged(
            self.queries_df(),
            self.index,
            k=k,
            cfg=self.cfg,
            keyword=self.arm("keyword"),
            vector=self.arm("vector"),
        )

    def materialize(self, *names: str) -> "ServingArms":
        """Force-build the named arms (default keyword + vector) so
        later consumers serve entirely from cache — the explicit
        'index warm-up' step of a serving deployment.  Arm fills run as
        CONCURRENT jobs (they share the executor pool; measured at
        sf0.1 the pair fills in ~0.4 s wall vs ~1.4 s sequentially)."""
        import concurrent.futures as cf

        arms = [self.arm(n) for n in names or ("keyword", "vector")]
        with cf.ThreadPoolExecutor(max_workers=max(1, len(arms))) as ex:
            list(ex.map(lambda df: df.count(), arms))
        return self

    def release(self) -> None:
        """Unpersist every cached arm (idempotent)."""
        for df in self._arms.values():
            df.unpersist()
        self._arms.clear()

    def __enter__(self) -> "ServingArms":
        return self

    def __exit__(self, *exc) -> None:
        self.release()
