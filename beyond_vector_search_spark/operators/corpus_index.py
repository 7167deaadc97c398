"""Batch index construction as DataFrame aggregations.

Re-expresses the reference's index builders (index.py:21-46 build_corpus_stats,
retrievers.py:57-85 VectorRetriever.build, retrievers.py:117-123
KeywordRetriever.build) as pure ``groupBy``/``agg`` dataflow, in two
steps.  :func:`build_delta` scans the document text once per term space
into the idf-independent per-document relations (:class:`IndexDelta`);
:func:`index_from_delta` is the ONE derivation of every global
statistic from them (``build_index`` and every incremental refresh go
through it):

    documents ──tokens──> postings(term, doc_id, tf, dl) ─┬─groupBy(term)──> term_stats(term, df, idf, is_rare)
              │                                           └─groupBy(doc_id)─> doc_stats(doc_id, doc_len) ──> scalars(n_docs, avg_dl)
              ├─char 4-grams─> gram_tf(doc_id, gram, tf) ─┬─groupBy(gram)──> gram_stats(gram, df, idf)
              │                                           └─join idf──> weights ─┬─groupBy(doc_id)─> doc_norm(doc_id, norm)
              │                                                                  └─join doc_norm──> doc_vec(doc_id, gram, weight, norm)
              └─────────────> doc_ids(doc_id)

Catalyst performs partial+final hash aggregation (map-side combine) for
every groupBy here, so the document-frequency counts never shuffle raw
token streams — only (term, partial_count) pairs.  The corpus size
(n_docs) is a 1-row DataFrame crossJoin-broadcast into consumers,
keeping the whole build lazy and cluster-sized (never ``collect()``ed).

The token space and the char-4-gram space are deliberately DISJOINT
(reference retrievers.py:59-61) — two separate builds.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from beyond_vector_search_spark.config import DEFAULT, EngineConfig
from beyond_vector_search_spark.functions.text import tokenize

# Smoothed BM25-style idf: ln(1 + (N - df + 0.5)/(df + 0.5))  (index.py:39-41;
# the same formula is reused for the gram space at retrievers.py:71).


def _idf(n_docs: Column, df: Column) -> Column:
    return F.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def doc_tokens(docs: DataFrame, *, id_col: str = "doc_id", text: Column | str = "text") -> DataFrame:
    """(doc_id, tokens array<string>) — tokenization of the index text.

    ``text`` may be any Column expression (e.g. ``concat_ws(' ', title, text)``
    to reproduce the reference's ``title + " " + text`` at index.py:27).
    """
    return docs.select(F.col(id_col).alias("doc_id"), tokenize(text).alias("tokens"))


def doc_grams(docs: DataFrame, *, id_col: str = "doc_id", text: Column | str = "text", n: int = 4) -> DataFrame:
    """(doc_id, grams array<string>) — char n-gram shingling.

    Two projections on purpose: the normalized string is materialized as
    a column before the per-gram transform (see
    functions.text.char_ngrams_from_normed — inlining the normalization
    into the lambda re-runs the regex once per gram)."""
    from beyond_vector_search_spark.functions.text import char_ngrams_from_normed, normalize_ws

    normed = docs.select(F.col(id_col).alias("doc_id"), normalize_ws(text).alias("_s"))
    return normed.select("doc_id", char_ngrams_from_normed("_s", n).alias("grams"))


def build_postings(tokens_df: DataFrame) -> DataFrame:
    """(term, doc_id, tf, dl) — the inverted index (retrievers.py:117-123's
    per-doc term-frequency maps, in long format).  ``dl`` = the doc's
    total token count, denormalized per posting row so BM25 scoring
    needs no doc_stats join (see kernels.term_tf_frame)."""
    return (
        tokens_df.select(
            "doc_id", F.size("tokens").cast("long").alias("dl"), F.explode("tokens").alias("term")
        )
        .groupBy("term", "doc_id", "dl")
        .agg(F.count("*").alias("tf"))
        .select("term", "doc_id", "tf", "dl")
    )


def build_doc_norm(doc_vec: DataFrame) -> DataFrame:
    """(doc_id, norm) — L2 norm with the ``or 1.0`` empty-vector guard
    (retrievers.py:84)."""
    return doc_vec.groupBy("doc_id").agg(
        F.coalesce(
            F.nullif(F.sqrt(F.sum(F.col("weight") * F.col("weight"))), F.lit(0.0)),
            F.lit(1.0),
        ).alias("norm")
    )


@dataclass
class CorpusIndex:
    """The persisted index of the engine — eight DataFrames (the
    ``_FIELDS`` that save/load persist) plus the optional in-session
    ``gram_tf``, all derived by :func:`index_from_delta`.

    Unlike the reference (which rebuilds the whole index on every CLI
    invocation, run.py:18-23), the index is built once, optionally
    persisted to parquet partitioned for the scoring joins, and reused.
    """

    doc_stats: DataFrame   # (doc_id, doc_len)
    term_stats: DataFrame  # (term, df, idf, is_rare)
    postings: DataFrame    # (term, doc_id, tf, dl) — dl denormalized for BM25
    gram_stats: DataFrame  # (gram, df, idf)
    doc_vec: DataFrame     # (doc_id, gram, weight, norm) — norm denormalized for cosine
    doc_norm: DataFrame    # (doc_id, norm)
    scalars: DataFrame     # 1 row (n_docs, avg_dl)
    doc_ids: DataFrame     # (doc_id) — for zero-score restoration
    # Raw per-doc gram counts (the delta relation doc_vec derives from).
    # Present on an in-session index (index_from_delta) so cosine
    # scoring can join it directly (retrieval.vector_scores' gram_tf
    # path); None on an index loaded from disk, where doc_vec is a flat
    # pre-joined relation and the direct join buys nothing.  Not part of
    # _FIELDS: save()/load() persist doc_vec instead.
    gram_tf: DataFrame | None = None

    _FIELDS = ["doc_stats", "term_stats", "postings", "gram_stats", "doc_vec", "doc_norm", "scalars", "doc_ids"]

    def cache(self, *, skip: tuple = ()) -> "CorpusIndex":
        """Cache the index relations.  ``skip`` names fields to leave
        uncached — the serving profile built over a checkpointed delta
        skips (a) postings/doc_ids, already materialized by the
        checkpoint (caching them again would store a second, columnar
        copy of the same rows), and (b) doc_vec, which is cheaper to
        re-derive per query (one scan of checkpointed gram_tf + two
        broadcast joins) than to write as a second 100%-of-corpus cache
        — measured at sf0.1: caching doc_vec costs ~2s of build for
        ~0.2s/query of savings."""
        for f in self._FIELDS:
            if f not in skip:
                getattr(self, f).cache()
        return self

    # Dependency waves for eager materialization: every relation in a
    # wave only reads relations from earlier waves (or the delta), so
    # concurrent jobs within a wave never race to compute a shared
    # uncached parent twice.
    _WAVES = [
        ["postings", "term_stats", "doc_stats", "gram_stats", "scalars", "doc_ids"],
        ["doc_norm"],
        ["doc_vec"],
    ]

    def materialize(self) -> "CorpusIndex":
        """Force every CACHED relation to be built NOW, running each
        dependency wave as concurrent Spark jobs (thread-per-count; the
        scheduler interleaves their stages across cores).  A sequential
        7-count loop leaves most cores idle between tiny stages — at
        sf0.1 this cuts index materialization roughly in half.
        Uncached fields are skipped: they are either already eager
        (checkpointed delta relations) or deliberately served as views
        (see ``cache(skip=...)``); counting them would compute and
        discard."""
        import concurrent.futures as cf

        # warm the scalar memo alongside the waves: it is a 1-row agg
        # over doc_stats that every compiled-serving batch needs —
        # running it here overlaps the first wave's jobs (idle-core
        # absorption), so the first query's compile step finds it warm
        # instead of paying the two-stage agg in its own latency window
        # a loaded (flat) index has no inter-relation dependencies —
        # every field is its own parquet scan — so all counts run as
        # one concurrent wave instead of three sequential ones
        waves = (
            [[f for w in self._WAVES for f in w]]
            if getattr(self, "_flat", False)
            else self._WAVES
        )
        with cf.ThreadPoolExecutor(max_workers=1) as sex:
            fut = sex.submit(self.scalar_values)
            for wave in waves:
                todo = [
                    f
                    for f in wave
                    if getattr(self, f, None) is not None
                    and getattr(self, f).is_cached
                ]
                if not todo:
                    continue
                with cf.ThreadPoolExecutor(max_workers=len(todo)) as ex:
                    list(ex.map(lambda f: getattr(self, f).count(), todo))
            fut.result()
        return self

    def scalar_values(self) -> tuple[int, float]:
        """(n_docs, avg_dl) as Python values — a one-time 1-row collect,
        memoized per index.  Scoring folds these in as literals, which
        removes a BroadcastNestedLoopJoin stage from every query plan;
        the values are exact (integer sum / count), so query results are
        bit-identical to the join form."""
        if getattr(self, "_scalar_vals", None) is None:
            row = self.scalars.first()
            self._scalar_vals = (int(row["n_docs"]), float(row["avg_dl"]))
        return self._scalar_vals

    def warm_idf(
        self, *, max_terms: int = 100_000, max_grams: int = 100_000
    ) -> "CorpusIndex":
        """Pre-collect the highest-df term/gram idf values into a
        driver-side dict (two concurrent TakeOrderedAndProject jobs,
        bounded at ``max_terms``/``max_grams`` rows — a few MB of
        floats even at the caps).  ``compile_query_batch`` then
        resolves query vocabulary from the dict and hits the cluster
        only for terms the cache misses — for common-vocabulary
        queries the compile step becomes ZERO jobs, which removes one
        of the serving trio's three first-call floors (BASELINE.md
        decomposition).  When a table fits entirely under its cap the
        cache is marked COMPLETE and misses are genuine OOV (no
        residual lookup at all).  One-off startup cost alongside
        load/materialize; values are the exact collected idf doubles,
        so scores are bit-identical to the uncached path (pinned by
        tests/test_compiled_serving.py)."""
        import concurrent.futures as cf

        def grab(df: DataFrame, key: str, cap: int):
            rows = (
                df.orderBy(F.desc("df"), F.asc(key))
                .limit(cap + 1)
                .select(key, F.col("idf").cast("double").alias("idf"))
                .collect()
            )
            complete = len(rows) <= cap
            take = rows if complete else rows[:cap]
            return {r[key]: float(r["idf"]) for r in take}, complete

        with cf.ThreadPoolExecutor(max_workers=2) as ex:
            ft = ex.submit(grab, self.term_stats, "term", max_terms)
            fg = ex.submit(grab, self.gram_stats, "gram", max_grams)
            t, tc = ft.result()
            g, gc = fg.result()
        self._idf_warm = {"t": t, "g": g, "t_complete": tc, "g_complete": gc}
        return self

    def save(self, path: str) -> None:
        """Persist to parquet, committed via the versioned-pointer
        protocol (sources/fsutil.py, same as IndexDelta.save /
        IVFPQIndex): all 8 relations are written in full under a fresh
        ``{path}/index-v{N}`` directory, then committed by ONE atomic
        marker-file create, then older versions (and, on first
        migration, the legacy flat field directories) are
        garbage-collected.  A crash at any step leaves the previously
        committed snapshot loadable; a reader never sees a
        partially-written layout (the pre-r13 flat layout had no
        commit point — a probe on the FIRST-written relation could
        observe an in-progress save as "ready"); two writers racing a
        cold start each build their own version directory and the
        last marker wins, complete either way.

        Layout of the big tables (r13): postings/doc_vec repartition by
        **doc_id** and sort within partitions by their term key.  Two
        properties, one for each side of the serving plan:

        - term-sorted row groups keep stats-based pruning for the
          compiled IN filters (plain parquet reports no partitioning
          to Catalyst, so hash-placement by term never saved a shuffle
          — pruning was the only thing the old term-repartitioned
          layout bought, and the sort alone provides it);
        - doc placement co-locates every contribution of a
          ``(query_id, doc_id)`` score group, so the aggregation's
          map-side combine collapses to final-size groups BEFORE the
          exchange.  Under the old term-placement a group's terms were
          scattered across every matched file and partial aggregation
          deduplicated almost nothing — measured at 50k docs, the
          batch-100 serving fills were 8.1 s (bm25) / 11.6 s (vector)
          term-placed vs 1.9 / 2.9 doc-placed, the whole 500k-doc
          snapshot batch-fill regression.

        At cluster scale, bucketed catalog tables take the next step:
        a doc_id-bucketed postings scan reports
        HashPartitioning(doc_id), which satisfies the score group's
        ClusteredDistribution([query_id, doc_id]) (subset rule) and
        drops the aggregation exchange entirely.  Note
        :meth:`save_bucketed` currently buckets by TERM — the layout
        that removes the shuffle from the JOIN-form scorers and the
        term_stats derivation — so pick the bucketing for the
        workload: term buckets for join-form/bulk scoring, doc buckets
        for compiled batch serving."""
        from beyond_vector_search_spark.sources import fsutil

        spark = self.doc_stats.sparkSession
        n = fsutil.next_version(spark, path, "index")
        root = f"{path}/index-v{n}"
        self.doc_stats.write.mode("overwrite").parquet(f"{root}/doc_stats")
        self.term_stats.write.mode("overwrite").parquet(f"{root}/term_stats")
        self.postings.repartition("doc_id").sortWithinPartitions(
            "term", "doc_id"
        ).write.mode("overwrite").parquet(f"{root}/postings")
        self.gram_stats.write.mode("overwrite").parquet(f"{root}/gram_stats")
        self.doc_vec.repartition("doc_id").sortWithinPartitions(
            "gram", "doc_id"
        ).write.mode("overwrite").parquet(f"{root}/doc_vec")
        self.doc_norm.write.mode("overwrite").parquet(f"{root}/doc_norm")
        self.scalars.write.mode("overwrite").parquet(f"{root}/scalars")
        self.doc_ids.write.mode("overwrite").parquet(f"{root}/doc_ids")
        fsutil.commit_version(spark, path, "index", n)
        fsutil.gc_versions(
            spark, path, "index",
            extra=tuple(f"{path}/{f}" for f in self._FIELDS),
        )

    @classmethod
    def snapshot_ready(cls, spark, path: str) -> bool:
        """True when ``path`` holds a COMPLETE, committed snapshot that
        :meth:`load` can serve.  Checks the versioned commit marker
        first (the only signal that is crash/race-safe); a legacy
        flat layout (pre-r13 saves) is accepted only when its
        LAST-written relation (doc_ids) exists — probing the first
        relation would treat a crashed partial save as ready.  Routed
        through the Hadoop FS API so HDFS/S3A snapshot roots probe
        correctly on a cluster."""
        from beyond_vector_search_spark.sources import fsutil

        if fsutil.committed_versions(spark, path, "index"):
            return True
        return fsutil.exists(spark, f"{path}/doc_ids")

    @classmethod
    def load(cls, spark, path: str) -> "CorpusIndex":
        """Load a persisted layout: the committed ``index-v{N}``
        directory (versioned-pointer protocol), or the legacy flat
        layout for pre-r13 stores.  The 8 ``read.parquet`` calls each
        pay a driver-side footer/schema read — issued concurrently
        (they are independent py4j calls), which matters for serving
        cold-start: load+materialize is the deployment's index_build.
        The loaded relations are flat parquet scans with NO derivation
        dependencies, so :meth:`materialize` runs them as ONE
        concurrent wave (``_flat``) instead of the builder's
        three-wave dependency order."""
        import concurrent.futures as cf

        from beyond_vector_search_spark.sources import fsutil

        root = fsutil.resolve_version(spark, path, "index", legacy=path)
        with cf.ThreadPoolExecutor(max_workers=len(cls._FIELDS)) as ex:
            dfs = list(
                ex.map(lambda f: spark.read.parquet(f"{root}/{f}"), cls._FIELDS)
            )
        idx = cls(**dict(zip(cls._FIELDS, dfs)))
        idx._flat = True
        return idx

    # Bucketed persistence: the cluster-scale index layout.  The large
    # relations are written as catalog tables bucketed on their join/agg
    # key, so readers get a HashPartitioning-reporting scan and Catalyst
    # drops the Exchange for groupBys and co-bucketed joins on that key
    # (postings: term_stats derivation + scoring joins; doc_vec: norm
    # rebuild + cosine dot).  Small dims stay plain tables (broadcast).
    _BUCKETED = {  # field -> (bucket col, sort col)
        "postings": ("term", "term"),
        "doc_vec": ("gram", "gram"),
        "doc_stats": ("doc_id", "doc_id"),
        "doc_norm": ("doc_id", "doc_id"),
    }

    def save_bucketed(self, spark, db: str = "bvs_index", *, buckets: int = 32) -> None:
        """Persist as bucketed catalog tables under database ``db``.

        Bucket count is a layout contract: pick it for the TARGET scale
        (files of ~128 MB-1 GB per bucket at 100 TB that's thousands;
        here 32 matches local parallelism) — all co-bucketed readers
        must agree, which the catalog enforces.
        """
        from beyond_vector_search_spark.operators.scale import save_bucketed_index

        spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
        for f in self._FIELDS:
            df = getattr(self, f)
            if f in self._BUCKETED:
                bucket_col, sort_col = self._BUCKETED[f]
                save_bucketed_index(
                    df, f"{db}.{f}", bucket_col=bucket_col, buckets=buckets, sort_col=sort_col
                )
            else:
                df.write.mode("overwrite").format("parquet").saveAsTable(f"{db}.{f}")

    @classmethod
    def load_bucketed(cls, spark, db: str = "bvs_index") -> "CorpusIndex":
        return cls(**{f: spark.table(f"{db}.{f}") for f in cls._FIELDS})


def build_index(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text: Column | str = "text",
    cfg: EngineConfig = DEFAULT,
) -> CorpusIndex:
    """Build the full index from a documents DataFrame.

    Single-pass shape: each term space is exploded ONCE into a cached
    ``(id, term, tf)`` relation, and both the per-term document
    frequencies and the per-doc vectors derive from it:

        tokens ──explode+groupBy──> postings ──groupBy(term)──> term_stats
        grams  ──explode+groupBy──> gram_tf  ──groupBy(gram)──> gram_stats
                                        └────join idf──────────> doc_vec

    Two reasons this shape matters at scale:
    - df-per-term comes from the already-aggregated postings (partial
      aggregation of small rows), not a second explode of the corpus;
    - Spark's Generate (explode) infers a ``size(x)>0`` pre-filter that
      predicate-pushdown inlines into the scan, re-evaluating the whole
      shingling expression per row — caching the exploded relation makes
      every downstream consumer read it once.  (Measured: doc_vec build
      15.3s -> 2.5s at sf0.1.)

    Caches use Spark's default MEMORY_AND_DISK; at cluster scale the
    same intermediates would be persisted parquet (CorpusIndex.save).
    """
    return index_from_delta(build_delta(docs, id_col=id_col, text=text, cfg=cfg), cfg=cfg)


@dataclass
class IndexDelta:
    """The idf-independent per-document relations of the index — the
    result of ONE scan over the document text, with no global statistic
    baked in.

    This is the unit of incremental ingest: postings/gram_tf/doc_ids
    rows belong to exactly one document, so deltas over DISJOINT doc_id
    sets merge by plain union — appending a batch of new documents costs
    one scan of the NEW text plus the (cheap, already-aggregated)
    global-stat re-derivation in :func:`index_from_delta`.  The
    reference rebuilds its whole index per run (run.py:18-23); at 100 TB
    a full rebuild per ingest batch is the difference between minutes
    and days, hence this split.
    """

    postings: DataFrame  # (term, doc_id, tf, dl)
    gram_tf: DataFrame   # (doc_id, gram, tf)
    doc_ids: DataFrame   # (doc_id)

    _FIELDS = ["postings", "gram_tf", "doc_ids"]

    def union(self, other: "IndexDelta") -> "IndexDelta":
        """Merge with another delta.  doc_id sets must be disjoint
        (append-only ingest); replacing a changed document = anti-join
        its doc_id out of every relation first."""
        return IndexDelta(
            postings=self.postings.unionByName(other.postings),
            gram_tf=self.gram_tf.unionByName(other.gram_tf),
            doc_ids=self.doc_ids.unionByName(other.doc_ids),
        )

    def cache(self) -> "IndexDelta":
        for f in self._FIELDS:
            getattr(self, f).cache()
        return self

    def remove(self, doc_ids: DataFrame) -> "IndexDelta":
        """Delete documents: anti-join the given ids out of every
        relation.  Every delta row belongs to exactly one document, so
        removal is exact; global statistics re-derive on the next
        :func:`index_from_delta` (no stale df/idf).

        This is the update path promised by :meth:`union`'s docstring:
        replacing changed documents = ``remove(ids).union(new_delta)``.
        The anti-join broadcasts the (small) removal set — postings and
        gram_tf never shuffle.
        """
        ids = doc_ids.select(F.col(doc_ids.columns[0]).alias("doc_id")).distinct()

        def anti(df: DataFrame) -> DataFrame:
            # restore the relation's own column order: the join puts
            # its key first, and delta unions are position-sensitive
            return df.join(F.broadcast(ids), "doc_id", "left_anti").select(df.columns)

        return IndexDelta(**{f: anti(getattr(self, f)) for f in self._FIELDS})

    def replace(self, new_docs_delta: "IndexDelta") -> "IndexDelta":
        """Upsert changed/new documents: remove every doc_id present in
        ``new_docs_delta``, then union its rows in."""
        return self.remove(new_docs_delta.doc_ids).union(new_docs_delta)

    def checkpoint_background(
        self,
        *,
        target_partitions: int | None = None,
        storage_level=None,
    ) -> tuple["IndexDelta", "object"]:
        """Materialize every relation via ``localCheckpoint`` and
        truncate lineage, overlapped with the caller: returns
        immediately with ``(delta, join)`` — the kernel jobs
        materialize in background threads while the CALLER spends its
        driver time building the derived-index plans over the
        (lazy-checkpointed) relations; ``join()`` blocks until every
        relation's blocks exist.

        Two effects, both measured at sf0.1:
        - each tokenize/shingle kernel runs EXACTLY once (a lazy cache
          can be raced into double computation by sibling consumers);
        - every derived index relation becomes a shallow plan over the
          checkpointed blocks, so Catalyst analysis/canonicalization of
          downstream plans (which walks the full tree on every
          ``.cache()`` and every query) drops from seconds to
          milliseconds.

        The single-forcer guarantee replaces eagerness: exactly one
        background thread forces each relation, so the kernels still
        run exactly once — but the caller MUST ``join()`` before any
        OTHER action can touch the returned delta (a sibling action
        racing the forcing thread would recompute the kernel).
        Measured at sf0.1: overlapping the ~0.3 s of plan
        construction/cache registration with the ~1 s kernel wave
        shaves that 0.3 s off the serving index build.

        ``target_partitions`` coalesces the checkpointed blocks for
        downstream readers (narrow — no shuffle, kernel parallelism
        during the checkpoint itself is untouched).  The kernels fan out
        to the session's full parallelism so a small corpus still
        shingles on every core, but that leaves a small delta stored as
        ``parallelism`` slivers, and every derived aggregation then
        launches ``parallelism`` tasks to scan a few MB — pure scheduler
        overhead.  This is the same right-sizing AQE applies to shuffle
        outputs, applied to materialized blocks (which AQE cannot see).

        ``storage_level`` sizes the checkpointed blocks for the corpus:
        the default (MEMORY_AND_DISK_DESER) keeps one UnsafeRow OBJECT
        per row — fastest to re-read, but ~3x the payload bytes in
        object headers, and 32 concurrent downstream aggregation tasks
        on top of that is exactly how the 500k-doc build blew an 8 GiB
        local[32] heap.  Pass ``StorageLevel.MEMORY_AND_DISK``
        (serialized, spillable) for large corpora — measured: the
        500k-doc build that ran out of the default heap completes in it
        unchanged.  The cluster equivalent is persisting the delta to
        parquet (``save``) and reading it back — same lineage cut; use
        that for multi-job pipelines, this for within-session serving."""
        import concurrent.futures as cf

        lazy = {
            f: getattr(self, f).localCheckpoint(eager=False, storageLevel=storage_level)
            for f in self._FIELDS
        }
        ex = cf.ThreadPoolExecutor(max_workers=len(self._FIELDS))
        futs = [ex.submit(df.count) for df in lazy.values()]
        ex.shutdown(wait=False)
        out = lazy
        if target_partitions is not None:
            out = {
                f: df.coalesce(max(1, target_partitions)) for f, df in lazy.items()
            }

        def join() -> None:
            for fu in futs:
                fu.result()

        return IndexDelta(**out), join

    @classmethod
    def _root(cls, spark, path: str) -> str:
        """Current data root: the committed ``delta-v{N}`` directory
        (fsutil pointer protocol — one version for all three fields so
        they always advance together), or the store root itself for a
        legacy/fresh store whose fields live directly under ``path``."""
        from beyond_vector_search_spark.sources import fsutil

        return fsutil.resolve_version(spark, path, "delta", legacy=path)

    def save(self, path: str) -> None:
        from beyond_vector_search_spark.sources import fsutil

        spark = self.postings.sparkSession
        # CRASH-SAFE full rebuild (compact's ordering, not purge-first):
        # write the fresh store into the NEXT version directory, clear
        # the stale epoch markers, cut over with one atomic marker
        # create, THEN reclaim old versions + legacy flat field dirs.
        # A crash at any step leaves the previously committed store
        # loadable; purging first would lose it in the window between
        # purge and commit.
        n = fsutil.next_version(spark, path, "delta")
        # each field lands as its own batch_id=0 partition directory
        # (the IVFPQIndex layout): later streaming appends add sibling
        # batch_id=N directories, and a parquet reader over a MIXED
        # flat-files + partition-dirs directory silently drops the
        # flat files — writing batch 0 explicitly keeps every future
        # append readable
        for f in self._FIELDS:
            getattr(self, f).write.mode("overwrite").parquet(
                f"{path}/delta-v{n}/{f}/batch_id=0"
            )
        # stale _batches/N.json over a fresh rebuild would make
        # replayed/backfilled streaming epochs return False and
        # silently skip those documents' tf rows.  Ordering caveat
        # (single-writer rebuild): a crash between this delete and the
        # commit leaves the OLD store committed with its replay guards
        # gone — a replayed epoch then re-appends there.  For a store
        # whose epochs were never compacted that re-append is an
        # idempotent batch_id=N overwrite; after a compact (epochs
        # folded into batch 0) it would duplicate those rows until the
        # rebuild is re-run.  Deleting AFTER the commit has the dual
        # window (stale markers on the NEW store -> silently skipped
        # epochs — the worse failure, data loss vs duplicates).  Full
        # atomicity needs the markers INSIDE the versioned directory;
        # until then the recovery rule is simply: re-run the
        # interrupted save().
        fsutil.delete(spark, f"{path}/_batches")
        fsutil.commit_version(spark, path, "delta", n)
        fsutil.gc_versions(
            spark, path, "delta",
            extra=tuple(f"{path}/{f}" for f in self._FIELDS),
        )

    @classmethod
    def load(cls, spark, path: str, *, up_to_batch: int | None = None) -> "IndexDelta":
        """Load a delta store.  Streaming ingest writes each batch into
        a ``batch_id=N`` partition directory (retry-idempotent
        overwrites — streaming/ingest.py); partition discovery surfaces
        that as a ``batch_id`` column, which is storage layout, not
        index data — dropped here.

        ``up_to_batch`` is time travel over the append-only store: keep
        only partitions with ``batch_id <= N`` — the index exactly as it
        stood after ingest batch N (global stats re-derive on
        ``index_from_delta``, so df/idf/avg_dl are the HISTORICAL
        values, not the current ones).  A partition-column filter, so
        Catalyst prunes the newer directories at the scan — the cost of
        a historical load is proportional to the history read, not the
        store size."""
        root = cls._root(spark, path)
        out = {}
        for f in cls._FIELDS:
            spark.catalog.refreshByPath(f"{root}/{f}")
            df = spark.read.parquet(f"{root}/{f}")
            if "batch_id" in df.columns:
                if up_to_batch is not None:
                    df = df.where(F.col("batch_id") <= up_to_batch)
                df = df.drop("batch_id")
            elif up_to_batch is not None:
                raise ValueError(
                    f"{path}/{f} has no batch_id partitioning — "
                    "up_to_batch requires a streaming-ingest store"
                )
            out[f] = df
        return cls(**out)

    def compact(self, path: str, *, partitions: int | None = None) -> "IndexDelta":
        """Rewrite the delta store at ``path`` with each relation
        repartitioned on its primary key (postings by term, gram_tf by
        gram — the scoring-join keys), collapsing the per-batch append
        files a streaming ingest accumulates.  Ordinary parquet
        maintenance: run it off the ingest path, then reload.

        Commit protocol is the versioned pointer file (sources/
        fsutil.py, same as IVFPQIndex.compact): all three fields are
        written in full under a fresh ``delta-v{N}`` directory, then
        committed by ONE atomic marker create, then older versions
        (and, on first migration, the legacy loose field directories)
        are garbage-collected — crash-safe at every step on any
        filesystem Spark writes to, including S3A.  The previous
        implementation swapped with ``os.replace``/``shutil``, which
        was local-filesystem-only."""
        from beyond_vector_search_spark.sources import fsutil

        spark = self.postings.sparkSession
        n = fsutil.next_version(spark, path, "delta")
        keys = {"postings": "term", "gram_tf": "gram", "doc_ids": "doc_id"}
        for f in self._FIELDS:
            df = getattr(self, f)
            df = df.repartition(*(x for x in [partitions, keys[f]] if x is not None))
            # fold into batch_id=0 (see save): post-compact streaming
            # appends add batch_id=N siblings, and mixing flat files
            # with partition directories makes a parquet reader
            # silently drop the flat files — this was a real
            # read-loses-the-folded-rows bug before r9
            df.write.mode("overwrite").parquet(
                f"{path}/delta-v{n}/{f}/batch_id=0"
            )
        fsutil.commit_version(spark, path, "delta", n)
        fsutil.gc_versions(
            spark, path, "delta",
            extra=tuple(f"{path}/{f}" for f in self._FIELDS),
        )
        return IndexDelta.load(spark, path)


def build_delta(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text: Column | str = "text",
    cfg: EngineConfig = DEFAULT,
    cache: bool = True,
) -> IndexDelta:
    """One scan of the corpus text -> per-document tf relations.

    ``cache=False`` skips the lazy caches — for callers that
    immediately checkpoint the delta (:meth:`IndexDelta.checkpoint_background`:
    materialized blocks make the caches dead weight, one more
    canonicalization pass per relation for blocks that will never be
    read)."""
    arrow = cfg.index_kernel == "arrow"
    keep = (lambda df: df.cache()) if cache else (lambda df: df)
    if arrow:
        # Arrow counting kernels (functions/kernels.py): tokenize/shingle
        # + per-doc tf in one narrow pass per term space, so the corpus
        # text is scanned exactly twice (tokens + grams).
        from beyond_vector_search_spark.functions import kernels

        postings = keep(
            kernels.term_tf_frame(docs, id_col=id_col, text=text)
            .select("term", "doc_id", "tf", "dl")
        )
        gram_tf = keep(kernels.gram_tf_frame(docs, id_col=id_col, text=text, n=cfg.ngram_n))
    else:
        # keep(), not unconditional cache(): with cache=False the delta
        # is checkpointed immediately and cached intermediates would be
        # never-read dead weight that nothing ever unpersists
        toks = keep(doc_tokens(docs, id_col=id_col, text=text))
        postings = keep(build_postings(toks))
        # cached (cache=True): the explode below carries an inferred
        # size(grams)>0 filter that would otherwise inline the
        # shingling expression 2 extra times per row (see docstring)
        grams = keep(doc_grams(docs, id_col=id_col, text=text, n=cfg.ngram_n))
        gram_tf = keep(
            grams.select("doc_id", F.explode("grams").alias("gram"))
            .groupBy("doc_id", "gram")
            .agg(F.count("*").alias("tf"))
        )
    return IndexDelta(
        postings=postings,
        gram_tf=gram_tf,
        doc_ids=docs.select(F.col(id_col).alias("doc_id")),
    )


def index_from_delta(delta: IndexDelta, *, cfg: EngineConfig = DEFAULT) -> CorpusIndex:
    """Derive the full index (all global statistics) from tf relations.

    Everything here aggregates ALREADY-AGGREGATED rows — document
    frequencies from postings, norms from doc_vec — so re-deriving after
    an incremental union touches no document text.  Pure groupBy/agg:
    Catalyst's partial+final aggregation applies throughout.
    """
    postings, gram_tf = delta.postings, delta.gram_tf
    n = delta.doc_ids.agg(F.greatest(F.count("*"), F.lit(1)).alias("n_docs"))
    doc_len = postings.groupBy("doc_id").agg(F.sum("tf").alias("doc_len"))
    # left join restores zero-token docs (they have no postings rows)
    doc_stats = (
        delta.doc_ids.join(doc_len, "doc_id", "left")
        .select("doc_id", F.coalesce("doc_len", F.lit(0)).alias("doc_len"))
    )
    scalars = doc_stats.agg(
        F.greatest(F.count("*"), F.lit(1)).alias("n_docs"),
        # coalesce: empty-delta unions must yield 0.0, never NULL
        (F.coalesce(F.sum("doc_len"), F.lit(0)) / F.greatest(F.count("*"), F.lit(1))).alias("avg_dl"),
    )
    term_stats = (
        postings.groupBy("term")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(n))
        .select(
            "term",
            "df",
            _idf(F.col("n_docs"), F.col("df")).alias("idf"),
            (F.col("df") <= cfg.rare_df_threshold).alias("is_rare"),
        )
    )
    gram_stats = (
        gram_tf.groupBy("gram")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(n))
        .select("gram", "df", _idf(F.col("n_docs"), F.col("df")).alias("idf"))
    )
    if cfg.max_gram_df_ratio is not None:
        # skew guard: stopword-grade grams are the hot keys of the
        # cosine join; dropping them here prunes doc_vec via the inner
        # join below (and query vectors via their gram_stats join)
        gram_stats = gram_stats.crossJoin(F.broadcast(n.withColumnRenamed("n_docs", "_n"))).where(
            F.col("df") <= cfg.max_gram_df_ratio * F.col("_n")
        ).drop("_n")
    # doc_vec carries the document L2 norm on every row (the ``or 1.0``
    # empty-vector guard, retrievers.py:84): cosine scoring then needs
    # no doc_norm join — one broadcast fewer per query, and the
    # persisted layout (save/save_bucketed) serves cold without
    # re-deriving norms.  The fold is a join against the (tiny, one row
    # per doc) doc_norm aggregate — partial aggregation + a broadcast
    # at this scale; at cluster scale doc_norm exceeds the broadcast
    # threshold and the join co-partitions on doc_id, which the
    # kernel-output clustering already provides.
    doc_vec_raw = gram_tf.join(F.broadcast(gram_stats.select("gram", "idf")), "gram").select(
        "doc_id", "gram", ((1.0 + F.log("tf")) * F.col("idf")).alias("weight")
    )
    doc_norm = build_doc_norm(doc_vec_raw)
    doc_vec = doc_vec_raw.join(doc_norm, "doc_id")
    return CorpusIndex(
        doc_stats=doc_stats,
        term_stats=term_stats,
        postings=postings,
        gram_stats=gram_stats,
        doc_vec=doc_vec,
        doc_norm=doc_norm,
        scalars=scalars,
        doc_ids=delta.doc_ids,
        gram_tf=gram_tf,
    )
