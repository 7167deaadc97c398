"""Streaming corpus ingest -> incremental index maintenance.

The reference rebuilds its entire index on every invocation
(run.py:18-23).  This module is the opposite end of that spectrum: a
Structured Streaming query that tails a document source and keeps the
persisted index CURRENT, scanning only each micro-batch's new text.

    readStream(documents) ──foreachBatch──> build_delta(batch)
                                             └─ append postings/gram_tf/doc_ids
    (on demand)  IndexDelta.load(path) ──> index_from_delta() ──> queries

Why foreachBatch and not a plain streaming sink: the delta relations
(operators/corpus_index.py IndexDelta) are three tables written
atomically per batch, and batch-id-based idempotence gives exactly-once
appends on retry — the standard Structured Streaming multi-table-sink
pattern.  All global statistics (df, idf, avg_dl) are re-derived lazily
by ``index_from_delta`` at read time, so the stream never recomputes
them and never touches old documents.

At 100 TB: each micro-batch's delta append is proportional to NEW text
only; the read-side re-derivation aggregates already-aggregated (id,
term, tf) rows.  Compaction of the accumulated append files is ordinary
parquet-directory maintenance.

Append-only contract (:func:`start_index_ingest`): a re-delivered
doc_id with DIFFERENT text would leave the old tf rows in place
(double counting).  Sources that UPDATE documents have two
reconciliation paths, both built on the snapshot-diff primitive:

- streaming (r12): :func:`start_upsert_ingest` — each micro-batch
  diffs against the store's persisted digest history
  (versioning.corpus_diff_hashed), lands only added/changed text, and
  :func:`load_upsert_delta` resolves last-writer-wins at read time
  (merge-on-read — changed docs REPLACE their rows, identical
  re-deliveries write nothing);
- batch: ``operators/versioning.corpus_diff`` + ``apply_corpus_diff``
  (CLI: ``bvs diff --update-delta``) for periodic full-snapshot
  reconciliation.

Parity between the two paths and with a full rebuild is pinned by
tests/test_versioning.py.

Epoch-id migration note (store-format change, 2026-08 / r9): streaming
epoch N now lands in partition directory ``batch_id=N+1`` — batch 0 is
reserved for the ``save()``/``compact()`` fold (a parquet reader over a
directory mixing flat files with partition subdirs silently DROPS the
flat files, so folds must own an explicit ``batch_id=0``).  Stores
whose streaming appends predate the offset have epoch N at
``batch_id=N``; for those, ``load(up_to_batch=K)`` means "through epoch
K" rather than the new "fold + epochs 0..K-1".  Mixed-era stores (old
appends, then new ones after an upgrade) additionally have epoch ids
meaning different things across the boundary — run ``compact()`` once
after upgrading (folds all history into ``batch_id=0``) so every
subsequent append uses the new convention uniformly; historical
``up_to_batch`` reads into the pre-compact era are not supported on
mixed stores.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame

from beyond_vector_search_spark.config import DEFAULT, EngineConfig
from beyond_vector_search_spark.operators.corpus_index import IndexDelta, build_delta
from beyond_vector_search_spark.sources import fsutil


def _batch_marker(path: str, batch_id: int) -> str:
    return f"{path}/_batches/{batch_id}.json"


def _write_marker(spark, marker: str, payload: dict) -> None:
    # markers live on the STORE's filesystem (HDFS/S3A on a cluster),
    # so existence probes and writes go through the Hadoop FS API
    # (sources/fsutil.py), never open()/os.path
    fsutil.write_text(spark, marker, json.dumps(payload))


def _start(stream: DataFrame, sink, path: str, trigger: dict | None, checkpoint: str | None):
    """Start ``stream`` as an append-mode ``foreachBatch(sink)`` query —
    the one starter every ``start_*_ingest`` shares.  ``trigger`` is
    passed to ``DataStreamWriter.trigger`` when given; the checkpoint
    location defaults to ``{path}/_checkpoint``."""
    w = stream.writeStream.foreachBatch(sink).outputMode("append")
    if trigger:
        w = w.trigger(**trigger)
    w = w.option("checkpointLocation", checkpoint or os.path.join(path, "_checkpoint"))
    return w.start()


def append_delta_batch(
    docs_batch: DataFrame,
    batch_id: int,
    path: str,
    *,
    id_col: str = "doc_id",
    text: Column | str = "text",
    cfg: EngineConfig = DEFAULT,
) -> bool:
    """Scan ONE micro-batch of documents and write its tf delta into the
    delta store at ``path``.  Returns False on skip.

    Idempotence comes from the LAYOUT, not the marker: each relation is
    written with ``overwrite`` into its own ``batch_id=N`` partition
    directory, so a retried batch (foreachBatch is at-least-once)
    rewrites the same directories instead of appending duplicate rows —
    a crash between the three relation writes cannot double tf counts.
    The marker file is a fast-skip optimization AND the replay guard
    after ``IndexDelta.compact`` (which folds batch directories into
    batch 0, after which an overwrite would re-add the batch); it
    lives under ``path`` itself, i.e. on the same storage as the data.
    Epoch ids are offset by +1 (the :func:`append_vector_batch`
    contract) so streaming epoch 0 never collides with the
    ``batch_id=0`` directory a ``save()`` or ``compact()`` fold owns.
    """
    spark = docs_batch.sparkSession
    marker = _batch_marker(path, batch_id)
    if fsutil.exists(spark, marker):
        return False
    # cache=False: each delta relation has exactly ONE consumer (its
    # parquet write below), and a long-running stream would otherwise
    # leak two cached-but-never-unpersisted relations per micro-batch
    delta = build_delta(docs_batch, id_col=id_col, text=text, cfg=cfg, cache=False)
    # write into the CURRENT committed version root (fsutil pointer
    # protocol): after a compact, batches must land in the live
    # delta-v{N} directory, not the garbage-collected legacy one
    root = IndexDelta._root(spark, path)
    for f in IndexDelta._FIELDS:
        getattr(delta, f).write.mode("overwrite").parquet(
            f"{root}/{f}/batch_id={batch_id + 1}"
        )
    # marker count from the just-written doc_ids partition (parquet
    # footer metadata only) — never a second scan of the source batch,
    # which for non-file sources (Kafka) would re-read every byte
    n_docs = spark.read.parquet(f"{root}/doc_ids/batch_id={batch_id + 1}").count()
    _write_marker(spark, marker, {"batch_id": batch_id, "n_docs": n_docs})
    return True


def upsert_delta_batch(
    docs_batch: DataFrame,
    batch_id: int,
    path: str,
    *,
    id_col: str = "doc_id",
    text: Column | str = "text",
    cfg: EngineConfig = DEFAULT,
    auto_compact_epochs: int | None = None,
) -> bool:
    """UPSERT one micro-batch into the delta store at ``path`` — the
    reconciliation form of :func:`append_delta_batch` for sources that
    re-deliver UPDATED documents (the append-only contract above would
    double-count their tf rows).  Returns False on skip.

    Per micro-batch this runs the snapshot-diff primitive against the
    store's own digest history (operators/versioning.corpus_diff_hashed
    — the streaming twin of the batch ``bvs diff --update-delta``
    path):

    1. digest the batch's content (versioning.content_digests) and diff
       it against the persisted ``digests`` relation — digests only,
       historical TEXT is never re-read;
    2. ``unchanged`` re-deliveries write NOTHING (idempotent redelivery
       is free); ``added``/``changed`` documents — and only they — are
       re-scanned into this epoch's delta partitions; absence from a
       micro-batch is NOT a delete (a stream is a change feed, not a
       snapshot — ``removed`` classifications cannot arise because the
       old side is filtered to the batch's own ids);
    3. a ``digests/batch_id=N`` partition records the landed digests
       for future diffs.

    Stale rows from superseded versions are excluded at READ time:
    :func:`load_upsert_delta` resolves last-writer-wins per document
    from the partition column — the merge-on-read design (what
    Delta/Iceberg/Hudi MOR tables do), so the hot ingest path never
    rewrites history; :meth:`IndexDelta.compact` is the periodic
    rewrite that folds versions down.  Retry-idempotent like the
    append sink: the diff excludes this epoch's own digest partition,
    so a replayed epoch recomputes the same change set and overwrites
    the same directories.  Within-batch duplicate ids are collapsed
    arbitrarily (``dropDuplicates``) — upstream should deliver
    id-unique micro-batches (corpus_diff's id-unique contract).

    Parity with the batch path (apply_corpus_diff) and replace-not-
    duplicate semantics are pinned by tests/test_versioning.py.

    Scale note: each epoch's diff scans the digest HISTORY (id + 32-hex
    digest per landed doc version — ~50 bytes/doc, i.e. per-mille of
    the text it replaces re-reading), filtered to the batch's own ids
    by a broadcast semi join.  That scan is digest-sized, not
    text-sized, but it is not partition-prunable (partitions are by
    epoch, the filter is by id) — so the history read grows one
    partition per landed epoch, unboundedly.  ``auto_compact_epochs``
    bounds it (r13): once the digest relation holds at least that many
    epoch partitions after a land, the batch folds the DIGEST history
    back to one partition inline (:func:`compact_upsert_digests` — a
    digest-sized rewrite, ~50 bytes per landed doc version; measured
    by tools/upsert_epochs_probe.py, a full
    :func:`compact_upsert_store` here would spike the triggering
    epoch 3-10x because it rewrites the corpus-sized index relations,
    while the unbounded digest scan itself stays flat for dozens of
    epochs — the bound matters for LONG-running streams where the
    per-epoch listing and scan of hundreds of partitions accretes).
    Safe at any point: only marker-committed epochs fold, so a
    replayed epoch can never diff against a history that already
    folded its own rows in.  The streaming entry point
    :func:`start_upsert_ingest` defaults it ON; the manual batch form
    defaults it off for callers that schedule compaction themselves.
    The index relations' own per-epoch directories are untouched
    here — their fold stays scheduled maintenance
    (:func:`compact_upsert_store` / ``bvs maintain``).  At billions
    of documents, additionally keep the compacted digest table
    bucketed by id so the per-batch semi join prunes buckets.

    Compaction: use :func:`compact_upsert_store` (folds the LWW state
    and PRESERVES the digest history).  The generic
    ``IndexDelta.compact``/``save`` rewrite only the three index
    relations — on an upsert store the generic compact would fold
    superseded document versions back in and drop the digests, so it
    is the wrong tool here.
    """
    from pyspark.sql import functions as F

    from beyond_vector_search_spark.operators.versioning import (
        content_digests,
        corpus_diff_hashed,
    )

    spark = docs_batch.sparkSession
    marker = _batch_marker(path, batch_id)
    if fsutil.exists(spark, marker):
        return False
    text_col = F.col(text) if isinstance(text, str) else text
    docs = docs_batch.select(
        F.col(id_col).alias("doc_id"), text_col.alias("text")
    ).dropDuplicates(["doc_id"])
    # the batch is consumed up to 3x (diff, fresh-doc scan, digest
    # write) — one eager materialization, lineage truncated
    docs = docs.localCheckpoint()

    new_h = content_digests(docs)
    root = IndexDelta._root(spark, path)
    dig_dir = f"{root}/digests"
    have_history = any(
        d.startswith("batch_id=") for d in fsutil.list_names(spark, dig_dir)
    )
    if have_history:
        spark.catalog.refreshByPath(dig_dir)
        hist = spark.read.parquet(dig_dir).where(
            # exclude this epoch's own partition: a retried epoch must
            # diff against the same history it saw the first time
            F.col("batch_id") != batch_id + 1
        )
        # LWW per doc: the digest that a later epoch landed supersedes
        # earlier ones.  Restrict history to the batch's own ids FIRST
        # (broadcast semi — the batch is small), so the window never
        # shuffles the full history and 'removed' rows cannot arise.
        hist = hist.join(F.broadcast(new_h.select(F.col("id").alias("id"))), "id", "semi")
        latest = hist.groupBy("id").agg(F.max("batch_id").alias("batch_id"))
        old_h = (
            hist.join(latest, ["id", "batch_id"]).select("id", "h")
        )
    else:
        old_h = new_h.limit(0)

    diff = corpus_diff_hashed(old_h, new_h, id_col="doc_id")
    fresh_ids = (
        diff.where(F.col("change").isin("added", "changed"))
        .select("doc_id")
    )
    fresh_docs = docs.join(F.broadcast(fresh_ids), "doc_id", "semi")
    delta = build_delta(fresh_docs, id_col="doc_id", text="text", cfg=cfg, cache=False)
    for f in IndexDelta._FIELDS:
        getattr(delta, f).write.mode("overwrite").parquet(
            f"{root}/{f}/batch_id={batch_id + 1}"
        )
    content_digests(fresh_docs).write.mode("overwrite").parquet(
        f"{dig_dir}/batch_id={batch_id + 1}"
    )
    n_landed = spark.read.parquet(
        f"{root}/doc_ids/batch_id={batch_id + 1}"
    ).count()
    _write_marker(
        spark,
        marker,
        {"batch_id": batch_id, "n_docs": docs.count(), "n_landed": n_landed},
    )
    if auto_compact_epochs is not None:
        n_epochs = sum(
            1
            for d in fsutil.list_names(spark, dig_dir)
            if d.startswith("batch_id=")
        )
        if n_epochs >= auto_compact_epochs:
            compact_upsert_digests(spark, path)
    return True


def load_upsert_delta(spark, path: str) -> IndexDelta:
    """Load an upsert store (written by :func:`upsert_delta_batch`)
    resolving last-writer-wins per document: for each doc_id only the
    rows of its HIGHEST batch_id survive — superseded versions are
    excluded at the scan, never rewritten on ingest (merge-on-read).

    The winner set derives from ``doc_ids`` (one row per landed
    (doc, epoch)) and semi-joins on (doc_id, batch_id) against each
    relation.  No broadcast HINT on purpose (the apply_corpus_diff
    rule): winners is CORPUS-sized — on a small store AQE broadcasts
    it from observed sizes; at 100 TB a forced broadcast would OOM
    the driver, and the right plan is the shuffled semi join it picks
    instead.  Global stats then re-derive exactly in
    ``index_from_delta`` — df/idf/avg_dl see each document ONCE, at
    its latest content."""
    from pyspark.sql import functions as F

    root = IndexDelta._root(spark, path)
    raw = {}
    for f in IndexDelta._FIELDS:
        spark.catalog.refreshByPath(f"{root}/{f}")
        raw[f] = spark.read.parquet(f"{root}/{f}")
    winners = (
        raw["doc_ids"]
        .groupBy("doc_id")
        .agg(F.max("batch_id").alias("batch_id"))
    )

    def lww(df: DataFrame) -> DataFrame:
        cols = [c for c in df.columns if c != "batch_id"]
        return df.join(winners, ["doc_id", "batch_id"], "semi").select(cols)

    return IndexDelta(**{f: lww(raw[f]) for f in IndexDelta._FIELDS})


def upsert_store_history(spark, path: str) -> DataFrame:
    """(batch_id, n_landed, n_added, n_changed) — per-epoch ingest
    report derived from the upsert store's digest relation: a landed
    digest whose doc_id first appears at that epoch is ``added``, any
    later landing is ``changed`` (the doc already had a version).
    Digest-sized scan, two aggregations; the dashboard/ops view of a
    change-feed ingest.  Every epoch PARTITION appears: an epoch whose
    documents all skipped (unchanged re-deliveries) wrote a zero-row
    digest partition, which the aggregation alone would drop — the
    partition-directory list (dimension-sized, driver-side) is outer-
    joined back in so those epochs report n_landed=0.  Epochs folded
    by :func:`compact_upsert_store` are summarized under batch_id=0
    (compaction rewrites history by design)."""
    from pyspark.sql import functions as F

    root = IndexDelta._root(spark, path)
    spark.catalog.refreshByPath(f"{root}/digests")
    dig = spark.read.parquet(f"{root}/digests")
    first = dig.groupBy("id").agg(F.min("batch_id").alias("_first"))
    agg = (
        dig.join(first, "id")
        .groupBy("batch_id")
        .agg(
            F.count("*").alias("n_landed"),
            F.sum(
                (F.col("batch_id") == F.col("_first")).cast("long")
            ).alias("n_added"),
            F.sum(
                (F.col("batch_id") != F.col("_first")).cast("long")
            ).alias("n_changed"),
        )
    )
    epochs = sorted(
        int(d.split("=", 1)[1])
        for d in fsutil.list_names(spark, f"{root}/digests")
        if d.startswith("batch_id=")
    )
    edf = dig.sparkSession.createDataFrame(
        [(e,) for e in epochs], "batch_id int"
    )
    return (
        edf.join(agg, "batch_id", "left")
        .fillna(0, ["n_landed", "n_added", "n_changed"])
        .orderBy("batch_id")
    )


def compact_upsert_digests(spark, path: str) -> int:
    """Fold the upsert store's DIGEST history (only) down to a single
    ``batch_id=0`` partition — the digest-sized bound for the ingest
    hot path.  Returns the number of partitions folded (0 = nothing to
    do).

    Why a digests-only fold exists (r13, measured by
    tools/upsert_epochs_probe.py): the per-epoch diff reads ONLY the
    digest relation, ~50 bytes per landed doc version, so at 50k docs
    the unbounded history scan stays flat for dozens of epochs — while
    :func:`compact_upsert_store`'s full LWW rewrite is CORPUS-sized
    (tokenize-derived postings/gram_tf) and spikes the triggering
    epoch 3-10x when run inline.  Folding just the digests bounds the
    diff scan and the per-epoch directory listing at digest cost,
    leaving the big relations' fold to scheduled maintenance
    (``bvs maintain`` / :func:`compact_upsert_store`).

    Safety:

    - only epochs whose ``_batches`` marker COMMITTED are folded — a
      crashed epoch's digest partition must survive as its own
      ``batch_id=N`` directory so the retry's self-exclusion
      (``batch_id != N``) still sees it;
    - the fold is materialized (localCheckpoint) before overwriting
      ``batch_id=0`` and deleting the folded partitions, and a crash
      between those steps only leaves DUPLICATE digests, which the
      LWW read (max batch_id per id) resolves to the same winners.
    """
    from pyspark.sql import functions as F

    root = IndexDelta._root(spark, path)
    dig_dir = f"{root}/digests"
    committed = {
        int(name.split(".", 1)[0]) + 1
        for name in fsutil.list_names(spark, f"{path}/_batches")
        if name.endswith(".json")
    }
    parts = sorted(
        int(d.split("=", 1)[1])
        for d in fsutil.list_names(spark, dig_dir)
        if d.startswith("batch_id=")
    )
    fold = [p for p in parts if p == 0 or p in committed]
    if len(fold) < 2:
        return 0
    spark.catalog.refreshByPath(dig_dir)
    dig = (
        spark.read.option("basePath", dig_dir)
        .parquet(*[f"{dig_dir}/batch_id={p}" for p in fold])
    )
    latest = dig.groupBy("id").agg(F.max("batch_id").alias("batch_id"))
    winners = (
        dig.join(latest, ["id", "batch_id"]).select("id", "h").localCheckpoint()
    )
    winners.write.mode("overwrite").parquet(f"{dig_dir}/batch_id=0")
    for p in fold:
        if p != 0:
            fsutil.delete(spark, f"{dig_dir}/batch_id={p}")
    spark.catalog.refreshByPath(dig_dir)
    return len(fold)


def compact_upsert_store(spark, path: str, *, partitions: int | None = None):
    """Compact an UPSERT store: fold the last-writer-wins state (stale
    superseded versions drop here, at the rewrite — the merge-on-write
    moment) AND the LWW digest history into a fresh ``delta-v{N}``
    version, committed with the same crash-safe pointer protocol as
    :meth:`IndexDelta.compact`.  Use this, not the generic compact,
    for stores written by :func:`upsert_delta_batch`: the generic form
    folds ALL rows — including superseded document versions — back
    into batch 0, and preserving the digest relation is what keeps
    post-compact epochs diffing instead of rescanning.  Epoch markers
    under ``_batches/`` are kept: they are the replay guard that stops
    a re-delivered old epoch from re-appending over the fold.  Returns
    the reloaded LWW delta."""
    from pyspark.sql import functions as F

    root = IndexDelta._root(spark, path)
    lww = load_upsert_delta(spark, path)
    spark.catalog.refreshByPath(f"{root}/digests")
    dig = spark.read.parquet(f"{root}/digests")
    latest = dig.groupBy("id").agg(F.max("batch_id").alias("batch_id"))
    dig_lww = dig.join(latest, ["id", "batch_id"]).select("id", "h")

    n = fsutil.next_version(spark, path, "delta")
    keys = {"postings": "term", "gram_tf": "gram", "doc_ids": "doc_id"}
    for f in IndexDelta._FIELDS:
        df = getattr(lww, f)
        df = df.repartition(*(x for x in [partitions, keys[f]] if x is not None))
        df.write.mode("overwrite").parquet(f"{path}/delta-v{n}/{f}/batch_id=0")
    dig_lww.write.mode("overwrite").parquet(
        f"{path}/delta-v{n}/digests/batch_id=0"
    )
    fsutil.commit_version(spark, path, "delta", n)
    fsutil.gc_versions(
        spark, path, "delta",
        extra=tuple(f"{path}/{f}" for f in (*IndexDelta._FIELDS, "digests")),
    )
    return load_upsert_delta(spark, path)


def start_upsert_ingest(
    doc_stream: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text: Column | str = "text",
    cfg: EngineConfig = DEFAULT,
    trigger: dict | None = None,
    checkpoint: str | None = None,
    auto_compact_epochs: int | None = 16,
):
    """Start the streaming UPSERT ingest: like :func:`start_index_ingest`
    but for change feeds that re-deliver updated documents — each
    micro-batch reconciles against the store's digest history
    (:func:`upsert_delta_batch`), so a changed document REPLACES its
    index rows and an identical re-delivery writes nothing.  Read the
    store with :func:`load_upsert_delta` (LWW merge-on-read).

    ``auto_compact_epochs`` (default 16) keeps the per-epoch diff cost
    flat under a long-running stream by folding the DIGEST history
    (digest-sized, not corpus-sized — :func:`compact_upsert_digests`)
    once it reaches that many epoch partitions — see
    :func:`upsert_delta_batch`.  ``None`` disables (history grows one
    partition per landed epoch until a manual
    :func:`compact_upsert_store`)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        upsert_delta_batch(
            batch_df, batch_id, path, id_col=id_col, text=text, cfg=cfg,
            auto_compact_epochs=auto_compact_epochs,
        )

    return _start(doc_stream, sink, path, trigger, checkpoint)


def start_index_ingest(
    doc_stream: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text: Column | str = "text",
    cfg: EngineConfig = DEFAULT,
    trigger: dict | None = None,
    checkpoint: str | None = None,
):
    """Start the streaming ingest query over a streaming documents
    DataFrame.  ``trigger`` kwargs pass through to ``.trigger()`` (e.g.
    ``{"availableNow": True}`` for drain-and-stop backfills)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        append_delta_batch(batch_df, batch_id, path, id_col=id_col, text=text, cfg=cfg)

    return _start(doc_stream, sink, path, trigger, checkpoint)


def append_vector_batch(
    vec_batch: DataFrame,
    batch_id: int,
    store_path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> bool:
    """Encode ONE micro-batch of embeddings against the IVFPQIndex
    store at ``store_path`` (frozen quantizer + codebooks — the FAISS
    ``add`` contract) and write its codes into the store's own
    ``codes/batch_id=N`` directory.  Returns False on skip.

    Same idempotence story as :func:`append_delta_batch`: the LAYOUT is
    the guarantee — a retried epoch overwrites its own batch directory
    instead of duplicating rows — and the marker file is the fast-skip
    plus the replay guard after ``IVFPQIndex.compact`` folds batch
    directories into batch 0.  Epoch ids are offset by +1 so streaming
    batch 0 never collides with the initial build's ``batch_id=0``.

    What this does NOT do, on purpose: retrain.  Codebooks and the
    coarse quantizer are frozen at build time; a drifting corpus is a
    deliberate offline ``IVFPQIndex.build`` (the streaming/percolate
    drift monitor is the trigger for that decision, not this sink).
    """
    from beyond_vector_search_spark.operators.similarity import IVFPQIndex

    spark = vec_batch.sparkSession
    marker = _batch_marker(store_path, batch_id)
    if fsutil.exists(spark, marker):
        return False
    IVFPQIndex.append(
        spark,
        store_path,
        vec_batch,
        id_col=id_col,
        vec_col=vec_col,
        batch_id=batch_id + 1,
    )
    _write_marker(
        spark, marker, {"batch_id": batch_id, "n_vecs": vec_batch.count()}
    )
    return True


def start_vector_ingest(
    vec_stream: DataFrame,
    store_path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    trigger: dict | None = None,
    checkpoint: str | None = None,
):
    """Start a streaming ANN-index maintenance query: tail a streaming
    embeddings DataFrame and keep the persisted :class:`IVFPQIndex` at
    ``store_path`` current, encoding only each micro-batch's new
    vectors (readStream → foreachBatch → ``IVFPQIndex.append``).
    Serving jobs observe new vectors on their next ``load`` — the
    vector-store "streaming upsert" shape, minus retraining (see
    :func:`append_vector_batch`)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        append_vector_batch(
            batch_df, batch_id, store_path, id_col=id_col, vec_col=vec_col
        )

    return _start(vec_stream, sink, store_path, trigger, checkpoint)


def dedup_ingest_batch(
    docs_batch: DataFrame,
    batch_id: int,
    path: str,
    *,
    id_col: str = "doc_id",
    text: Column | str = "text",
    bands: int = 4,
    rows_per_band: int = 4,
    max_bucket_size: int | None = 10_000,
) -> bool:
    """Near-dup-check ONE micro-batch against the band-key store at
    ``path`` and extend the store.  Returns False on skip.  Two writes,
    both into per-batch directories (layout-idempotent, like
    :func:`append_delta_batch`):

      ``bands/batch_id=N``  the batch's own band keys (dedup.banded_keys)
      ``pairs/batch_id=N``  its near-dup pairs vs ALL history + itself
                            (dedup.lsh_pairs_against_corpus)

    The pair log records every duplicate relation ever observed — what
    to do with flagged docs (drop, cluster, keep-canonical) is
    downstream policy over ``pairs``, so the store keeps every doc's
    keys.  Versus streaming/dedup.py's stateful operators: state here
    is the parquet store itself — UNBOUNDED history at disk cost, no
    TTL eviction, no watermark, exactly the batch operator's semantics
    per epoch (batch-union == monolithic, pinned by test) — the right
    tool when "have we EVER seen this" matters more than latency.
    """
    from beyond_vector_search_spark.operators.dedup import (
        banded_keys,
        lsh_pairs_against_corpus,
        minhash_signatures,
    )

    from pyspark.sql import functions as F

    spark = docs_batch.sparkSession
    marker = _batch_marker(path, batch_id)
    if fsutil.exists(spark, marker):
        return False
    # normalize input columns: (doc_id, text)
    text_col = F.col(text) if isinstance(text, str) else text
    docs = docs_batch.select(
        F.col(id_col).alias("doc_id"), text_col.alias("text")
    )
    # persist for the batch: sigs feed the pairs job (twice — the cap
    # union and the join), the bands write, and the marker count; the
    # Arrow minhash kernel over the batch text must run ONCE, not 3x
    sigs = minhash_signatures(docs).persist()
    new_bands = banded_keys(sigs, bands=bands, rows_per_band=rows_per_band)
    bands_dir = os.path.join(path, "bands")
    have_history = any(
        d.startswith("batch_id=") for d in fsutil.list_names(spark, bands_dir)
    )
    if have_history:
        spark.catalog.refreshByPath(bands_dir)
        # exclude this batch's own directory: a retry after a crash
        # between the two writes would otherwise count the batch's
        # keys twice in the bucket-cap aggregation
        store = (
            spark.read.parquet(bands_dir)
            .where(F.col("batch_id") != batch_id)
            .drop("batch_id")
        )
    else:
        store = new_bands.limit(0)
    pairs = lsh_pairs_against_corpus(
        sigs,
        corpus_bands=store,
        bands=bands,
        rows_per_band=rows_per_band,
        max_bucket_size=max_bucket_size,
    )
    try:
        pairs.write.mode("overwrite").parquet(
            os.path.join(path, "pairs", f"batch_id={batch_id}")
        )
        new_bands.write.mode("overwrite").parquet(
            os.path.join(bands_dir, f"batch_id={batch_id}")
        )
        # count from the cached sigs (1:1 with docs) — never a second
        # scan/tokenize of the batch text just to stamp the marker
        _write_marker(
            spark, marker, {"batch_id": batch_id, "n_docs": sigs.count()}
        )
    finally:
        sigs.unpersist()
    return True


def start_dedup_ingest(
    doc_stream: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text: Column | str = "text",
    bands: int = 4,
    rows_per_band: int = 4,
    max_bucket_size: int | None = 10_000,
    trigger: dict | None = None,
    checkpoint: str | None = None,
):
    """Start the streaming dedup-against-all-history query: each
    micro-batch is near-dup-checked against every previously ingested
    document (the persisted band-key store) and then extends the store
    (:func:`dedup_ingest_batch`).  Read the accumulated pair log with
    ``spark.read.parquet(f"{path}/pairs")``."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        dedup_ingest_batch(
            batch_df,
            batch_id,
            path,
            id_col=id_col,
            text=text,
            bands=bands,
            rows_per_band=rows_per_band,
            max_bucket_size=max_bucket_size,
        )

    return _start(doc_stream, sink, path, trigger, checkpoint)


def append_graph_batch(
    vec_batch: DataFrame,
    batch_id: int,
    store_path: str,
    base_embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **extend_kw,
) -> bool:
    """Extend the KnnGraphIndex store at ``store_path`` with ONE
    micro-batch of vectors (:meth:`KnnGraphIndex.append` — beam-seeded
    NN-Descent refinement whose cost is the batch's blast radius) and
    mark the epoch.  Returns False on skip.

    Same idempotence story as :func:`append_vector_batch`: the LWW
    batch directory is overwrite-idempotent on retry, the marker is
    the fast-skip + post-compact replay guard, epoch ids offset by +1
    so streaming batch 0 never collides with the build's batch 0.
    ``base_embeddings`` must provide vectors for the store's EXISTING
    node ids (the graph persists structure only); at each epoch the
    caller passes the corpus as of that epoch — the standard
    foreachBatch closure over the corpus table.
    """
    from beyond_vector_search_spark.operators.similarity import KnnGraphIndex

    spark = vec_batch.sparkSession
    marker = _batch_marker(store_path, batch_id)
    if fsutil.exists(spark, marker):
        return False
    KnnGraphIndex.append(
        spark,
        store_path,
        base_embeddings,
        vec_batch,
        id_col=id_col,
        vec_col=vec_col,
        batch_id=batch_id + 1,
        **extend_kw,
    )
    _write_marker(
        spark, marker, {"batch_id": batch_id, "n_vecs": vec_batch.count()}
    )
    return True


def start_graph_ingest(
    vec_stream: DataFrame,
    store_path: str,
    base_embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    trigger: dict | None = None,
    checkpoint: str | None = None,
    **extend_kw,
):
    """Streaming ANN-GRAPH maintenance: tail a streaming embeddings
    DataFrame and keep the persisted :class:`KnnGraphIndex` at
    ``store_path`` current (readStream → foreachBatch →
    ``KnnGraphIndex.append``), the graph twin of
    :func:`start_vector_ingest`.  Each epoch's work is proportional to
    the batch and its blast radius, never a graph rebuild; serving
    jobs observe the new nodes on their next ``load``.

    ``base_embeddings`` supplies the existing corpus vectors and may
    be:

    - a parquet directory PATH (str) — re-listed and re-read at every
      epoch (``refreshByPath`` + fresh reader), the right form when
      the same pipeline appends raw vectors per epoch;
    - a factory ``spark -> DataFrame`` — called once per epoch;
    - a BATCH DataFrame — a STATIC snapshot.  A captured path-based
      DataFrame pins its file listing at creation, so files appended
      after the stream starts are INVISIBLE to it; pass the path or a
      factory instead when the corpus grows, or epochs past the first
      would violate append's "base covers the store's node ids"
      precondition and silently degrade the graph."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if callable(base_embeddings):
            base = base_embeddings(spark)
        elif isinstance(base_embeddings, str):
            # fresh listing every epoch — a held reader would snapshot
            # the file set and miss vectors appended since stream start
            spark.catalog.refreshByPath(base_embeddings)
            base = spark.read.parquet(base_embeddings)
        else:
            base = base_embeddings
        append_graph_batch(
            batch_df,
            batch_id,
            store_path,
            base,
            id_col=id_col,
            vec_col=vec_col,
            **extend_kw,
        )

    return _start(vec_stream, sink, store_path, trigger, checkpoint)
