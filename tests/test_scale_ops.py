"""Scale utilities: salted join equivalence, bucketed tables, stateful
streaming sessionization."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from beyond_vector_search_spark.operators.scale import (
    read_bucketed,
    salted_join,
    save_bucketed_index,
)


def test_salted_join_matches_plain_join(spark):
    # skewed large side: key 'hot' dominates
    large = spark.createDataFrame(
        [("hot", i) for i in range(500)] + [("cold", i) for i in range(10)],
        "k STRING, v INT",
    )
    small = spark.createDataFrame([("hot", 1), ("cold", 2), ("unseen", 3)], "k STRING, w INT")
    plain = {(r.k, r.v, r.w) for r in large.join(small, "k").collect()}
    salted = {(r.k, r.v, r.w) for r in salted_join(large, small, "k", salt=8).collect()}
    assert salted == plain
    assert len(salted) == 510


def test_salted_join_left_outer(spark):
    large = spark.createDataFrame([("a", 1), ("b", 2)], "k STRING, v INT")
    small = spark.createDataFrame([("a", 10)], "k STRING, w INT")
    out = {(r.k, r.v, r.w) for r in salted_join(large, small, "k", salt=4, how="left").collect()}
    assert out == {("a", 1, 10), ("b", 2, None)}


def test_bucketed_index_join_has_no_shuffle(spark, tmp_path):
    """Two tables bucketed on the same key join without an Exchange —
    the co-located index join this engine uses for postings at scale."""
    # default warehouse dir (./spark-warehouse, gitignored) — the
    # warehouse conf is static and can't change on a live session
    postings = spark.createDataFrame(
        [(f"t{i % 50}", i, i % 7 + 1) for i in range(2000)], "term STRING, doc_id BIGINT, tf BIGINT"
    )
    stats = spark.createDataFrame(
        [(f"t{i}", float(i)) for i in range(50)], "term STRING, idf DOUBLE"
    )
    save_bucketed_index(postings, "b_postings", bucket_col="term", buckets=8, sort_col="term")
    save_bucketed_index(stats, "b_stats", bucket_col="term", buckets=8, sort_col="term")
    joined = read_bucketed(spark, "b_postings").join(read_bucketed(spark, "b_stats"), "term")
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        joined.explain("formatted")
    plan = buf.getvalue()
    import re

    # bucketed-bucketed SMJ: no shuffle Exchange on either join input
    assert not re.search(r"\(\d+\) Exchange", plan), plan
    assert joined.count() == 2000
    spark.sql("DROP TABLE IF EXISTS b_postings")
    spark.sql("DROP TABLE IF EXISTS b_stats")


def test_stateful_sessionize_stream(spark, tmp_path):
    """Drive applyInPandasWithState through a real micro-batch stream."""
    from beyond_vector_search_spark.streaming.stateful import sessionize_stateful

    src = tmp_path / "events_src"
    src.mkdir()
    events = spark.createDataFrame(
        [
            (1, 0),
            (1, 10_000),              # same session (10s gap)
            (1, 35 * 60 * 1000),      # new session (35min gap)
            (2, 5_000),
        ],
        "user_id BIGINT, ts_ms BIGINT",
    )
    events.write.parquet(str(src / "batch1"))
    stream = spark.readStream.schema("user_id BIGINT, ts_ms BIGINT").parquet(
        str(src / "batch1")
    )
    out = sessionize_stateful(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("sess_state")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = {r.user_id: r for r in spark.sql("SELECT * FROM sess_state").collect()}
    assert rows[1].n_events == 3 and rows[1].n_sessions == 2
    assert rows[2].n_events == 1 and rows[2].n_sessions == 1
    assert not rows[1].closed


def test_corpus_index_bucketed_roundtrip(spark, ref_corpus, ref_index):
    """CorpusIndex.save_bucketed/load_bucketed: identical search results,
    and the bucketed postings aggregate by term without an Exchange."""
    import contextlib
    import io
    import re

    from beyond_vector_search_spark.operators.corpus_index import CorpusIndex
    from beyond_vector_search_spark.operators.retrieval import search_all

    ref_index.save_bucketed(spark, "bvs_index_test", buckets=8)
    loaded = CorpusIndex.load_bucketed(spark, "bvs_index_test")

    # groupBy on the bucket key reuses the scan's HashPartitioning
    agg = loaded.postings.groupBy("term").agg(F.sum("tf").alias("tf"))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        agg.explain("formatted")
    assert not re.search(r"\(\d+\) Exchange", buf.getvalue()), buf.getvalue()

    q = spark.createDataFrame(
        [("q1", "INC-49217 details")], "query_id STRING, query STRING"
    )
    want = [
        (r.doc_id, round(r.score, 6))
        for r in search_all(q, ref_index, k=5)["keyword"].orderBy("rank").collect()
    ]
    got = [
        (r.doc_id, round(r.score, 6))
        for r in search_all(q, loaded, k=5)["keyword"].orderBy("rank").collect()
    ]
    assert got == want and want[0][0] == "DOC-190"
    for f in CorpusIndex._FIELDS:
        spark.sql(f"DROP TABLE IF EXISTS bvs_index_test.{f}")
    spark.sql("DROP DATABASE IF EXISTS bvs_index_test")


def test_event_time_sessionize_watermark_eviction(spark, tmp_path):
    """Event-time sessionization: a later file advances the watermark
    past user 1's session gap, closing (and evicting) that session."""
    from datetime import datetime, timezone

    from beyond_vector_search_spark.streaming.stateful import sessionize_event_time

    def ts(minute):
        return datetime(2026, 1, 1, minute // 60, minute % 60, tzinfo=timezone.utc)

    src = tmp_path / "ev_src"
    src.mkdir()
    # three files -> three micro-batches (maxFilesPerTrigger=1)
    spark.createDataFrame(
        [(1, ts(0)), (1, ts(10))], "user_id BIGINT, ts TIMESTAMP"
    ).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(
        [(2, ts(120))], "user_id BIGINT, ts TIMESTAMP"
    ).coalesce(1).write.parquet(str(src / "f2"))
    spark.createDataFrame(
        [(3, ts(300))], "user_id BIGINT, ts TIMESTAMP"
    ).coalesce(1).write.parquet(str(src / "f3"))

    stream = (
        spark.readStream.schema("user_id BIGINT, ts TIMESTAMP")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    out = sessionize_event_time(stream, gap_ms=30 * 60 * 1000, watermark="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("sess_evt")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = spark.sql("SELECT * FROM sess_evt").collect()
    closed = {r.user_id: r for r in rows if r.closed}
    # user 1 (events at 00:00/00:10) closed once the watermark from the
    # 02:00 file passed 00:10 + 30min
    assert 1 in closed and closed[1].n_events == 2 and closed[1].n_sessions == 1
    # user 2 closed by the 05:00 file's watermark
    assert 2 in closed and closed[2].n_events == 1
    # user 3's session never times out (stream ends) — open row only
    assert 3 not in closed
    assert any(r.user_id == 3 and not r.closed for r in rows)


def test_streaming_dedup_across_batches(spark, tmp_path):
    """Duplicate documents re-delivered in later micro-batches are
    dropped by the watermark-bounded stateful dedup; each content
    survives exactly once."""
    import datetime as dt

    from beyond_vector_search_spark.streaming.dedup import dedup_doc_stream

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    b1 = [(1, "alpha beta", t0), (2, "gamma delta", t0), (3, "alpha beta", t0)]
    b2 = [(4, "alpha beta", t0 + dt.timedelta(minutes=1)),       # re-delivery
          (5, "epsilon zeta", t0 + dt.timedelta(minutes=1))]
    b3 = [(6, "gamma delta", t0 + dt.timedelta(minutes=2))]      # re-delivery
    schema = "doc_id BIGINT, text STRING, ts TIMESTAMP"
    src = tmp_path / "dedup_src"
    src.mkdir()
    for i, rows in enumerate((b1, b2, b3)):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(src / f"b{i}"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    out: list = []
    q = (
        dedup_doc_stream(stream, text="text", ts_col="ts", watermark="30 minutes")
        .writeStream.foreachBatch(lambda df, _bid: out.extend(df.collect()))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dedup_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    texts = sorted(r.text for r in out)
    assert texts == ["alpha beta", "epsilon zeta", "gamma delta"]
    # streaming hash key matches the batch operator's exact-dedup key
    from beyond_vector_search_spark.operators import dedup as dd

    batch = spark.createDataFrame(b1 + b2 + b3, schema)
    batch_hashes = {r.content_hash for r in dd.exact_dedup_map(batch).collect()}
    assert {r.content_hash for r in out} <= batch_hashes


def test_streaming_dedup_composed_with_ingest(spark, tmp_path):
    """dedup-at-ingest: the deduped stream feeds the foreachBatch index
    ingest; re-delivered contents index exactly once, so df/idf equal a
    batch build over the unique documents."""
    import datetime as dt

    from beyond_vector_search_spark.operators.corpus_index import (
        IndexDelta,
        build_index,
        index_from_delta,
    )
    from beyond_vector_search_spark.streaming.dedup import dedup_doc_stream
    from beyond_vector_search_spark.streaming.ingest import start_index_ingest

    t0 = dt.datetime(2026, 1, 1, 9, 0, 0)
    uniq = [(1, "alpha beta gamma", t0), (2, "delta epsilon", t0), (5, "zeta eta theta", t0)]
    dups = [(3, "alpha beta gamma", t0), (6, "delta epsilon", t0 + dt.timedelta(minutes=1))]
    schema = "doc_id BIGINT, text STRING, ts TIMESTAMP"
    src = tmp_path / "ddi_src"
    src.mkdir()
    spark.createDataFrame(uniq[:2] + dups[:1], schema).coalesce(1).write.parquet(str(src / "b0"))
    spark.createDataFrame(uniq[2:] + dups[1:], schema).coalesce(1).write.parquet(str(src / "b1"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    store = str(tmp_path / "ddi_store")
    q = start_index_ingest(
        dedup_doc_stream(stream, text="text", ts_col="ts", watermark="30 minutes")
        .drop("content_hash", "ts"),
        store,
        trigger={"availableNow": True},
    )
    q.awaitTermination(300)

    idx = index_from_delta(IndexDelta.load(spark, store))
    assert idx.doc_ids.count() == 3  # each content exactly once
    batch = build_index(spark.createDataFrame([(i, t) for i, t, _ in uniq], "doc_id BIGINT, text STRING"))
    got = {(r.term, r.df) for r in idx.term_stats.collect()}
    want = {(r.term, r.df) for r in batch.term_stats.collect()}
    assert got == want


def test_streaming_index_ingest_matches_batch_build(spark, tmp_path, ref_corpus, ref_index):
    """Stream the reference corpus through the foreachBatch ingest in
    two micro-batches; the index derived from the accumulated delta
    store must equal the monolithic batch build."""
    from pyspark.sql import functions as F

    from beyond_vector_search_spark.operators.corpus_index import (
        CorpusIndex,
        IndexDelta,
        index_from_delta,
    )
    from beyond_vector_search_spark.streaming.ingest import start_index_ingest

    src = tmp_path / "docs_src"
    src.mkdir()
    ref_corpus.where("doc_id < 'DOC-100'").coalesce(1).write.parquet(str(src / "f1"))
    ref_corpus.where("doc_id >= 'DOC-100'").coalesce(1).write.parquet(str(src / "f2"))

    stream = (
        spark.readStream.schema(ref_corpus.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    store = str(tmp_path / "delta_store")
    q = start_index_ingest(
        stream,
        store,
        text=F.concat_ws(" ", "title", "text"),
        trigger={"availableNow": True},
    )
    q.awaitTermination(300)

    idx = index_from_delta(IndexDelta.load(spark, store))
    assert idx.doc_ids.count() == ref_corpus.count()
    for field in ("postings", "term_stats", "gram_stats", "doc_stats"):
        inc, full = getattr(idx, field), getattr(ref_index, field)
        assert inc.exceptAll(full).count() == 0, field
        assert full.exceptAll(inc).count() == 0, field


def test_embedding_neardup_blocked_matches_allpairs(spark):
    """Centroid blocking must only prune candidates, never change the
    result: blocked (default) == all-pairs on a mix of random vectors
    and planted scaled near-dups, and the blocked plan contains no
    unblocked CartesianProduct over the corpus."""
    import random

    from beyond_vector_search_spark.operators import similarity as sim

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(60)]
    # planted near-dups: scaled copies (cos == 1.0) and tiny-perturbed copies
    rows += [(1000 + i, [x * 3.0 for x in rows[i][1]]) for i in range(10)]
    rows += [(2000 + i, [x + 1e-6 for x in rows[i][1]]) for i in range(10, 20)]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")

    blocked = sim.embedding_neardup_pairs(emb, threshold=0.999)
    exact = sim.embedding_neardup_pairs(emb, threshold=0.999, block=False)
    got = sorted(tuple(r) for r in blocked.collect())
    want = sorted(tuple(r) for r in exact.collect())
    assert got == want
    assert len(want) >= 20  # every planted pair found

    plan = blocked._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_streaming_minhash_pairs_across_batches(spark, tmp_path):
    """A re-crawled near-duplicate arriving in a LATER micro-batch pairs
    with the original via LSH band-bucket state; the candidate set over
    all batches equals the batch operator's on the same documents, and
    the stateless banding front-end is byte-identical to batch banding."""
    import datetime as dt

    from beyond_vector_search_spark.operators import dedup as dd
    from beyond_vector_search_spark.streaming.neardup import (
        banded_signatures_stream,
        minhash_pairs_stream,
    )

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    base = "the quick brown fox jumps over the lazy dog again and again"
    near = base + " tail boilerplate"          # near-dup of base
    other = "completely different content about spark shuffles and joins"
    b1 = [(1, base, t0), (2, other, t0)]
    b2 = [(3, near, t0 + dt.timedelta(minutes=1))]   # later re-crawl
    schema = "doc_id BIGINT, text STRING, ts TIMESTAMP"
    src = tmp_path / "nd_src"
    src.mkdir()
    for i, rows in enumerate((b1, b2)):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(src / f"b{i}"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    out: list = []
    q = (
        minhash_pairs_stream(stream, watermark="30 minutes")
        .writeStream.foreachBatch(lambda df, _bid: out.extend(df.collect()))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "nd_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got_pairs = {(r.doc_a, r.doc_b) for r in out}
    batch_df = spark.createDataFrame(b1 + b2, schema)
    want_pairs = {
        (r.doc_a, r.doc_b)
        for r in dd.lsh_candidate_pairs(
            dd.minhash_signatures(batch_df), bands=4, rows_per_band=4
        ).collect()
    }
    assert (1, 3) in want_pairs  # the planted near-dup is a real candidate
    assert got_pairs == want_pairs

    # stateless banding front-end == batch banding (same md5 band keys)
    stream_banded = {
        (r.doc_id, r.band_id, r.band_key)
        for r in banded_signatures_stream(
            spark.createDataFrame(b1 + b2, schema)
        ).collect()
    }
    sigs = dd.minhash_signatures(batch_df)
    from pyspark.sql import functions as F

    batch_banded = {
        (r.doc_id, r.band_id, r.band_key)
        for r in sigs.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(3)),
                    lambda b: F.struct(
                        b.cast("int").alias("band_id"),
                        F.md5(F.concat_ws("|", F.slice(F.col("sig"), b * 4 + 1, 4))).alias(
                            "band_key"
                        ),
                    ),
                )
            ).alias("band"),
        )
        .select("doc_id", "band.band_id", "band.band_key")
        .collect()
    }
    assert stream_banded == batch_banded


def test_streaming_minhash_hot_bucket_guard(spark, tmp_path):
    """A degenerate bucket (many identical docs) saturates at
    max_bucket_size and emits NOTHING from then on — the batch
    operator's drop-the-bucket semantics, which caps state and output
    at any stream length."""
    import datetime as dt

    from beyond_vector_search_spark.streaming.neardup import minhash_pairs_stream

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows = [(i, "same degenerate text everywhere", t0) for i in range(1, 9)]
    schema = "doc_id BIGINT, text STRING, ts TIMESTAMP"
    src = tmp_path / "hot_src"
    src.mkdir()
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(src / "b0"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    out: list = []
    q = (
        minhash_pairs_stream(stream, watermark="30 minutes", max_bucket_size=3)
        .writeStream.foreachBatch(lambda df, _bid: out.extend(df.collect()))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "hot_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert out == []  # bucket saturated before emitting anything durable


def test_streaming_minhash_buffered_mode_batch_guard_parity(spark, tmp_path):
    """emit='buffered' holds a bucket's pairs in state until eviction:
    a bucket that crosses the cap across MICRO-BATCHES emits zero pairs
    ever (immediate mode would have leaked its pre-saturation pairs
    downstream), and an under-cap bucket emits its pairs exactly once,
    at eviction, stamped with the later member's arrival time."""
    import datetime as dt

    from beyond_vector_search_spark.streaming.neardup import minhash_pairs_stream

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    schema = "doc_id BIGINT, text STRING, ts TIMESTAMP"
    src = tmp_path / "buf_src"
    src.mkdir()
    hot = "same degenerate text everywhere"
    rare = "rare unique snippet alpha bravo charlie delta"
    # b0: hot bucket UNDER cap (3 docs) + the rare near-dup pair
    spark.createDataFrame(
        [(1, hot, t0), (2, hot, t0), (3, hot, t0),
         (20, rare, t0), (21, rare, t0 + dt.timedelta(minutes=1))],
        schema,
    ).coalesce(1).write.parquet(str(src / "b0"))
    # b1: hot bucket crosses the cap in a LATER batch — immediate mode
    # would already have emitted (1,2),(1,3),(2,3) in b0
    spark.createDataFrame(
        [(i, hot, t0 + dt.timedelta(minutes=2)) for i in range(4, 8)], schema
    ).coalesce(1).write.parquet(str(src / "b1"))
    # b2/b3: late unrelated docs advance the watermark past eviction
    spark.createDataFrame(
        [(30, "completely different words here", t0 + dt.timedelta(hours=3))], schema
    ).coalesce(1).write.parquet(str(src / "b2"))
    spark.createDataFrame(
        [(31, "other unrelated filler words", t0 + dt.timedelta(hours=3, minutes=1))],
        schema,
    ).coalesce(1).write.parquet(str(src / "b3"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    per_batch: dict[int, list] = {}
    q = (
        minhash_pairs_stream(
            stream, watermark="30 minutes", max_bucket_size=3, emit="buffered"
        )
        .writeStream.foreachBatch(
            lambda df, bid: per_batch.setdefault(bid, []).extend(df.collect())
        )
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "buf_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    out = [r for rows in per_batch.values() for r in rows]
    # the over-cap bucket emitted ZERO pairs — including the three
    # pairs that existed before it crossed the cap
    assert not any(r.doc_a <= 8 and r.doc_b <= 8 for r in out)
    # the under-cap rare pair emitted at eviction, later member's ts
    rare_pairs = [r for r in out if (r.doc_a, r.doc_b) == (20, 21)]
    assert rare_pairs, out
    assert all(r.ts == t0 + dt.timedelta(minutes=1) for r in rare_pairs)
    # nothing emitted while buckets were live: batches 0-1 are silent
    assert not per_batch.get(0) and not per_batch.get(1)


def test_streaming_tar_shards_compose_with_dedup(spark, tmp_path):
    """Shards dropped over time stream as micro-batches of members; the
    caption (txt) stream composes with the stateful exact-content dedup
    — a caption re-shipped in a later shard is dropped, streams all the
    way from tar bytes to deduped rows."""
    import io
    import tarfile

    from pyspark.sql import functions as F

    from beyond_vector_search_spark.sources import archives as ar
    from beyond_vector_search_spark.streaming.dedup import dedup_doc_stream

    def shard(path, samples):
        with tarfile.open(path, "w") as tf:
            for key, data in samples:
                info = tarfile.TarInfo(name=f"{key}.txt")
                info.size = len(data)
                tf.addfile(info, io.BytesIO(data))

    d = tmp_path / "wds_stream"
    d.mkdir()
    shard(str(d / "s0.tar"), [("000001", b"a cat"), ("000002", b"a dog")])
    shard(str(d / "s1.tar"), [("000003", b"a cat"), ("000004", b"a bird")])  # re-ship

    members = ar.stream_tar_shards(spark, str(d / "*.tar"), max_shards_per_trigger=1)
    docs = members.where(F.col("ext") == "txt").select(
        F.regexp_extract("key", r"(\d+)$", 1).cast("bigint").alias("doc_id"),
        F.col("content").cast("string").alias("text"),
        F.col("ts"),
    )
    out: list = []
    q = (
        dedup_doc_stream(docs, text="text", ts_col="ts", watermark="30 minutes")
        .writeStream.foreachBatch(lambda df, _bid: out.extend(df.collect()))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "wds_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert sorted(r.text for r in out) == ["a bird", "a cat", "a dog"]


def test_embedding_neardup_sizing_launches_no_count_job(spark):
    """Auto-sizing the centroid count on FILE-BACKED lineage (filters /
    unions over parquet) must not run a corpus-count job — n comes from
    parquet footers on the driver.  Since round 6 plan construction DOES
    launch exactly one bounded job: the K-row centroid collect that
    loads the coarse quantizer into the Arrow assignment kernel
    (TakeOrderedAndProject of K ~ sqrt(n) vectors — the FAISS "train/
    load the quantizer" step, never a corpus scan or shuffle)."""
    from beyond_vector_search_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").where(
        "vec_id < 40"
    )
    sc = spark.sparkContext
    # job-group tagging, not a global job-counter diff: asynchronous
    # stragglers from earlier (streaming) tests could advance the
    # counter and flake; a sizing job launched synchronously from THIS
    # thread would land in the group
    sc.setJobGroup("neardup-sizing-test", "construction: only the centroid collect")
    try:
        plan = sim.embedding_neardup_pairs(emb, threshold=0.999)
        group_jobs = sc.statusTracker().getJobIdsForGroup("neardup-sizing-test")
    finally:
        sc.setJobGroup(None, None)
    assert len(group_jobs) <= 1, (
        f"plan construction launched {len(group_jobs)} jobs — "
        "only the bounded centroid collect is allowed"
    )
    assert plan.count() >= 0  # the plan itself still executes


def test_cli_index_bucketed_roundtrip(spark, ref_corpus):
    """The CLI's --index-format bucketed path (cli._index): first call
    builds and persists catalog tables, the SECOND call RELOADS them
    (proven by passing a decoy corpus — a rebuild would reflect it),
    and the CLI-written postings table aggregates by term without an
    Exchange."""
    import contextlib
    import io
    import re

    from beyond_vector_search_spark.cli import _index
    from beyond_vector_search_spark.operators.retrieval import search_all

    import shutil

    db = "bvs_cli_bucketed_test"
    for t in ("doc_stats", "term_stats", "postings", "gram_stats",
              "doc_vec", "doc_norm", "scalars", "doc_ids"):
        spark.sql(f"DROP TABLE IF EXISTS {db}.{t}")
    # a previous SESSION's run leaves warehouse directories the current
    # in-memory catalog doesn't know about (DROP TABLE is a no-op for
    # them) and saveAsTable then fails with LOCATION_ALREADY_EXISTS
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{warehouse}/{db}.db", ignore_errors=True)

    idx1 = _index(spark, ref_corpus, db, "bucketed")
    decoy = spark.createDataFrame(
        [("DOC-X", "decoy", "decoy text only")], "doc_id STRING, title STRING, text STRING"
    )
    idx2 = _index(spark, decoy, db, "bucketed")
    assert idx2.term_stats.where("term = 'decoy'").count() == 0  # reload, not rebuild

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        idx2.postings.groupBy("term").agg(F.sum("tf").alias("tf")).explain("formatted")
    assert not re.search(r"\(\d+\) Exchange", buf.getvalue()), buf.getvalue()

    q = spark.createDataFrame(
        [("q1", "INC-49217 details")], "query_id STRING, query STRING"
    )
    top = search_all(q, idx2, k=1)["keyword"].collect()
    assert top[0].doc_id == "DOC-190"


def test_index_delta_compact_preserves_index(spark, tmp_path, ref_corpus, ref_index):
    """A 3-batch streaming ingest followed by IndexDelta.compact():
    the derived index is unchanged (same relations row-for-row), the
    store holds fewer parquet files, a second compact is idempotent,
    and the batch markers still guard replay (re-appending an already-
    ingested batch after compaction is a no-op)."""
    import glob

    from pyspark.sql import functions as F

    from beyond_vector_search_spark.operators.corpus_index import (
        IndexDelta,
        index_from_delta,
    )
    from beyond_vector_search_spark.streaming.ingest import (
        append_delta_batch,
        start_index_ingest,
    )

    src = tmp_path / "docs_src3"
    src.mkdir()
    ref_corpus.where("doc_id < 'DOC-070'").coalesce(1).write.parquet(str(src / "f1"))
    ref_corpus.where("doc_id >= 'DOC-070' AND doc_id < 'DOC-140'").coalesce(1).write.parquet(str(src / "f2"))
    ref_corpus.where("doc_id >= 'DOC-140'").coalesce(1).write.parquet(str(src / "f3"))

    stream = (
        spark.readStream.schema(ref_corpus.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    store = str(tmp_path / "delta_store3")
    q = start_index_ingest(
        stream, store, text=F.concat_ws(" ", "title", "text"),
        trigger={"availableNow": True},
    )
    q.awaitTermination(300)

    def store_files():
        return sorted(
            f for f in glob.glob(f"{store}/*/**/*.parquet", recursive=True)
        )

    def relations(delta):
        idx = index_from_delta(delta)
        return {
            f: sorted(map(tuple, getattr(idx, f).collect()))
            for f in ("postings", "term_stats", "gram_stats", "doc_stats")
        }

    before_files = store_files()
    want = relations(IndexDelta.load(spark, store))
    assert want["term_stats"] == sorted(map(tuple, ref_index.term_stats.collect()))

    compacted = IndexDelta.load(spark, store).compact(store, partitions=2)
    after_files = store_files()
    assert len(after_files) < len(before_files), (len(after_files), len(before_files))
    assert relations(compacted) == want

    # idempotent: compacting the compacted store changes nothing
    again = IndexDelta.load(spark, store).compact(store, partitions=2)
    assert relations(again) == want

    # replay guard: a retried foreachBatch delivery after compaction is
    # skipped by its marker instead of re-appending the batch rows
    assert not append_delta_batch(
        ref_corpus.where("doc_id < 'DOC-070'"), 0, store,
        text=F.concat_ws(" ", "title", "text"),
    )
    assert relations(IndexDelta.load(spark, store)) == want


def test_streaming_minhash_pairs_exactly_once(spark, tmp_path):
    """An identical re-crawl agrees on ALL 4 bands, so the candidate
    stream emits the pair once per band; the documented two-query
    composition (land candidates -> dropDuplicatesWithinWatermark over
    the pair stream's own event time) yields exactly one row for the
    pair — across micro-batches, under the watermark."""
    import datetime as dt

    from beyond_vector_search_spark.streaming.neardup import minhash_pairs_stream

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    text = "the quick brown fox jumps over the lazy dog again and again"
    other = "completely different content about spark shuffles and joins"
    schema = "doc_id BIGINT, text STRING, ts TIMESTAMP"
    src = tmp_path / "eo_src"
    src.mkdir()
    # batch 1: original + unrelated; batch 2: byte-identical re-crawl
    spark.createDataFrame([(1, text, t0), (2, other, t0)], schema).coalesce(1).write.parquet(str(src / "b0"))
    spark.createDataFrame([(3, text, t0 + dt.timedelta(minutes=1))], schema).coalesce(1).write.parquet(str(src / "b1"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    # query 1: candidate pairs -> parquet sink (the landing zone)
    land = tmp_path / "eo_pairs"
    q1 = (
        minhash_pairs_stream(stream, watermark="30 minutes")
        .writeStream.format("parquet")
        .option("path", str(land))
        .option("checkpointLocation", str(tmp_path / "eo_ckpt_raw"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q1.awaitTermination(300)

    raw = spark.read.parquet(str(land)).collect()
    raw_13 = [r for r in raw if (r.doc_a, r.doc_b) == (1, 3)]
    assert len(raw_13) == 4, raw  # identical docs meet in every band
    assert all(r.ts == t0 + dt.timedelta(minutes=1) for r in raw_13)  # later doc's time

    # query 2: watermark-bounded exactly-once dedup over the landed pairs
    uniq: list = []
    pair_stream = (
        spark.readStream.schema("doc_a BIGINT, doc_b BIGINT, band_id INT, band_key STRING, ts TIMESTAMP")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(land))
        .withWatermark("ts", "30 minutes")
        .dropDuplicatesWithinWatermark(["doc_a", "doc_b"])
    )
    q2 = (
        pair_stream.writeStream.foreachBatch(lambda df, _b: uniq.extend(df.collect()))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "eo_ckpt_uniq"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(300)
    uniq_13 = [r for r in uniq if (r.doc_a, r.doc_b) == (1, 3)]
    assert len(uniq_13) == 1, uniq  # exactly-once across bands


def test_streaming_minhash_pair_ts_is_later_doc_within_batch(spark, tmp_path):
    """Rows inside ONE micro-batch are not time-ordered; the pair stamp
    must still be the LATER doc's event time (iteration sorts by ts)."""
    import datetime as dt

    from beyond_vector_search_spark.streaming.neardup import minhash_pairs_stream

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    text = "the quick brown fox jumps over the lazy dog again and again"
    schema = "doc_id BIGINT, text STRING, ts TIMESTAMP"
    src = tmp_path / "ob_src"
    src.mkdir()
    # ONE file/batch: the later-ts doc (id 9) listed FIRST
    spark.createDataFrame(
        [(9, text, t0 + dt.timedelta(minutes=5)), (1, text, t0)], schema
    ).coalesce(1).write.parquet(str(src / "b0"))

    out: list = []
    q = (
        minhash_pairs_stream(
            spark.readStream.schema(schema).parquet(str(src / "*")),
            watermark="30 minutes",
        )
        .writeStream.foreachBatch(lambda df, _b: out.extend(df.collect()))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ob_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    pair_ts = {r.ts for r in out if (r.doc_a, r.doc_b) == (1, 9)}
    assert pair_ts == {t0 + dt.timedelta(minutes=5)}, out


def test_streaming_embedding_neardup_across_batches(spark, tmp_path):
    """A near-duplicate EMBEDDING arriving in a later micro-batch pairs
    with the original through centroid-bucket state (exact cosine
    verified in-state, threshold applied); the deduped pair set equals
    the batch operator's over the same vectors and centroids."""
    import datetime as dt

    from pyspark.sql import functions as F

    from beyond_vector_search_spark.operators import similarity as sim
    from beyond_vector_search_spark.streaming.embed_neardup import (
        embedding_neardup_stream,
    )

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    base = [1.0, 0.0, 0.0, 0.0]
    near = [0.9999, 0.0001, 0.0, 0.0]        # cos ~ 0.9999+
    other = [0.0, 1.0, 0.0, 0.0]
    scaled = [2.0, 0.0, 0.0, 0.0]            # exact dup direction of base
    b1 = [(1, base, t0), (2, other, t0)]
    b2 = [(3, near, t0 + dt.timedelta(minutes=1)),
          (4, scaled, t0 + dt.timedelta(minutes=1))]
    schema = "vec_id BIGINT, embedding ARRAY<DOUBLE>, ts TIMESTAMP"
    src = tmp_path / "end_src"
    src.mkdir()
    for i, rows in enumerate((b1, b2)):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(src / f"b{i}"))

    cents = [(1, base), (2, other)]          # lowest-id rule, explicit
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    out: list = []
    q = (
        embedding_neardup_stream(stream, cents, threshold=0.999, watermark="30 minutes")
        .writeStream.foreachBatch(lambda df, _bid: out.extend(df.collect()))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "end_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {(r.id_a, r.id_b) for r in out}
    assert (1, 3) in got and (1, 4) in got and (3, 4) in got
    assert not any(2 in p for p in got)
    # every emitted pair carries its true cosine above the threshold
    assert all(r.cos >= 0.999 for r in out)

    # batch agreement on the same vectors + same centroid rule
    all_vecs = spark.createDataFrame(b1 + b2, schema).select("vec_id", "embedding")
    batch = {
        (r.id_a, r.id_b)
        for r in sim.embedding_neardup_pairs(
            all_vecs, threshold=0.999, n_centroids=2, probe=2
        ).collect()
    }
    assert got == batch


def test_streaming_embedding_neardup_hot_bucket_guard(spark, tmp_path):
    """A degenerate stream (everything in one centroid bucket) stops
    emitting once the bucket crosses max_bucket_size — bounded state,
    bounded output."""
    import datetime as dt

    from beyond_vector_search_spark.streaming.embed_neardup import (
        embedding_neardup_stream,
    )

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows = [(i, [1.0, 0.0], t0 + dt.timedelta(seconds=i)) for i in range(8)]
    schema = "vec_id BIGINT, embedding ARRAY<DOUBLE>, ts TIMESTAMP"
    src = tmp_path / "hot_src"
    src.mkdir()
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(src / "b0"))

    out: list = []
    q = (
        embedding_neardup_stream(
            stream := spark.readStream.schema(schema).parquet(str(src / "*")),
            [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
            threshold=0.999,
            probe=1,
            max_bucket_size=3,
            watermark="30 minutes",
        )
        .writeStream.foreachBatch(lambda df, _bid: out.extend(df.collect()))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "hot_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    # 8 identical vectors would emit 28 pairs unguarded; the cap drops
    # the bucket at the 4th arrival within the single micro-batch
    assert out == []


def test_zorder_value_interleave():
    """zorder_value is exact MSB-first bit interleaving (python-checked
    on known values) and monotone in each dimension holding others."""
    from pyspark.sql import Row

    from beyond_vector_search_spark.operators.scale import zorder_value
    from beyond_vector_search_spark.session import get_spark

    spark = get_spark("bvs-tests", shuffle_partitions=8)
    rows = [(x, y) for x in (0, 1, 2, 3, 5) for y in (0, 1, 2, 3, 7)]
    df = spark.createDataFrame(rows, "x BIGINT, y BIGINT")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.withColumn("z", zorder_value("x", "y", bits=4)).collect()
    }

    def ref(x, y, bits=4):
        z = 0
        for b in range(bits - 1, -1, -1):
            z = (z << 1) | ((x >> b) & 1)
            z = (z << 1) | ((y >> b) & 1)
        return z

    assert got == {(x, y): ref(x, y) for x, y in rows}


def test_write_zordered_prunes_both_dimensions(spark, tmp_path):
    """The Z-ordered parquet layout makes per-file min/max stats
    selective for predicates on EITHER key; a linear sort only serves
    its first key (the second-dimension predicate touches every file)."""
    import pyarrow.parquet as pq

    from beyond_vector_search_spark.operators.scale import write_zordered

    n = 20_000
    df = spark.range(n).select(
        (F.pmod(F.xxhash64("id"), F.lit(10_000))).alias("x"),
        (F.pmod(F.xxhash64((F.col("id") + 1).cast("long")), F.lit(10_000))).alias("y"),
        F.col("id").alias("payload"),
    )
    zpath, lpath = str(tmp_path / "zord"), str(tmp_path / "linear")
    write_zordered(df, zpath, "x", "y", bits=10, n_files=16)
    df.repartitionByRange(16, "x").sortWithinPartitions("x").write.parquet(lpath)

    def hit_files(path, col, lo, hi):
        import glob

        hits = total = 0
        files = glob.glob(f"{path}/**/*.parquet", recursive=True)
        for f in files:
            md = pq.read_metadata(f)
            fmin = min(
                md.row_group(i).column(
                    [md.schema.column(j).name for j in range(md.num_columns)].index(col)
                ).statistics.min
                for i in range(md.num_row_groups)
            )
            fmax = max(
                md.row_group(i).column(
                    [md.schema.column(j).name for j in range(md.num_columns)].index(col)
                ).statistics.max
                for i in range(md.num_row_groups)
            )
            total += 1
            if fmax >= lo and fmin <= hi:
                hits += 1
        return hits, total

    # narrow slab on each dimension (~5% of the key space)
    zx, zt = hit_files(zpath, "x", 4000, 4500)
    zy, _ = hit_files(zpath, "y", 4000, 4500)
    lx, lt = hit_files(lpath, "x", 4000, 4500)
    ly, _ = hit_files(lpath, "y", 4000, 4500)
    assert zt == 16 and lt == 16
    assert lx <= 3           # linear serves its own sort key...
    assert ly == 16          # ...and nothing else
    # z-order serves BOTH keys: the slab sits inside one rank-space
    # quadrant per dimension, and quadrant-aligned files mean ~4 of 16
    # files intersect it (a cushion for ntile boundary rows)
    assert zx <= 6 and zy <= 6


def test_data_quality_rules_and_gate(spark):
    """Each rule kind counts its violations exactly; the whole report is
    ONE aggregation (single job over a single scan); the gate form
    raises naming the failed rules and passes clean frames through."""
    import pytest

    from beyond_vector_search_spark.operators.validation import (
        Rule,
        assert_quality,
        data_quality_report,
    )

    rows = [
        (1, 10.0, "A", "a@x.io"),
        (2, -5.0, "A", "bad-email"),
        (2, 3.0, "Q", None),
        (None, 200.0, "N", "c@y.org"),
    ]
    df = spark.createDataFrame(rows, "id BIGINT, v DOUBLE, flag STRING, email STRING")
    rules = [
        Rule("id_present", "id", "not_null"),
        Rule("id_unique", "id", "unique"),
        Rule("v_min", "v", "min", (0,)),
        Rule("v_max", "v", "max", (100,)),
        Rule("v_range", "v", "between", (0, 100)),
        Rule("flag_domain", "flag", "allowed", (("A", "N", "R"),)),
        Rule("email_format", "email", "regex", ("[^@]+@[^@]+", )),
    ]
    got = {r["rule_id"]: r for r in data_quality_report(df, rules).collect()}
    assert all(r["n_rows"] == 4 for r in got.values())
    assert got["id_present"]["n_violations"] == 1
    assert got["id_unique"]["n_violations"] == 1          # id=2 twice
    assert got["v_min"]["n_violations"] == 1              # -5
    assert got["v_max"]["n_violations"] == 1              # 200
    assert got["v_range"]["n_violations"] == 2
    assert got["flag_domain"]["n_violations"] == 1        # Q
    assert got["email_format"]["n_violations"] == 1       # NULL not counted
    assert not any(r["passed"] for r in got.values())

    with pytest.raises(ValueError, match="id_unique"):
        assert_quality(df, rules)
    clean = df.where("id = 1")
    assert assert_quality(clean, rules) is clean

    # single-pass claim: the report plan contains exactly one Aggregate
    plan = data_quality_report(df, rules)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Aggregate") == 1


def test_percolate_matches_batch_bm25(spark):
    """Percolation parity: the compiled standing-query fold scores a
    document batch identically to operators/retrieval.bm25_scores on
    the frozen index statistics (matched-only profile)."""
    from beyond_vector_search_spark.config import EngineConfig
    from beyond_vector_search_spark.operators.corpus_index import build_index
    from beyond_vector_search_spark.operators.retrieval import bm25_scores
    from beyond_vector_search_spark.streaming.percolate import (
        compile_standing_queries,
        percolate_doc_stream,
    )

    docs = spark.createDataFrame(
        [
            (1, "spark joins shuffle data across the cluster"),
            (2, "broadcast joins avoid the shuffle"),
            (3, "window functions rank rows"),
        ],
        "doc_id long, text string",
    )
    idx = build_index(docs).cache()
    queries = spark.createDataFrame(
        [("q1", "shuffle joins"), ("q2", "window rank"), ("q3", "zzz-oov-only")],
        "query_id string, query string",
    )
    cfg = EngineConfig(include_zero_score_docs=False)
    standing = compile_standing_queries(queries, idx, cfg=cfg)
    assert standing.terms["q3"] == []  # all-OOV query compiles empty

    got = {
        (r["query_id"], r["doc_id"]): round(r["score"], 9)
        for r in percolate_doc_stream(docs, standing, cfg=cfg).collect()
    }
    want = {
        (r["query_id"], r["doc_id"]): round(r["score"], 9)
        for r in bm25_scores(queries, idx, cfg=cfg).collect()
        if r["score"] > 0
    }
    assert got == want


def test_percolate_streams_immediate_matches(spark, tmp_path):
    """Live micro-batch drive: matches emit per batch with no state —
    each arriving document alerts its standing queries immediately."""
    import datetime as dt

    from beyond_vector_search_spark.config import EngineConfig
    from beyond_vector_search_spark.operators.corpus_index import build_index
    from beyond_vector_search_spark.streaming.percolate import (
        compile_standing_queries,
        percolate_doc_stream,
    )

    corpus = spark.createDataFrame(
        [(1, "spark joins shuffle data"), (2, "cooking garlic soup")],
        "doc_id long, text string",
    )
    idx = build_index(corpus).cache()
    queries = spark.createDataFrame(
        [("alerts-spark", "spark shuffle"), ("alerts-soup", "garlic soup")],
        "query_id string, query string",
    )
    cfg = EngineConfig(include_zero_score_docs=False)
    standing = compile_standing_queries(queries, idx, cfg=cfg)

    t0 = dt.datetime(2026, 1, 1, 8, 0, 0)
    schema = "doc_id BIGINT, text STRING, ts TIMESTAMP"
    src = tmp_path / "perc_src"
    src.mkdir()
    spark.createDataFrame(
        [(10, "fresh spark shuffle regression report", t0)], schema
    ).coalesce(1).write.parquet(str(src / "b0"))
    spark.createDataFrame(
        [(11, "garlic soup recipe", t0), (12, "unrelated text", t0)], schema
    ).coalesce(1).write.parquet(str(src / "b1"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    seen: list = []
    q = (
        percolate_doc_stream(stream, standing, cfg=cfg, extra_cols=("ts",))
        .writeStream.foreachBatch(lambda df, _bid: seen.extend(df.collect()))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "perc_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    matches = {(r.doc_id, r.query_id) for r in seen}
    assert (10, "alerts-spark") in matches
    assert (11, "alerts-soup") in matches
    assert not any(d == 12 for d, _ in matches)  # unrelated doc never alerts
    assert all(r.score > 0 for r in seen)


def test_live_percolation_picks_up_new_rules_mid_stream(spark, tmp_path):
    """live_percolate_batch_fn re-reads the standing set each
    micro-batch: a rule registered after batch 0 matches batch 1's
    documents with no stream restart, and each batch's matches equal
    the batch-mode percolation under the rules visible to that batch."""
    import datetime as dt

    from beyond_vector_search_spark.config import EngineConfig
    from beyond_vector_search_spark.operators.corpus_index import build_index
    from beyond_vector_search_spark.streaming.percolate import (
        compile_standing_queries,
        live_percolate_batch_fn,
        percolate_doc_stream,
    )

    corpus = spark.createDataFrame(
        [(1, "spark joins shuffle data"), (2, "cooking garlic soup")],
        "doc_id long, text string",
    )
    idx = build_index(corpus).cache()
    cfg = EngineConfig(include_zero_score_docs=False)

    qdir = str(tmp_path / "standing")
    qschema = "query_id string, query string"
    spark.createDataFrame([("alerts-spark", "spark shuffle")], qschema).coalesce(
        1
    ).write.parquet(qdir)

    t0 = dt.datetime(2026, 1, 1, 8, 0, 0)
    schema = "doc_id BIGINT, text STRING, ts TIMESTAMP"
    src = tmp_path / "live_src"
    src.mkdir()
    b0 = [(10, "fresh spark shuffle regression report", t0)]
    b1 = [(11, "garlic soup recipe", t0), (12, "spark shuffle once more", t0)]
    spark.createDataFrame(b0, schema).coalesce(1).write.parquet(str(src / "b0"))
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(str(src / "b1"))

    seen: dict[int, list] = {}

    def sink(matches, batch_id):
        seen[batch_id] = matches.collect()
        if batch_id == 0:
            # register a NEW standing query mid-stream
            spark.createDataFrame(
                [("alerts-soup", "garlic soup")], qschema
            ).coalesce(1).write.mode("append").parquet(qdir)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    q = (
        stream.writeStream.foreachBatch(
            live_percolate_batch_fn(qdir, idx, sink, cfg=cfg)
        )
        .option("checkpointLocation", str(tmp_path / "live_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    m0 = {(r.doc_id, r.query_id) for r in seen.get(0, [])}
    m1 = {(r.doc_id, r.query_id) for r in seen.get(1, [])}
    assert m0 == {(10, "alerts-spark")}  # soup rule did not exist yet
    assert (11, "alerts-soup") in m1     # new rule live on the NEXT batch
    assert (12, "alerts-spark") in m1    # old rule still active

    # batch parity: batch 1 under the full rule set == batch-mode run
    standing = compile_standing_queries(
        spark.read.parquet(qdir), idx, cfg=cfg
    )
    want = {
        (r.doc_id, r.query_id, round(r.score, 9))
        for r in percolate_doc_stream(
            spark.createDataFrame(b1, schema), standing, cfg=cfg
        ).collect()
    }
    assert {(r.doc_id, r.query_id, round(r.score, 9)) for r in seen[1]} == want


def test_ingest_store_time_travel(spark, tmp_path, ref_corpus):
    """up_to_batch loads the delta store exactly as it stood after
    ingest batch N: the historical index equals a batch build over the
    first N+1 micro-batches' documents (historical df/idf, not
    current), and the newer partitions are pruned at the scan."""
    from pyspark.sql import functions as F

    from beyond_vector_search_spark.operators.corpus_index import (
        IndexDelta,
        build_index,
        index_from_delta,
    )
    from beyond_vector_search_spark.streaming.ingest import start_index_ingest

    src = tmp_path / "tt_src"
    src.mkdir()
    ref_corpus.where("doc_id < 'DOC-100'").coalesce(1).write.parquet(str(src / "f1"))
    ref_corpus.where("doc_id >= 'DOC-100'").coalesce(1).write.parquet(str(src / "f2"))

    stream = (
        spark.readStream.schema(ref_corpus.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    store = str(tmp_path / "tt_store")
    text = F.concat_ws(" ", "title", "text")
    q = start_index_ingest(stream, store, text=text, trigger={"availableNow": True})
    q.awaitTermination(300)

    # streaming epoch N lands at batch_id=N+1 (batch 0 is reserved for
    # a save()/compact() fold — the append_vector_batch contract), so
    # "as it stood after the first micro-batch" is up_to_batch=1
    asof = index_from_delta(IndexDelta.load(spark, store, up_to_batch=1))
    want = build_index(ref_corpus.where("doc_id < 'DOC-100'"), text=text)
    assert asof.doc_ids.count() == want.doc_ids.count()
    for field in ("postings", "term_stats", "doc_stats"):
        a, w = getattr(asof, field), getattr(want, field)
        assert a.exceptAll(w).count() == 0, field
        assert w.exceptAll(a).count() == 0, field

    # the partition filter reaches the scan (newer batch dirs pruned)
    plan = (
        IndexDelta.load(spark, store, up_to_batch=1)
        .postings._jdf.queryExecution().executedPlan().toString()
    )
    assert "batch_id" in plan

    # a save()'d store carries the fold as batch 0: up_to_batch=0 is
    # "exactly as saved", uniform with IVFPQIndex.save semantics
    flat = str(tmp_path / "flat_store")
    loaded = IndexDelta.load(spark, store)
    loaded.save(flat)
    assert (
        IndexDelta.load(spark, flat, up_to_batch=0).doc_ids.count()
        == loaded.doc_ids.count()
    )

    # a store written WITHOUT batch_id partitioning (external/legacy
    # producer) still rejects up_to_batch loudly
    import pytest as _pytest

    bare = str(tmp_path / "bare_store")
    for f in IndexDelta._FIELDS:
        getattr(loaded, f).write.mode("overwrite").parquet(f"{bare}/{f}")
    with _pytest.raises(ValueError):
        IndexDelta.load(spark, bare, up_to_batch=0)


def test_cli_strategy_override_rrf_mmr(spark, tmp_path):
    """cli run --strategy rrf|mmr drives the fusion extensions end to
    end on the reference corpus (string doc_ids — the kernel schema
    must follow the input id type)."""
    import argparse

    from beyond_vector_search_spark.cli import cmd_run

    def run(strategy):
        args = argparse.Namespace(
            query="INC-49217 details", k=5, strategy=strategy,
            corpus="/root/reference/data/corpus.jsonl",
            labels="/root/reference/data/labels.jsonl",
            db=str(tmp_path / f"db_{strategy}"), index_dir=None,
            index_format="parquet",
        )
        return cmd_run(args)

    rrf = run("rrf")
    assert rrf["strategy"] == "rrf" and len(rrf["top_k"]) == 5
    assert rrf["top_k"][0]["doc_id"] == "DOC-190"  # both arms agree on top-1

    mmr = run("mmr")
    assert mmr["strategy"] == "mmr" and len(mmr["top_k"]) == 5
    assert mmr["top_k"][0]["doc_id"] == "DOC-190"
    # diversified set has no duplicate docs
    assert len({x["doc_id"] for x in mmr["top_k"]}) == 5


def test_opq_rotation_orthogonal_and_reduces_error(spark):
    """OPQ invariants: the learned rotation is orthogonal, and on
    anisotropic (correlated) data the rotated-space quantization error
    is at most plain trained-PQ's error (Ge et al. 2013's guarantee)."""
    import random

    import numpy as np

    from beyond_vector_search_spark.operators import similarity as sim

    # correlated data: isotropic gaussians through a fixed skew matrix
    rng = np.random.default_rng(3)
    dim, n = 16, 400
    skew = rng.standard_normal((dim, dim)) * np.linspace(3.0, 0.1, dim)[None, :]
    X = rng.standard_normal((n, dim)) @ skew
    emb = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )

    m, n_codes = 4, 8
    R, books = sim.opq_train(emb, m=m, dim=dim, n_codes=n_codes, iters=6)
    Rm = np.asarray(R)
    assert np.allclose(Rm @ Rm.T, np.eye(dim), atol=1e-8)

    def mse(Y, books_df):
        rows = books_df.collect()
        by_sub = {}
        for r in rows:
            by_sub.setdefault(r["sub"], {})[r["code_id"]] = np.array(r["codeword"])
        d = dim // m
        err = 0.0
        for s in range(m):
            C = np.stack([by_sub[s][c] for c in sorted(by_sub[s])])
            sl = Y[:, s * d:(s + 1) * d]
            diff = sl[:, None, :] - C[None, :, :]
            err += (diff * diff).sum(axis=2).min(axis=1).sum()
        return err / len(Y)

    plain_books = sim.pq_refine_codebooks(emb, m=m, dim=dim, n_codes=n_codes)
    opq_err = mse(X @ Rm, books)
    plain_err = mse(X, plain_books)
    assert opq_err <= plain_err * 1.001  # never worse; usually much better

    # end-to-end search: rotation preserves exact geometry, so the
    # reranked OPQ top-k agrees with exact brute-force on the planted
    # nearest neighbor
    q = spark.createDataFrame(
        [(0, [float(x) for x in X[7] + 1e-4])], "vec_id LONG, embedding ARRAY<DOUBLE>"
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    got = sim.opq_topk(
        emb, q, m=m, dim=dim, n_codes=n_codes, k=3, rerank=50,
        rotation=R, codebooks=books,
    ).orderBy("rank").collect()
    assert got[0]["neighbor_id"] == 7


def test_percolate_embedding_stream(spark, tmp_path):
    """Standing-vector percolation: arriving embeddings alert the
    standing queries they are cosine-near, immediately and statelessly;
    scale-invariant duplicates always match (cos = 1)."""
    import datetime as dt

    from beyond_vector_search_spark.streaming.percolate import (
        percolate_embedding_stream,
    )

    q1 = [1.0, 0.0, 0.0, 0.0]
    q2 = [0.0, 1.0, 0.0, 0.0]
    standing = [("topic-x", q1), ("topic-y", q2)]

    t0 = dt.datetime(2026, 1, 1, 7, 0, 0)
    schema = "vec_id BIGINT, embedding ARRAY<DOUBLE>, ts TIMESTAMP"
    src = tmp_path / "vp_src"
    src.mkdir()
    spark.createDataFrame(
        [(1, [2.0, 0.1, 0.0, 0.0], t0), (2, [0.0, 5.0, 0.0, 0.0], t0)], schema
    ).coalesce(1).write.parquet(str(src / "b0"))
    spark.createDataFrame(
        [(3, [0.5, 0.5, 0.5, 0.5], t0), (4, [0.0, 0.0, 0.0, 0.0], t0)], schema
    ).coalesce(1).write.parquet(str(src / "b1"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    seen: list = []
    q = (
        percolate_embedding_stream(stream, standing, threshold=0.9)
        .writeStream.foreachBatch(lambda df, _bid: seen.extend(df.collect()))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "vp_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    matches = {(r.vec_id, r.query_id) for r in seen}
    assert (1, "topic-x") in matches      # near-axis vector alerts topic-x
    assert (2, "topic-y") in matches      # scaled axis vector: cos == 1
    assert not any(v == 3 for v, _ in matches)  # diagonal: cos = 0.5 < 0.9
    assert not any(v == 4 for v, _ in matches)  # zero vector never matches
    assert all(r.cos >= 0.9 for r in seen)


def test_pqindex_opq_roundtrip(spark, tmp_path):
    """PQIndex(opq=True) stores the rotation; a reloaded index serves
    identical results, and its reranked top-1 finds the planted
    neighbor (rotation applied to queries AND rerank vectors)."""
    import numpy as np

    from beyond_vector_search_spark.operators.similarity import PQIndex

    rng = np.random.default_rng(5)
    dim, n = 16, 300
    skew = rng.standard_normal((dim, dim)) * np.linspace(3.0, 0.1, dim)[None, :]
    X = rng.standard_normal((n, dim)) @ skew
    emb = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    idx = PQIndex.build(emb, m=4, dim=dim, n_codes=8, opq=True)
    assert idx.rotation is not None

    q = spark.createDataFrame(
        [(0, [float(x) for x in X[11] + 1e-4])], "vec_id LONG, embedding ARRAY<DOUBLE>"
    ).select(F.col("vec_id").alias("query_id"), "embedding")

    live = [
        (r["neighbor_id"], r["rank"])
        for r in idx.search(q, k=3, rerank=40, embeddings=emb).orderBy("rank").collect()
    ]
    assert live[0][0] == 11

    path = str(tmp_path / "opq_idx")
    idx.save(path)
    cold = PQIndex.load(spark, path)
    assert cold.rotation is not None
    np_live = [
        (r["neighbor_id"], r["rank"])
        for r in cold.search(q, k=3, rerank=40, embeddings=emb).orderBy("rank").collect()
    ]
    assert np_live == live


def test_pqindex_meta_records_rotation_flag(spark, tmp_path):
    """load() trusts the has_rotation flag in the meta parquet, not a
    local-FS directory probe (HDFS/S3-safe), and fails LOUDLY when the
    recorded rotation is unreadable instead of silently serving
    unrotated queries against rotated codes."""
    import numpy as np
    import pytest as _pytest

    from beyond_vector_search_spark.operators.similarity import PQIndex

    rng = np.random.default_rng(9)
    X = rng.standard_normal((80, 16))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(80)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    # no OPQ: meta records has_rotation = false
    plain = PQIndex.build(emb, m=4, dim=16, n_codes=8)
    p1 = str(tmp_path / "plain")
    plain.save(p1)
    meta = spark.read.parquet(f"{p1}/meta").first()
    assert meta["has_rotation"] is False
    assert PQIndex.load(spark, p1).rotation is None

    # OPQ: flag true; blanking the rotation store must raise, not
    # silently load rotation=None
    opq = PQIndex.build(emb, m=4, dim=16, n_codes=8, opq=True)
    p2 = str(tmp_path / "opq")
    opq.save(p2)
    assert spark.read.parquet(f"{p2}/meta").first()["has_rotation"] is True
    spark.createDataFrame([], "i INT, row ARRAY<DOUBLE>").write.mode(
        "overwrite"
    ).parquet(f"{p2}/rotation")
    with _pytest.raises(ValueError, match="rotation"):
        PQIndex.load(spark, p2)


def test_opq_train_reproducible_across_partitionings(spark):
    """The persisted rotation must retrain identically regardless of
    partition layout: the numpy fit sorts its collected sample by id."""
    import numpy as np

    from beyond_vector_search_spark.operators.similarity import opq_train

    rng = np.random.default_rng(3)
    X = rng.standard_normal((120, 16))
    rows = [(i, [float(x) for x in X[i]]) for i in range(120)]
    emb1 = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    emb2 = emb1.repartition(7)
    r1, _ = opq_train(emb1, m=4, dim=16, n_codes=8, iters=2, lloyd_iters=2)
    r2, _ = opq_train(emb2, m=4, dim=16, n_codes=8, iters=2, lloyd_iters=2)
    assert np.allclose(np.asarray(r1), np.asarray(r2), atol=0.0)


def test_ivfpq_residual_beats_wholevector_quantization(spark):
    """Residual IVF-PQ on clustered data: the within-bucket residual
    spread is what the codes must cover, so the planted nearest
    neighbor survives ADC where whole-vector coding may blur it; with
    exact rerank the neighbor is found at rank 1."""
    import numpy as np

    from beyond_vector_search_spark.operators import similarity as sim

    rng = np.random.default_rng(9)
    dim, per = 16, 60
    # three well-separated clusters with small local spread
    centers = np.array(
        [[30.0] + [0.0] * (dim - 1), [0.0, 30.0] + [0.0] * (dim - 2),
         [0.0, 0.0, 30.0] + [0.0] * (dim - 3)]
    )
    X = np.vstack([c + rng.standard_normal((per, dim)) for c in centers])
    emb = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    cents = spark.createDataFrame(
        [(i, [float(x) for x in centers[i]]) for i in range(3)],
        "centroid_id INT, embedding ARRAY<DOUBLE>",
    )
    # query: a small perturbation of corpus vector 5 (cluster 0)
    q = spark.createDataFrame(
        [(999, [float(x) for x in X[5] + 0.01])], "query_id LONG, embedding ARRAY<DOUBLE>"
    )

    got = sim.ivfpq_residual_topk(
        emb, q, cents, m=4, dim=dim, n_codes=16, k=3, nprobe=1, rerank=30
    ).orderBy("rank").collect()
    assert got[0]["neighbor_id"] == 5

    # ADC-only (no rerank): residual coding ranks the true neighbor
    # no worse than whole-vector coding does
    res_rank = {
        r["neighbor_id"]: r["rank"]
        for r in sim.ivfpq_residual_topk(
            emb, q, cents, m=4, dim=dim, n_codes=16, k=60, nprobe=1
        ).collect()
    }.get(5, 10_000)
    whole_rank = {
        r["neighbor_id"]: r["rank"]
        for r in sim.ivfpq_topk(
            emb, q, cents, m=4, dim=dim, n_codes=16, k=60, nprobe=1
        ).collect()
    }.get(5, 10_000)
    assert res_rank <= whole_rank


def test_ivfpq_index_roundtrip_parity(spark, tmp_path):
    """IVFPQIndex (persisted residual IVF-PQ, the FAISS IndexIVFPQ
    save/load shape): build → save → load serves row-identically to
    the fused ivfpq_residual_topk on the same inputs, both pure-ADC
    and with exact rerank; the loaded store's ADC search needs NO raw
    embeddings frame; the codes table lands partitioned by centroid_id
    (one directory per bucket, the probe-pruning layout)."""
    import glob

    import numpy as np

    from beyond_vector_search_spark.operators import similarity as sim

    rng = np.random.default_rng(21)
    dim, per = 16, 40
    centers = np.array(
        [[25.0] + [0.0] * (dim - 1), [0.0, 25.0] + [0.0] * (dim - 2),
         [0.0, 0.0, 25.0] + [0.0] * (dim - 3)]
    )
    X = np.vstack([c + rng.standard_normal((per, dim)) for c in centers])
    emb = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    cents = spark.createDataFrame(
        [(i, [float(x) for x in centers[i]]) for i in range(3)],
        "centroid_id INT, embedding ARRAY<DOUBLE>",
    )
    q = spark.createDataFrame(
        [(900, [float(x) for x in X[3] + 0.01]), (901, [float(x) for x in X[70]])],
        "query_id LONG, embedding ARRAY<DOUBLE>",
    )

    fused = sorted(
        map(
            tuple,
            sim.ivfpq_residual_topk(
                emb, q, cents, m=4, dim=dim, n_codes=16, k=4, nprobe=2
            ).collect(),
        )
    )
    idx = sim.IVFPQIndex.build(emb, cents, m=4, dim=dim, n_codes=16)
    path = str(tmp_path / "ivfpq")
    idx.save(path)
    loaded = sim.IVFPQIndex.load(spark, path)
    assert (loaded.m, loaded.dim) == (4, dim)
    # serve from the store: codes + codebooks + centroids only
    got = sorted(map(tuple, loaded.search(q, k=4, nprobe=2).collect()))
    assert got == fused

    # rerank arm parity (needs raw vectors for the exact second stage)
    fused_rr = sorted(
        map(
            tuple,
            sim.ivfpq_residual_topk(
                emb, q, cents, m=4, dim=dim, n_codes=16, k=3, nprobe=2, rerank=20
            ).collect(),
        )
    )
    got_rr = sorted(
        map(
            tuple,
            loaded.search(q, k=3, nprobe=2, rerank=20, embeddings=emb).collect(),
        )
    )
    assert got_rr == fused_rr
    import pytest

    with pytest.raises(ValueError):
        loaded.search(q, k=3, rerank=20)  # rerank without raw vectors

    # bucket layout: build lands as batch 0 of the committed version
    # root (fsutil pointer protocol) with one directory per centroid
    # inside it (probe pruning on centroid_id; batch_id is the
    # append/ingest dimension)
    from beyond_vector_search_spark.sources import fsutil

    root = fsutil.resolve_version(spark, path, "codes")
    assert root.endswith("codes-v0")
    assert sorted(
        d.rsplit("=", 1)[-1]
        for d in glob.glob(f"{root}/batch_id=0/centroid_id=*")
    ) == ["0", "1", "2"]


def test_ivfpq_index_extend_append_incremental(spark, tmp_path):
    """IVFPQIndex incremental ingest (the FAISS IndexIVFPQ.add shape):
    encoding a new batch against the FROZEN quantizer + codebooks is
    bit-equal to having built the whole corpus with those codebooks
    (extend == build(all, codebooks=cb)); the store-level `append`
    parquet-appends only the touched bucket directories and the
    re-loaded store serves identically to the in-session extend; and a
    query lands on a vector that only exists in the appended batch."""
    import glob

    import numpy as np

    from beyond_vector_search_spark.operators import similarity as sim

    rng = np.random.default_rng(33)
    dim, per = 16, 30
    centers = np.array(
        [[25.0] + [0.0] * (dim - 1), [0.0, 25.0] + [0.0] * (dim - 2),
         [0.0, 0.0, 25.0] + [0.0] * (dim - 3)]
    )
    X = np.vstack([c + rng.standard_normal((per, dim)) for c in centers])

    def df_of(ids):
        return spark.createDataFrame(
            [(i, [float(x) for x in X[i]]) for i in ids],
            "vec_id LONG, embedding ARRAY<DOUBLE>",
        )

    n = len(X)
    first, second = df_of(range(0, n, 2)), df_of(range(1, n, 2))
    cents = spark.createDataFrame(
        [(i, [float(x) for x in centers[i]]) for i in range(3)],
        "centroid_id INT, embedding ARRAY<DOUBLE>",
    )

    base = sim.IVFPQIndex.build(first, cents, m=4, dim=dim, n_codes=16)
    extended = base.extend(second)
    # parity: extend == one-shot build over everything with the SAME
    # (first-batch-trained) codebooks — old codes untouched by design
    oneshot = sim.IVFPQIndex.build(
        df_of(range(n)), cents, m=4, dim=dim, codebooks=base.codebooks
    )
    key = lambda df: sorted(  # noqa: E731
        (r["vec_id"], r["centroid_id"], tuple(r["codes"])) for r in df.collect()
    )
    assert key(extended.codes) == key(oneshot.codes)

    # store-level append: save(first) then append(second); the batch
    # lands in its own batch_id=1 directory (base files untouched),
    # reload serves == in-session extend
    from beyond_vector_search_spark.sources import fsutil

    path = str(tmp_path / "ivfpq")
    base.save(path)
    root = fsutil.resolve_version(spark, path, "codes")
    files_before = set(glob.glob(f"{root}/batch_id=*/centroid_id=*/*.parquet"))
    appended = sim.IVFPQIndex.append(spark, path, second)
    files_after = set(glob.glob(f"{root}/batch_id=*/centroid_id=*/*.parquet"))
    assert files_before < files_after            # old files untouched, new added
    assert {f for f in files_after - files_before if "batch_id=1/" not in f} == set()
    assert appended.codes.count() == n

    q = spark.createDataFrame(
        # vec 1 is in the SECOND batch only
        [(900, [float(x) for x in X[1] + 0.01])],
        "query_id LONG, embedding ARRAY<DOUBLE>",
    )
    got_mem = sorted(map(tuple, extended.search(q, k=4, nprobe=2).collect()))
    got_store = sorted(map(tuple, appended.search(q, k=4, nprobe=2).collect()))
    assert got_mem == got_store
    assert 1 in {r[1] for r in got_store}        # the appended vector is served

    # a retried batch_id overwrites its own directory — no duplicates
    # (the returned index is freshly loaded; handles taken BEFORE the
    # retry see rewritten files, like any DataFrame over a mutated path)
    retried = sim.IVFPQIndex.append(spark, path, second, batch_id=1)
    assert retried.codes.count() == n
    assert sorted(map(tuple, retried.search(q, k=4, nprobe=2).collect())) == got_store

    # maintenance: `bvs maintain --ivfpq-dir` collapses the per-append
    # files to one per bucket; rows and search results unchanged
    import argparse

    from beyond_vector_search_spark.cli import cmd_maintain

    out = cmd_maintain(
        argparse.Namespace(db=None, delta_dir=None, partitions=None, ivfpq_dir=path)
    )
    assert out["ivfpq_code_rows"] == n
    # compaction committed a NEW version root (pointer-file protocol)
    # and garbage-collected the old one
    root2 = fsutil.resolve_version(spark, path, "codes")
    assert root2 != root and not glob.glob(root)
    files_compacted = glob.glob(f"{root2}/batch_id=*/centroid_id=*/*.parquet")
    assert len(files_compacted) == 3             # folded to batch 0, one file per bucket
    assert all("batch_id=0/" in f for f in files_compacted)
    compacted = sim.IVFPQIndex.load(spark, path)
    assert sorted(map(tuple, compacted.search(q, k=4, nprobe=2).collect())) == got_store


def test_streaming_dedup_ingest_matches_monolithic(spark, tmp_path):
    """Dedup-against-all-history: a document stream drains through the
    band-store ingest in three micro-batches; the accumulated pair log
    equals the monolithic lsh_candidate_pairs over everything, and a
    replayed epoch is marker-skipped."""
    from beyond_vector_search_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from beyond_vector_search_spark.streaming.ingest import (
        dedup_ingest_batch,
        start_dedup_ingest,
    )

    rows = [
        (i, f"alpha bravo charlie delta echo body {i % 5} {i % 3}") for i in range(30)
    ]
    # batch 3 re-delivers batch-1 content under new ids: cross-epoch dups
    rows += [(i + 500, rows[i][1] + " tail") for i in range(10)]
    schema = "doc_id long, text string"
    src = tmp_path / "dd_src"
    src.mkdir()
    spark.createDataFrame(rows[:15], schema).coalesce(1).write.parquet(str(src / "b0"))
    spark.createDataFrame(rows[15:30], schema).coalesce(1).write.parquet(str(src / "b1"))
    spark.createDataFrame(rows[30:], schema).coalesce(1).write.parquet(str(src / "b2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    store = str(tmp_path / "dd_store")
    q = start_dedup_ingest(stream, store, trigger={"availableNow": True})
    q.awaitTermination(300)

    log = spark.read.parquet(f"{store}/pairs")
    assert sorted(
        int(r.batch_id) for r in log.select("batch_id").distinct().collect()
    ) == [0, 1, 2]
    got = {(r.doc_a, r.doc_b) for r in log.collect()}
    mono = {
        (r.doc_a, r.doc_b)
        for r in lsh_candidate_pairs(
            minhash_signatures(spark.createDataFrame(rows, schema))
        ).collect()
    }
    assert got == mono
    # cross-epoch dups were actually caught (batch-2 ids vs batch-0 ids)
    assert any(a < 500 <= b for a, b in got)

    # replayed epoch is marker-skipped; the log is unchanged
    assert dedup_ingest_batch(spark.createDataFrame(rows[:15], schema), 0, store) is False
    assert spark.read.parquet(f"{store}/pairs").count() == len(got)


def test_streaming_vector_ingest_extends_ivfpq_store(spark, tmp_path):
    """Streaming ANN maintenance: a file-source embedding stream drains
    through foreachBatch → IVFPQIndex.append (frozen quantizer +
    codebooks); the resulting store equals a one-shot build of the full
    corpus with the base codebooks, each micro-batch lands in its own
    codes/batch_id=N directory, and a replayed epoch is skipped by its
    marker."""
    import glob

    import numpy as np

    from beyond_vector_search_spark.operators import similarity as sim
    from beyond_vector_search_spark.streaming.ingest import (
        append_vector_batch,
        start_vector_ingest,
    )

    rng = np.random.default_rng(44)
    dim = 16
    centers = np.eye(3, dim) * 25.0
    X = np.vstack([c + rng.standard_normal((20, dim)) for c in centers])
    n = len(X)

    def df_of(ids):
        return spark.createDataFrame(
            [(i, [float(x) for x in X[i]]) for i in ids],
            "vec_id LONG, embedding ARRAY<DOUBLE>",
        )

    cents = spark.createDataFrame(
        [(i, [float(x) for x in centers[i]]) for i in range(3)],
        "centroid_id INT, embedding ARRAY<DOUBLE>",
    )
    base_ids, s1, s2 = range(0, n, 3), range(1, n, 3), range(2, n, 3)
    base = sim.IVFPQIndex.build(df_of(base_ids), cents, m=4, dim=dim, n_codes=16)
    store = str(tmp_path / "vstore")
    base.save(store)

    src = tmp_path / "vec_src"
    src.mkdir()
    df_of(s1).coalesce(1).write.parquet(str(src / "f1"))
    df_of(s2).coalesce(1).write.parquet(str(src / "f2"))
    stream = (
        spark.readStream.schema("vec_id LONG, embedding ARRAY<DOUBLE>")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    q = start_vector_ingest(stream, store, trigger={"availableNow": True})
    q.awaitTermination(300)

    from beyond_vector_search_spark.sources import fsutil

    loaded = sim.IVFPQIndex.load(spark, store)
    assert loaded.codes.count() == n
    # one batch directory per micro-batch (+ the build's batch 0)
    groot = fsutil.resolve_version(spark, store, "codes")
    assert len(glob.glob(f"{groot}/batch_id=*")) == 3

    oneshot = sim.IVFPQIndex.build(
        df_of(range(n)), cents, m=4, dim=dim, codebooks=base.codebooks
    )
    key = lambda df: sorted(  # noqa: E731
        (r["vec_id"], r["centroid_id"], tuple(r["codes"])) for r in df.collect()
    )
    assert key(loaded.codes) == key(oneshot.codes)

    # replayed epoch: marker short-circuits, store unchanged
    assert append_vector_batch(df_of(s1), 0, store) is False
    assert sim.IVFPQIndex.load(spark, store).codes.count() == n

    # time travel: up_to_batch=0 is the store exactly as built (the
    # newer batch directories prune at the scan); the historical codes
    # equal the base build's bit-for-bit
    hist = sim.IVFPQIndex.load(spark, store, up_to_batch=0)
    assert key(hist.codes) == key(base.codes)


def test_delta_store_append_after_compact_and_save(spark, tmp_path):
    """Appending a NEW streaming batch after a compact (or into a
    save()'d store) must keep EVERY row readable: the fold/save writes
    its rows as a batch_id=0 partition directory, because a parquet
    reader over a directory mixing flat files with batch_id=N
    partition subdirectories silently drops the flat files — before
    this layout, a post-compact append made the folded corpus vanish
    from load() (12-doc store read back as the 4 appended docs)."""
    import tempfile

    from beyond_vector_search_spark.operators.corpus_index import (
        IndexDelta,
        build_delta,
        index_from_delta,
    )
    from beyond_vector_search_spark.streaming.ingest import append_delta_batch

    docs = spark.createDataFrame(
        [(i, f"alpha doc{i} tok{i % 3}") for i in range(12)],
        "doc_id long, text string",
    )

    def doc_ids(store):
        return sorted(
            r["doc_id"] for r in IndexDelta.load(spark, store).doc_ids.collect()
        )

    # streaming batches -> compact -> a THIRD batch after the fold
    store = str(tmp_path / "delta_pc")
    assert append_delta_batch(docs.where("doc_id < 4"), 0, store)
    assert append_delta_batch(docs.where("doc_id >= 4 and doc_id < 8"), 1, store)
    IndexDelta.load(spark, store).compact(store, partitions=1)
    assert doc_ids(store) == list(range(8))
    assert append_delta_batch(docs.where("doc_id >= 8"), 2, store)
    assert doc_ids(store) == list(range(12))
    # and the derived index sees the full corpus
    idx = index_from_delta(IndexDelta.load(spark, store))
    assert idx.doc_stats.count() == 12

    # save()'d store -> append: same mixed-layout hazard at batch 0
    store2 = str(tmp_path / "delta_sv")
    build_delta(docs.where("doc_id < 8"), cache=False).save(store2)
    assert doc_ids(store2) == list(range(8))
    assert append_delta_batch(docs.where("doc_id >= 8"), 0, store2)
    assert doc_ids(store2) == list(range(12))
    # time travel over the saved store: batch 0 is the save itself
    hist = IndexDelta.load(spark, store2, up_to_batch=0)
    assert sorted(r["doc_id"] for r in hist.doc_ids.collect()) == list(range(8))


def test_cli_maintain_compacts_stores(spark, tmp_path):
    """`bvs maintain` compacts a multi-batch ingest delta store and the
    append-only telemetry state log; query results are identical before
    and after, and the file counts shrink."""
    import argparse
    import glob

    from beyond_vector_search_spark.cli import cmd_maintain
    from beyond_vector_search_spark.operators.corpus_index import (
        IndexDelta,
        build_delta,
        index_from_delta,
    )
    from beyond_vector_search_spark.sources.telemetry import TelemetryStore

    docs = spark.createDataFrame(
        [(i, f"alpha bravo doc{i} token{i % 3}") for i in range(8)],
        "doc_id long, text string",
    )
    # simulate streaming ingest: two disjoint batches, each its own
    # batch_id partition directory (the ingest.py layout)
    path = str(tmp_path / "delta")
    for b, pred in enumerate(("doc_id % 2 = 0", "doc_id % 2 = 1")):
        d = build_delta(docs.where(pred), cache=False)
        for f in IndexDelta._FIELDS:
            getattr(d, f).repartition(4).write.mode("overwrite").parquet(
                f"{path}/{f}/batch_id={b}"
            )

    def term_stats_rows():
        idx = index_from_delta(IndexDelta.load(spark, path))
        return sorted(
            (r["term"], r["df"], round(r["idf"], 9))
            for r in idx.term_stats.collect()
        )

    def n_files():
        root = IndexDelta._root(spark, path)
        return len(glob.glob(f"{root}/postings/**/*.parquet", recursive=True))

    before_stats, before_files = term_stats_rows(), n_files()

    db = str(tmp_path / "db")
    store = TelemetryStore(spark, db)
    for i in range(3):
        store.set_state("router_state:v1", {"v": i})

    out = cmd_maintain(
        argparse.Namespace(db=db, delta_dir=path, partitions=1)
    )
    assert out["state_keys"] == 1
    assert out["delta_rows"]["doc_ids"] == 8

    assert term_stats_rows() == before_stats          # identical results
    assert n_files() < before_files                   # fewer files
    assert store.get_state("router_state:v1") == {"v": 2}  # LWW winner kept


def test_fill_token_budget_single_domain_plan_has_no_cartesian(spark):
    """Single-domain (domain_col=None) budget fill: the constant
    lit('__all__') domain key constant-folds out of every
    small-relation join, which used to degrade them to CartesianProduct
    (left x right repartition).  Pin the fix: the physical plan must
    broadcast the small sides — zero CartesianProduct nodes, and the
    scalar-budget path must plan no join at all for the budget."""
    import contextlib
    import io

    from beyond_vector_search_spark.operators.scale import fill_token_budget

    df = spark.createDataFrame(
        [(i, 10 + i, float(i % 7)) for i in range(100)],
        "doc_id long, n_tokens long, score double",
    )
    out = fill_token_budget(df, budget=300, score_col="score")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the explicit 1-row crosses
    # and the result is still the longest-prefix fill
    kept = sorted(r["doc_id"] for r in out.where("kept").collect())
    total = (
        out.where("kept").agg(F.sum("n_tokens").alias("t")).first()["t"]
    )
    assert total <= 300 and kept


def test_fill_token_budget_hand_computed(spark):
    """Histogram-cutoff budget fill: whole buckets above the cutoff keep
    wholesale, the cutoff bucket fills as the longest (score DESC, id
    ASC) prefix within the remaining budget, zero overshoot; per-domain
    dict budgets; unknown domains get budget 0."""
    from pyspark.sql import functions as F

    from beyond_vector_search_spark.operators.scale import fill_token_budget

    rows = [
        # domain a: scores 9, 8, 7, 7, 1 with 100 tokens each
        (1, "a", 100, 9.0),
        (2, "a", 100, 8.0),
        (3, "a", 100, 7.0),
        (4, "a", 100, 7.0),
        (5, "a", 100, 1.0),
        # domain b: one doc
        (6, "b", 50, 5.0),
        # domain c: not in the budget dict
        (7, "c", 10, 5.0),
    ]
    df = spark.createDataFrame(rows, "doc_id long, dom string, n_tokens long, q double")
    out = fill_token_budget(
        df,
        budget={"a": 350, "b": 10},
        score_col="q",
        token_col="n_tokens",
        domain_col="dom",
    )
    kept = {r["doc_id"]: r["kept"] for r in out.collect()}
    # a: 9 + 8 + first of the tied 7s (id ASC) = 300; adding doc 4
    # would reach 400 > 350 -> exactly docs 1,2,3
    assert kept[1] and kept[2] and kept[3]
    assert not kept[4] and not kept[5]
    # b: 50 > 10 -> nothing; c: budget 0 -> nothing
    assert not kept[6] and not kept[7]
    # token totals never overshoot
    tot = (
        out.where("kept")
        .groupBy("domain")
        .agg(F.sum("n_tokens").alias("t"))
        .collect()
    )
    assert all(r["t"] <= {"a": 350, "b": 10, "__all__": 0}.get(r["domain"], 0) for r in tot)
    # int budget + no domain column: global fill
    g = fill_token_budget(df, budget=250, score_col="q", token_col="n_tokens")
    gk = {r["doc_id"]: r["kept"] for r in g.collect()}
    # global order: 9(100), 8(100) = 200; next 7.0 would hit 300 -> stop;
    # but 5.0-score docs (50, 10 tokens) rank below the 7s -> excluded too
    assert gk[1] and gk[2] and not gk[3] and not gk[6]
    # budget covers everything -> all kept
    allk = fill_token_budget(df, budget=10_000, score_col="q", token_col="n_tokens")
    assert all(r["kept"] for r in allk.collect())


def test_ivfpq_resave_clears_stale_store(spark, tmp_path):
    """Re-saving a REBUILT index over an existing store (the documented
    retrain-on-drift flow) must clear every append artifact: stale
    codes/batch_id>=1 directories encoded against the OLD quantizer/
    codebooks would otherwise merge into the new index at load (silently
    wrong neighbors), and stale _batches markers would make replayed
    streaming epochs silently skip instead of re-ingesting against the
    new quantizer."""
    import glob

    import numpy as np

    from beyond_vector_search_spark.operators import similarity as sim
    from beyond_vector_search_spark.streaming.ingest import append_vector_batch

    rng = np.random.default_rng(55)
    dim = 16
    centers = np.eye(3, dim) * 25.0
    X = np.vstack([c + rng.standard_normal((15, dim)) for c in centers])

    def df_of(ids):
        return spark.createDataFrame(
            [(int(i), [float(x) for x in X[i]]) for i in ids],
            "vec_id LONG, embedding ARRAY<DOUBLE>",
        )

    cents = spark.createDataFrame(
        [(i, [float(x) for x in centers[i]]) for i in range(3)],
        "centroid_id INT, embedding ARRAY<DOUBLE>",
    )
    store = str(tmp_path / "store")
    old_ids, appended_ids, new_ids = range(0, 15), range(15, 30), range(30, 45)
    sim.IVFPQIndex.build(df_of(old_ids), cents, m=4, dim=dim, n_codes=16).save(store)
    from beyond_vector_search_spark.sources import fsutil

    # streaming epoch 0 lands batch_id=1 in the committed codes root
    # + a _batches/0.json marker
    root = fsutil.resolve_version(spark, store, "codes")
    assert append_vector_batch(df_of(appended_ids), 0, store) is True
    assert glob.glob(f"{root}/batch_id=1")

    # drift: retrain on a different corpus and save over the same path
    sim.IVFPQIndex.build(df_of(new_ids), cents, m=4, dim=dim, n_codes=16).save(store)

    loaded = sim.IVFPQIndex.load(spark, store)
    assert sorted(r["vec_id"] for r in loaded.codes.collect()) == list(new_ids)
    root = fsutil.resolve_version(spark, store, "codes")
    assert glob.glob(f"{root}/batch_id=*") == [f"{root}/batch_id=0"]
    # markers cleared: epoch 0 re-ingests against the NEW quantizer
    assert append_vector_batch(df_of(appended_ids), 0, store) is True
    assert sim.IVFPQIndex.load(spark, store).codes.count() == 30


def test_store_compact_crash_atomicity(spark, tmp_path, monkeypatch):
    """Compaction's versioned pointer-file commit (sources/fsutil.py):
    a crash between ANY two steps — (1) write the new version
    directory, (2) create the commit marker, (3) garbage-collect old
    versions — leaves a loadable store whose rows equal the pre-crash
    view.  Unlike the old rename-aside swap, no step relies on
    directory rename, so the guarantee holds on object stores where
    rename is a non-atomic copy (S3A).  Also pins legacy migration:
    a marker-less store resolves to the unversioned directory and the
    first compact migrates it in place."""
    import glob
    import shutil

    import numpy as np

    from beyond_vector_search_spark.operators import similarity as sim
    from beyond_vector_search_spark.sources import fsutil

    rng = np.random.default_rng(77)
    dim = 16
    centers = np.eye(3, dim) * 25.0
    X = np.vstack([c + rng.standard_normal((10, dim)) for c in centers])

    def df_of(ids):
        return spark.createDataFrame(
            [(int(i), [float(x) for x in X[i]]) for i in ids],
            "vec_id LONG, embedding ARRAY<DOUBLE>",
        )

    cents = spark.createDataFrame(
        [(i, [float(x) for x in centers[i]]) for i in range(3)],
        "centroid_id INT, embedding ARRAY<DOUBLE>",
    )
    store = str(tmp_path / "ivfpq")
    sim.IVFPQIndex.build(df_of(range(15)), cents, m=4, dim=dim).save(store)
    sim.IVFPQIndex.append(spark, store, df_of(range(15, 30)))

    def view():
        return sorted(
            (r["vec_id"], r["centroid_id"], tuple(r["codes"]))
            for r in sim.IVFPQIndex.load(spark, store).codes.collect()
        )

    expected = view()

    def boom(*a, **kw):
        raise RuntimeError("simulated crash")

    # crash AFTER the new version directory is written, BEFORE the
    # marker: reader still resolves the old committed version, intact
    monkeypatch.setattr(fsutil, "commit_version", boom)
    import pytest

    with pytest.raises(RuntimeError):
        sim.IVFPQIndex.compact(spark, store)
    monkeypatch.undo()
    assert fsutil.resolve_version(spark, store, "codes").endswith("codes-v0")
    assert view() == expected
    orphan = glob.glob(f"{store}/codes-v*")
    assert len(orphan) == 2  # committed v0 + the uncommitted leftover

    # crash AFTER the marker create, BEFORE garbage collection: reader
    # resolves the NEW version (the commit already happened); the old
    # version is extra history, not corruption.  next_version must have
    # skipped the uncommitted leftover directory, never reusing it.
    monkeypatch.setattr(fsutil, "gc_versions", boom)
    with pytest.raises(RuntimeError):
        sim.IVFPQIndex.compact(spark, store)
    monkeypatch.undo()
    cur = fsutil.resolve_version(spark, store, "codes")
    assert cur.endswith("codes-v2")  # v1 was the crashed orphan
    assert view() == expected

    # recovery: the next full compact commits v3 and clears ALL older
    # versions and orphans; rows unchanged, single batch directory
    sim.IVFPQIndex.compact(spark, store)
    assert view() == expected
    dirs = glob.glob(f"{store}/codes-v*")
    assert dirs == [f"{store}/codes-v3"]
    assert glob.glob(f"{store}/codes-v3/batch_id=*") == [
        f"{store}/codes-v3/batch_id=0"
    ]

    # legacy migration: a pre-versioning store (data in {path}/codes,
    # no markers) loads through the fallback and its first compact
    # moves it under a committed version root
    legacy = str(tmp_path / "legacy")
    shutil.copytree(f"{store}/codes-v3", f"{legacy}/codes")
    shutil.copytree(f"{store}/meta", f"{legacy}/meta")
    shutil.copytree(f"{store}/centroids", f"{legacy}/centroids")
    shutil.copytree(f"{store}/codebooks", f"{legacy}/codebooks")
    assert fsutil.resolve_version(spark, legacy, "codes") == f"{legacy}/codes"
    legacy_view = sorted(
        (r["vec_id"], r["centroid_id"], tuple(r["codes"]))
        for r in sim.IVFPQIndex.load(spark, legacy).codes.collect()
    )
    assert legacy_view == expected
    sim.IVFPQIndex.compact(spark, legacy)
    assert fsutil.resolve_version(spark, legacy, "codes").endswith("codes-v0")
    assert not glob.glob(f"{legacy}/codes")  # legacy dir collected
    assert (
        sorted(
            (r["vec_id"], r["centroid_id"], tuple(r["codes"]))
            for r in sim.IVFPQIndex.load(spark, legacy).codes.collect()
        )
        == expected
    )

    # same protocol on the graph store: crash before the marker leaves
    # the old committed view serving
    emb = df_of(range(30))
    gstore = str(tmp_path / "gstore")
    sim.KnnGraphIndex.build(emb, k=3, iterations=2).save(gstore)
    gkey = lambda: sorted(  # noqa: E731
        map(tuple, sim.KnnGraphIndex.load(spark, gstore).graph.collect())
    )
    gexpected = gkey()
    monkeypatch.setattr(fsutil, "commit_version", boom)
    with pytest.raises(RuntimeError):
        sim.KnnGraphIndex.compact(spark, gstore)
    monkeypatch.undo()
    assert fsutil.resolve_version(spark, gstore, "graph").endswith("graph-v0")
    assert gkey() == gexpected
    sim.KnnGraphIndex.compact(spark, gstore)
    assert fsutil.resolve_version(spark, gstore, "graph").endswith("graph-v2")
    assert gkey() == gexpected


def test_pq_topk_rejects_out_of_range_code_ids(spark):
    """Pre-encoded ADC must bounds-check code ids BEFORE the LUT
    gather: an id beyond the codebook's max must raise the descriptive
    ValueError (not a raw numpy IndexError), and a negative id must not
    silently wrap to a valid codeword."""
    import numpy as np
    import pytest

    from beyond_vector_search_spark.operators import similarity as sim

    rng = np.random.default_rng(77)
    dim, n = 8, 12
    X = rng.standard_normal((n, dim))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    q = spark.createDataFrame(
        [(900, [float(x) for x in X[0]])], "query_id LONG, embedding ARRAY<DOUBLE>"
    )
    cb = sim.pq_codebooks(emb, m=2, dim=dim, n_codes=4)
    for bad in (999, -1):
        codes = spark.createDataFrame(
            [(i, [bad, 0]) for i in range(n)], "vec_id LONG, codes ARRAY<INT>"
        )
        with pytest.raises(Exception, match="absent from"):
            sim.pq_topk(
                emb, q, m=2, dim=dim, codebooks=cb, codes=codes, k=3
            ).collect()


def test_pq_index_search_rejects_bad_code_rows(spark):
    """PQIndex.search serves stored codes through the same bounds-checked
    scan as pq_topk(codes=): a code id absent from the codebook (999 or
    -1) raises the 'absent from' error instead of scoring a neighbouring
    codeword's distance, and a NULL or wrong-length code row raises
    instead of being scored as all-zero codes."""
    import numpy as np
    import pytest

    from beyond_vector_search_spark.operators import similarity as sim

    rng = np.random.default_rng(78)
    dim, n = 8, 12
    X = rng.standard_normal((n, dim))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    q = spark.createDataFrame(
        [(900, [float(x) for x in X[0]])], "query_id LONG, embedding ARRAY<DOUBLE>"
    )
    good = sim.PQIndex.build(emb, m=2, dim=dim, n_codes=4)
    assert good.search(q, k=3).count() == 3

    def index_with(rows):
        codes = spark.createDataFrame(rows, "vec_id LONG, codes ARRAY<INT>")
        return sim.PQIndex(good.codebooks, codes, m=2, dim=dim)

    for bad in (999, -1):
        idx = index_with([(i, [bad, 0]) for i in range(n)])
        with pytest.raises(Exception, match="absent from"):
            idx.search(q, k=3).collect()
    for row in (None, [0], [0, 0, 0]):
        idx = index_with([(0, row)] + [(i, [0, 0]) for i in range(1, n)])
        with pytest.raises(Exception, match="NULL row or a row without exactly 2"):
            idx.search(q, k=3).collect()


def test_streaming_graph_ingest_extends_knn_store(spark, tmp_path):
    """Streaming ANN-GRAPH maintenance: a file-source embedding stream
    drains through foreachBatch -> KnnGraphIndex.append; the resulting
    store view equals the same appends run sequentially in-session, a
    replayed epoch is skipped by its marker, serving finds a vector
    that only arrived via the stream, and the base-embeddings view may
    safely cover the WHOLE corpus (append restricts it to the store's
    node set)."""
    from beyond_vector_search_spark.operators import similarity as sim
    from beyond_vector_search_spark.sources.readers import load_table
    from beyond_vector_search_spark.streaming.ingest import (
        append_graph_batch,
        start_graph_ingest,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").where(
        "vec_id < 240"
    ).localCheckpoint()
    base = emb.where("vec_id < 200")
    s1, s2 = emb.where("vec_id >= 200 AND vec_id < 220"), emb.where("vec_id >= 220")
    key = lambda df: sorted(  # noqa: E731
        (r["node_id"], r["neighbor_id"], r["cos"], r["rank"]) for r in df.collect()
    )

    store = str(tmp_path / "gstore")
    sim.KnnGraphIndex.build(base, k=5, iterations=2).save(store)

    src = tmp_path / "gsrc"
    src.mkdir()
    s1.coalesce(1).write.parquet(str(src / "f1"))
    s2.coalesce(1).write.parquet(str(src / "f2"))
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    q = start_graph_ingest(
        stream, store, emb, trigger={"availableNow": True}, iterations=2
    )
    q.awaitTermination(300)

    # sequential in-session appends over a second store = same view
    store2 = str(tmp_path / "gstore2")
    sim.KnnGraphIndex.build(base, k=5, iterations=2).save(store2)
    sim.KnnGraphIndex.append(spark, store2, emb, s1, batch_id=1, iterations=2)
    sim.KnnGraphIndex.append(spark, store2, emb, s2, batch_id=2, iterations=2)
    got = sim.KnnGraphIndex.load(spark, store)
    assert key(got.graph) == key(sim.KnnGraphIndex.load(spark, store2).graph)
    assert got.graph.select("node_id").distinct().count() == 240

    # replayed epoch: marker short-circuits
    assert append_graph_batch(s1, 0, store, emb, iterations=2) is False

    # a streamed-only vector is findable from the stored graph
    probe = emb.where("vec_id = 230").select(
        (F.col("vec_id") + 900000).alias("query_id"), "embedding"
    )
    hits = {r["neighbor_id"] for r in got.search(probe, emb, k=3, ef=40, rounds=4).collect()}
    assert 230 in hits


def test_cli_index_persists_servable_index(spark, tmp_path):
    """`bvs index --out`: the one-off build-and-persist entry point —
    the saved artifact reloads to an index whose compiled BM25 serve is
    row-identical to the in-session build, and the tokenizer CLI's
    default word-table cap is the trainer's bounded default (an
    unset --max-words must NOT mean an uncapped collect)."""
    import argparse

    from beyond_vector_search_spark.cli import cmd_index
    from beyond_vector_search_spark.config import EngineConfig
    from beyond_vector_search_spark.operators import retrieval as rt
    from beyond_vector_search_spark.operators.corpus_index import (
        CorpusIndex,
        build_index,
    )
    from beyond_vector_search_spark.sources.readers import load_corpus

    out_dir = str(tmp_path / "idx")
    out = cmd_index(
        argparse.Namespace(
            corpus="/root/reference/data/corpus.jsonl",
            docs_parquet=None,
            out=out_dir,
            bucketed_db=None,
            buckets=32,
        )
    )
    assert out["n_docs"] == 200 and out["out"] == out_dir

    fresh = build_index(
        load_corpus(spark, "/root/reference/data/corpus.jsonl"),
        text=F.concat_ws(" ", "title", "text"),
    )
    loaded = CorpusIndex.load(spark, out_dir)
    cfg = EngineConfig(include_zero_score_docs=False)
    qs = [("q1", "INC-49217 details"), ("q2", "vector search index")]

    def serve(idx):
        comp = rt.compile_query_batch(qs, idx, cfg=cfg)
        return sorted(
            (r["query_id"], r["doc_id"], round(r["score"], 9))
            for r in rt.compiled_bm25_scores(idx, comp, cfg=cfg).collect()
        )

    assert serve(loaded) == serve(fresh)


def test_cli_index_dir_reuses_committed_snapshot(spark, tmp_path, monkeypatch):
    """`run`/`evaluate --index-dir`: the first call builds and saves a
    versioned snapshot (index-v{N} + commit marker); the second must
    load it, not rebuild."""
    from beyond_vector_search_spark import cli

    docs = spark.createDataFrame(
        [
            ("D1", "Spark joins", "Broadcast joins avoid a shuffle."),
            ("D2", "Incident INC-40101", "INC-40101 was a disk failure."),
        ],
        "doc_id STRING, title STRING, text STRING",
    )
    d = str(tmp_path / "idx")
    first = cli._index(spark, docs, d)

    def rebuild(*a, **kw):
        raise AssertionError("index rebuilt despite a committed snapshot")

    monkeypatch.setattr(cli, "build_index", rebuild)
    again = cli._index(spark, docs, d)
    rows = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert rows(again.term_stats) == rows(first.term_stats)
    assert rows(again.doc_vec) == rows(first.doc_vec)


def test_fsutil_hadoop_fs_roundtrip(spark, tmp_path):
    """sources/fsutil — the Hadoop-FS helpers every store maintenance
    path routes through: exists/list/delete/rename/write_text behave
    like their posix counterparts on local paths (and are the SAME
    calls that hit HDFS/S3A on a cluster)."""
    from beyond_vector_search_spark.sources import fsutil

    root = str(tmp_path / "fs")
    assert fsutil.exists(spark, root) is False
    assert fsutil.list_names(spark, root) == []
    fsutil.write_text(spark, f"{root}/a/m.json", '{"k": 1}')
    assert fsutil.exists(spark, f"{root}/a/m.json")
    assert fsutil.list_names(spark, f"{root}/a") == ["m.json"]
    fsutil.mkdirs(spark, f"{root}/b")
    assert sorted(fsutil.list_names(spark, root)) == ["a", "b"]
    # rename: refuses missing sources; moves directories atomically
    assert fsutil.rename(spark, f"{root}/nope", f"{root}/c") is False
    assert fsutil.rename(spark, f"{root}/a", f"{root}/c") is True
    assert fsutil.list_names(spark, f"{root}/c") == ["m.json"]
    # overwrite via write_text
    fsutil.write_text(spark, f"{root}/c/m.json", "x")
    assert fsutil.delete(spark, f"{root}/c") is True
    assert fsutil.delete(spark, f"{root}/c") is False
    assert sorted(fsutil.list_names(spark, root)) == ["b"]


def test_cli_maintain_graph_dir(spark, tmp_path):
    """`bvs maintain --graph-dir` compacts an appended KnnGraphIndex
    store: the LWW view is row-identical before/after and the batch
    directories fold to one."""
    import argparse
    import glob

    import numpy as np

    from beyond_vector_search_spark.cli import cmd_maintain
    from beyond_vector_search_spark.operators import similarity as sim

    rng = np.random.default_rng(7)
    X = rng.standard_normal((60, 8))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(60)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    store = str(tmp_path / "g")
    sim.KnnGraphIndex.build(emb.where("vec_id < 50"), k=3, iterations=1).save(store)
    sim.KnnGraphIndex.append(
        spark, store, emb, emb.where("vec_id >= 50"), iterations=1
    )
    before = sorted(
        map(tuple, sim.KnnGraphIndex.load(spark, store).graph.collect())
    )
    out = cmd_maintain(
        argparse.Namespace(db=None, delta_dir=None, partitions=None,
                           ivfpq_dir=None, graph_dir=store)
    )
    assert out["graph_view_rows"] == len(before)
    assert sorted(
        map(tuple, sim.KnnGraphIndex.load(spark, store).graph.collect())
    ) == before
    from beyond_vector_search_spark.sources import fsutil

    root = fsutil.resolve_version(spark, store, "graph")
    assert glob.glob(f"{root}/batch_id=*") == [f"{root}/batch_id=0"]


def test_cluster_aware_split_leakage_free(spark):
    """cluster_aware_split: every member of a cluster shares one split
    (leakage-free by construction), the assignment is a pure function
    of (cluster_id, seed) — stable under repartitioning and row order —
    fractions roughly hold at scale, and bad fraction dicts are
    rejected."""
    import pytest
    from collections import Counter

    from beyond_vector_search_spark.operators.scale import cluster_aware_split

    df = spark.createDataFrame(
        [(i, i // 4) for i in range(4000)], "doc_id long, cluster_id long"
    )
    out = cluster_aware_split(df, fractions={"train": 0.8, "val": 0.1, "test": 0.1})
    rows = out.collect()
    per_cluster = {}
    for r in rows:
        per_cluster.setdefault(r["cluster_id"], set()).add(r["split"])
    assert all(len(v) == 1 for v in per_cluster.values())
    counts = Counter(r["split"] for r in rows)
    assert 0.7 < counts["train"] / 4000 < 0.9
    assert counts["val"] > 0 and counts["test"] > 0

    # stable under repartitioning (portable hash, not rand())
    again = cluster_aware_split(
        df.repartition(17), fractions={"train": 0.8, "val": 0.1, "test": 0.1}
    )
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, rows))
    # a different seed moves clusters between splits
    other = cluster_aware_split(
        df, fractions={"train": 0.8, "val": 0.1, "test": 0.1}, seed=7
    )
    assert sorted(map(tuple, other.collect())) != sorted(map(tuple, rows))

    with pytest.raises(ValueError, match="sum to 1"):
        cluster_aware_split(df, fractions={"train": 0.5})
    with pytest.raises(ValueError, match="non-empty"):
        cluster_aware_split(df, fractions={})


def test_delta_resave_clears_stale_batches(spark, tmp_path):
    """Re-saving a REBUILT delta store over an existing path (the full
    index-rebuild flow) must clear stale ``_batches`` epoch markers,
    mirroring IVFPQIndex.save: a marker surviving the rebuild makes a
    replayed/backfilled streaming epoch return False and silently skip
    that batch's documents' tf rows."""
    from beyond_vector_search_spark.operators.corpus_index import (
        IndexDelta,
        build_delta,
    )
    from beyond_vector_search_spark.sources import fsutil
    from beyond_vector_search_spark.streaming.ingest import append_delta_batch

    docs = spark.createDataFrame(
        [(i, f"alpha doc{i} tok{i % 3}") for i in range(12)],
        "doc_id long, text string",
    )
    store = str(tmp_path / "delta_rs")

    def doc_ids():
        return sorted(
            r["doc_id"] for r in IndexDelta.load(spark, store).doc_ids.collect()
        )

    build_delta(docs.where("doc_id < 4"), cache=False).save(store)
    # streaming epoch 0 lands + leaves its marker
    assert append_delta_batch(docs.where("doc_id >= 4 and doc_id < 8"), 0, store)
    assert fsutil.exists(spark, f"{store}/_batches/0.json")
    assert doc_ids() == list(range(8))

    # full rebuild over the same path: markers must be gone...
    build_delta(docs.where("doc_id < 4"), cache=False).save(store)
    assert not fsutil.exists(spark, f"{store}/_batches")
    assert doc_ids() == list(range(4))
    # ...so a REPLAYED epoch 0 re-ingests instead of silently skipping
    assert append_delta_batch(docs.where("doc_id >= 8"), 0, store) is True
    assert doc_ids() == [0, 1, 2, 3, 8, 9, 10, 11]


def test_gc_versions_spares_higher_uncommitted(spark, tmp_path):
    """gc_versions only reclaims versions STRICTLY BELOW the committed
    pointer: a higher-numbered uncommitted directory may be a concurrent
    writer's build-in-progress — deleting it would corrupt the commit
    that writer is about to make.  (purge_versions, the full-rebuild
    path, still removes everything.)"""
    from beyond_vector_search_spark.sources import fsutil

    root = str(tmp_path / "store")
    for n in (0, 1):
        fsutil.write_text(spark, f"{root}/x-v{n}/data.txt", f"v{n}")
        fsutil.commit_version(spark, root, "x", n)
    # a concurrent writer mid-build at v2 (no marker yet) + legacy dir
    fsutil.write_text(spark, f"{root}/x-v2/data.txt", "wip")
    fsutil.write_text(spark, f"{root}/x/data.txt", "legacy")
    # unparseable version-like junk can never be a valid in-progress
    # version — GC must reclaim it, not leak it forever
    fsutil.write_text(spark, f"{root}/x-v3.tmp/data.txt", "junk")

    fsutil.gc_versions(spark, root, "x")
    # old version + legacy + junk gone, current kept, uncommitted v2 SPARED
    assert not fsutil.exists(spark, f"{root}/x-v0")
    assert not fsutil.exists(spark, f"{root}/x")
    assert not fsutil.exists(spark, f"{root}/x-v3.tmp")
    assert fsutil.exists(spark, f"{root}/x-v1/data.txt")
    assert fsutil.exists(spark, f"{root}/x-v2/data.txt")
    assert fsutil.resolve_version(spark, root, "x") == f"{root}/x-v1"
    # the spared dir is never half-reused: next writer builds v3
    assert fsutil.next_version(spark, root, "x") == 3
    # purge (full rebuild) still clears everything, including v2
    fsutil.purge_versions(spark, root, "x")
    assert not fsutil.exists(spark, f"{root}/x-v1")
    assert not fsutil.exists(spark, f"{root}/x-v2")


def test_lm_cache_none_fully_lazy_parity(spark):
    """cache=None (the dynamic-allocation-safe path, no localCheckpoint
    blocks) is value-identical to the default materialized form for the
    three LM ops that accept it."""
    from beyond_vector_search_spark.operators.pretrain import (
        bigram_logppl,
        dsir_logweights,
        unigram_logppl,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta doc{i % 5} gamma tok{i % 3} beta") for i in range(40)],
        "doc_id long, text string",
    )
    target = docs.where("doc_id % 4 = 0")

    for op, args in (
        (unigram_logppl, (docs,)),
        (bigram_logppl, (docs,)),
        (dsir_logweights, (docs, target)),
    ):
        lazy = sorted(map(tuple, op(*args, cache=None).collect()))
        dflt = sorted(map(tuple, op(*args).collect()))
        assert lazy == dflt, op.__name__


def test_fill_token_budget_window_bound(spark):
    """The recursive histogram cutoff's CONTRACT: the final id-ordered
    running-cumsum window (the one unpartitioned WindowExec on
    single-domain inputs) sees only ~n/n_buckets^levels rows — each
    level keeps/drops whole buckets and recurses into exactly ONE.
    Pinned on a skewed two-domain corpus so a future edit can't
    silently regress the final fill to a corpus-sized global sort."""
    import pyspark.sql.functions as F

    from beyond_vector_search_spark.operators.scale import fill_token_budget

    n_big = 20_000
    # skewed: one 20k-doc domain, one 50-doc domain; distinct scores
    # (equal scores share a bucket BY DESIGN and void the bound)
    df = (
        spark.range(n_big)
        .select(
            F.col("id").alias("doc_id"),
            F.lit("web").alias("domain"),
            (F.lit(100) + F.pmod("id", F.lit(7))).alias("n_tokens"),
            (F.col("id") * 0.000037 + F.pmod("id", F.lit(991)) * 0.001).alias("score"),
        )
        .unionByName(
            spark.range(n_big, n_big + 50).select(
                F.col("id").alias("doc_id"),
                F.lit("books").alias("domain"),
                F.lit(200).alias("n_tokens"),
                (F.col("id") * 0.01).alias("score"),
            )
        )
    )
    nb, levels = 10, 2
    probe: dict = {}
    out = fill_token_budget(
        df,
        budget={"web": 300_000, "books": 2_000},
        score_col="score",
        domain_col="domain",
        n_buckets=nb,
        levels=levels,
        _probe=probe,
    )
    rows = out.collect()

    # the checked bound: cutoff-bucket rows per domain ~ n/nb per
    # level; allow 4x slack per level for uneven bucket occupancy
    win_n = probe["window_input"].count()
    bound = 4**levels * (n_big / nb**levels) + 50  # + the tiny domain
    assert win_n <= bound, (win_n, bound)

    # and the histogram path still equals the brute-force global fill
    import itertools

    for domain, budget in (("web", 300_000), ("books", 2_000)):
        docs = sorted(
            (r for r in rows if r["domain"] == domain),
            key=lambda r: (-r["score"], r["doc_id"]),
        )
        run = list(itertools.accumulate(r["n_tokens"] for r in docs))
        want = {r["doc_id"]: c <= budget for r, c in zip(docs, run)}
        got = {r["doc_id"]: r["kept"] for r in docs}
        assert got == want, domain


def test_streaming_minhash_redelivered_doc_no_duplicate_pairs(spark, tmp_path):
    """A re-delivered document (same doc_id in a later micro-batch — a
    re-crawl or replay) must NOT re-emit its pairs or grow the bucket
    state: the bucket refreshes the doc's arrival time and moves on.
    Before the fix, every copy re-paired with the whole bucket and
    pushed it toward saturation."""
    import datetime as dt

    from beyond_vector_search_spark.streaming.neardup import minhash_pairs_stream

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    base = "the quick brown fox jumps over the lazy dog again and again"
    near = base + " tail boilerplate"
    b1 = [(1, base, t0), (2, near, t0)]
    # the SAME doc 1 re-delivered twice more in later batches
    b2 = [(1, base, t0 + dt.timedelta(minutes=1))]
    b3 = [(1, base, t0 + dt.timedelta(minutes=2))]
    schema = "doc_id BIGINT, text STRING, ts TIMESTAMP"
    src = tmp_path / "redeliver_src"
    src.mkdir()
    for i, rows in enumerate((b1, b2, b3)):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(src / f"b{i}"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    out: list = []
    q = (
        minhash_pairs_stream(stream, watermark="30 minutes")
        .writeStream.foreachBatch(lambda df, _bid: out.extend(df.collect()))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "redeliver_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    # the near-dup pair surfaced, and NO (pair, band) row is duplicated
    assert {(r.doc_a, r.doc_b) for r in out} == {(1, 2)}
    keys = [(r.doc_a, r.doc_b, r.band_id, r.band_key) for r in out]
    assert len(keys) == len(set(keys)), "re-delivery re-emitted pairs"


def test_streaming_embed_neardup_redelivered_vector_state_stable(spark, tmp_path):
    """A re-delivered vector must not re-emit pairs nor multiply the
    bucket state (each copy would cost dim doubles and count toward
    saturation)."""
    import datetime as dt

    from beyond_vector_search_spark.streaming.embed_neardup import (
        embedding_neardup_stream,
    )

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    base = [1.0, 0.0, 0.0, 0.0]
    near = [0.9999, 0.0001, 0.0, 0.0]
    b1 = [(1, base, t0), (3, near, t0)]
    b2 = [(1, base, t0 + dt.timedelta(minutes=1))]   # re-delivery
    b3 = [(1, base, t0 + dt.timedelta(minutes=2))]   # and again
    schema = "vec_id BIGINT, embedding ARRAY<DOUBLE>, ts TIMESTAMP"
    src = tmp_path / "end_redeliver_src"
    src.mkdir()
    for i, rows in enumerate((b1, b2, b3)):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(src / f"b{i}"))

    cents = [(1, base), (2, [0.0, 1.0, 0.0, 0.0])]
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    out: list = []
    q = (
        embedding_neardup_stream(stream, cents, threshold=0.999, watermark="30 minutes")
        .writeStream.foreachBatch(lambda df, _bid: out.extend(df.collect()))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "end_redeliver_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    # exactly the one true pair per shared bucket — re-deliveries add nothing
    keys = [(r.id_a, r.id_b, r.centroid_id) for r in out]
    assert {(r.id_a, r.id_b) for r in out} == {(1, 3)}
    assert len(keys) == len(set(keys)), "re-delivery re-emitted pairs"


def test_event_time_sessionize_late_event_does_not_regress_session(spark, tmp_path):
    """A late in-watermark event joins the current session without
    pulling the session's end (and its event-time timeout) backwards:
    last_ms stays the max event time seen."""
    from datetime import datetime, timezone

    from beyond_vector_search_spark.streaming.stateful import sessionize_event_time

    def ts(minute):
        return datetime(2026, 1, 1, minute // 60, minute % 60, tzinfo=timezone.utc)

    src = tmp_path / "late_src"
    src.mkdir()
    spark.createDataFrame(
        [(1, ts(60))], "user_id BIGINT, ts TIMESTAMP"
    ).coalesce(1).write.parquet(str(src / "f1"))
    # late event (59) — inside the 10-minute watermark from 60
    spark.createDataFrame(
        [(1, ts(59))], "user_id BIGINT, ts TIMESTAMP"
    ).coalesce(1).write.parquet(str(src / "f2"))

    stream = (
        spark.readStream.schema("user_id BIGINT, ts TIMESTAMP")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    out = sessionize_event_time(stream, gap_ms=30 * 60 * 1000, watermark="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("sess_late")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = sorted(
        spark.sql("SELECT * FROM sess_late").collect(), key=lambda r: r.n_events
    )
    final = rows[-1]
    assert final.n_events == 2 and final.n_sessions == 1
    # session end stays at the 01:00 event — NOT regressed to 00:59
    assert final.last_ms == int(ts(60).timestamp() * 1000)


def test_streaming_graph_ingest_path_base_sees_growing_corpus(spark, tmp_path):
    """base_embeddings as a parquet PATH is re-listed per epoch, so a
    corpus directory that grows while the pipeline runs keeps
    satisfying append's 'base covers the store's node ids'
    precondition.  (A captured path-based DataFrame pins its file
    listing at creation and would silently miss vectors appended after
    stream start — the documented trap.)"""
    from pyspark.sql import functions as F

    from beyond_vector_search_spark.operators import similarity as sim
    from beyond_vector_search_spark.sources.readers import load_table
    from beyond_vector_search_spark.streaming.ingest import start_graph_ingest

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").where(
        "vec_id < 240"
    ).localCheckpoint()
    base = emb.where("vec_id < 200")
    s1, s2 = emb.where("vec_id >= 200 AND vec_id < 220"), emb.where("vec_id >= 220")

    corpus_dir = str(tmp_path / "corpus")
    base.write.parquet(corpus_dir)

    store = str(tmp_path / "gstore_path")
    sim.KnnGraphIndex.build(base, k=5, iterations=2).save(store)

    src = tmp_path / "gsrc_path"
    src.mkdir()
    ckpt = str(tmp_path / "gsrc_ckpt")

    def drain():
        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src / "*"))
        )
        q = start_graph_ingest(
            stream, store, corpus_dir,   # PATH form — fresh listing per epoch
            trigger={"availableNow": True}, checkpoint=ckpt, iterations=2,
        )
        q.awaitTermination(300)

    # epoch 0: ingest s1 against the base-only corpus
    s1.coalesce(1).write.parquet(str(src / "f1"))
    drain()
    # the corpus GROWS (the same pipeline lands s1's raw vectors)...
    s1.write.mode("append").parquet(corpus_dir)
    # ...then epoch 1 ingests s2 — its blast radius needs s1's vectors
    s2.coalesce(1).write.parquet(str(src / "f2"))
    drain()

    # same view as sequential in-session appends with full base
    store2 = str(tmp_path / "gstore_path2")
    sim.KnnGraphIndex.build(base, k=5, iterations=2).save(store2)
    sim.KnnGraphIndex.append(spark, store2, emb, s1, batch_id=1, iterations=2)
    sim.KnnGraphIndex.append(spark, store2, emb, s2, batch_id=2, iterations=2)
    key = lambda df: sorted(  # noqa: E731
        (r["node_id"], r["neighbor_id"], r["cos"], r["rank"]) for r in df.collect()
    )
    got = sim.KnnGraphIndex.load(spark, store)
    assert key(got.graph) == key(sim.KnnGraphIndex.load(spark, store2).graph)
    assert got.graph.select("node_id").distinct().count() == 240


def test_save_crash_before_commit_preserves_old_store(spark, tmp_path, monkeypatch):
    """save() over an existing store follows compact's crash-safe
    ordering (write next version -> atomic marker -> GC): a crash
    BEFORE the commit marker leaves the previously committed store
    loadable and byte-identical.  The old purge-first ordering lost
    all committed data in that window."""
    import pytest

    from beyond_vector_search_spark.operators.corpus_index import (
        IndexDelta,
        build_delta,
    )
    from beyond_vector_search_spark.sources import fsutil

    docs = spark.createDataFrame(
        [(i, f"alpha doc{i} tok{i % 3}") for i in range(12)],
        "doc_id long, text string",
    )
    store = str(tmp_path / "delta_crash")

    def doc_ids():
        return sorted(
            r["doc_id"] for r in IndexDelta.load(spark, store).doc_ids.collect()
        )

    build_delta(docs.where("doc_id < 6"), cache=False).save(store)
    assert doc_ids() == list(range(6))

    def boom(*a, **kw):
        raise RuntimeError("simulated crash")

    monkeypatch.setattr(fsutil, "commit_version", boom)
    with pytest.raises(RuntimeError):
        build_delta(docs, cache=False).save(store)
    monkeypatch.undo()
    # the OLD committed store still loads, intact
    assert fsutil.resolve_version(spark, store, "delta").endswith("delta-v0")
    assert doc_ids() == list(range(6))
    # recovery: the next save commits and serves the new corpus
    build_delta(docs, cache=False).save(store)
    assert doc_ids() == list(range(12))


def test_write_zordered_widens_bits_for_large_n_buckets(spark, tmp_path):
    """n_buckets above 2^bits widens the interleave width instead of
    silently truncating the rank's high bits (bucket 2^bits would
    alias bucket 0 and co-locate opposite ends of the key space): the
    x-dimension pruning property must hold with n_buckets=64, bits=2."""
    import glob

    import pyarrow.parquet as pq

    from beyond_vector_search_spark.operators.scale import write_zordered

    n = 8_000
    df = spark.range(n).select(
        (F.pmod(F.xxhash64("id"), F.lit(10_000))).alias("x"),
        (F.pmod(F.xxhash64((F.col("id") + 1).cast("long")), F.lit(10_000))).alias("y"),
    )
    zpath = str(tmp_path / "zwide")
    write_zordered(df, zpath, "x", "y", bits=2, n_buckets=64, n_files=8)
    files = glob.glob(f"{zpath}/**/*.parquet", recursive=True)
    hits = 0
    for f in files:
        md = pq.read_metadata(f)
        names = [md.schema.column(j).name for j in range(md.num_columns)]
        ci = names.index("x")
        fmin = min(md.row_group(i).column(ci).statistics.min for i in range(md.num_row_groups))
        fmax = max(md.row_group(i).column(ci).statistics.max for i in range(md.num_row_groups))
        if fmax >= 4000 and fmin <= 4500:
            hits += 1
    # with truncated bits every file covered the whole x range (all 8
    # hit); widened interleave keeps the slab inside a minority
    assert hits <= len(files) // 2, (hits, len(files))


def test_connected_components_long_chain_and_nonconvergence_guard(spark):
    """Pointer doubling converges a 60-node chain well inside
    max_iter=25 (one-hop propagation needed 59 rounds); a genuinely
    insufficient max_iter raises instead of returning silently split
    clusters."""
    import pytest

    from beyond_vector_search_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(59)], "doc_a long, doc_b long"
    )
    labels = connected_components(pairs, max_iter=25)
    assert {r.component for r in labels.collect()} == {0}
    assert labels.count() == 60
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=1)


def test_pq_family_custom_corpus_vec_col(spark):
    """``vec_col`` names the CORPUS vector column only; centroids are
    (centroid_id, embedding) and queries (query_id, embedding).  A
    renamed corpus column must produce results identical to the
    default-named corpus — previously the residual/OPQ paths read
    vec_col off centroids/queries too, so any non-default call failed
    (or silently scanned an unrotated column)."""
    import numpy as np

    from beyond_vector_search_spark.operators import similarity as sim

    rng = np.random.default_rng(11)
    dim = 8
    X = rng.standard_normal((40, dim))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(40)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    emb_v = emb.withColumnRenamed("embedding", "v")
    cents = spark.createDataFrame(
        [(0, [float(x) for x in X[:20].mean(axis=0)]),
         (1, [float(x) for x in X[20:].mean(axis=0)])],
        "centroid_id INT, embedding ARRAY<DOUBLE>",
    )
    q = spark.createDataFrame(
        [(900, [float(x) for x in X[3]])], "query_id LONG, embedding ARRAY<DOUBLE>"
    )

    def rows(df):
        return sorted(map(tuple, df.collect()))

    base = rows(sim.ivfpq_residual_topk(emb, q, cents, m=2, dim=dim, k=3, nprobe=2))
    renamed = rows(
        sim.ivfpq_residual_topk(emb_v, q, cents, m=2, dim=dim, k=3, nprobe=2, vec_col="v")
    )
    assert base == renamed and base

    base_o = rows(sim.opq_topk(emb, q, m=2, dim=dim, k=3, n_codes=8, iters=2))
    renamed_o = rows(
        sim.opq_topk(emb_v, q, m=2, dim=dim, k=3, n_codes=8, iters=2, vec_col="v")
    )
    assert base_o == renamed_o and base_o

    # dim % m is validated even with supplied codebooks
    import pytest

    cb = sim.pq_codebooks(emb, m=2, dim=dim, n_codes=8)
    with pytest.raises(ValueError, match="must divide"):
        sim.pq_topk(emb, q, m=3, dim=dim, codebooks=cb, k=3)


def test_skew_profile_hand_computed(spark):
    """skew_profile: counts, shares, skew factor, deterministic
    ordering, and the plan stays TakeOrderedAndProject (no global
    window over the full relation)."""
    import contextlib
    import io

    from beyond_vector_search_spark.operators.scale import skew_profile

    rows = [("hot",)] * 60 + [("warm",)] * 30 + [("a",)] * 5 + [("b",)] * 5
    df = spark.createDataFrame(rows, "k string")
    out = skew_profile(df, "k", top=3)
    got = [r.asDict() for r in out.collect()]
    assert [r["k"] for r in got] == ["hot", "warm", "a"]  # tie a<b broken by key
    assert [r["rank"] for r in got] == [1, 2, 3]
    assert got[0]["n_rows"] == 60 and abs(got[0]["share"] - 0.6) < 1e-9
    # 4 distinct keys, 100 rows -> avg 25; hot factor 60/25
    assert abs(got[0]["avg_rows_per_key"] - 25.0) < 1e-9
    assert abs(got[0]["skew_factor"] - 2.4) < 1e-9

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "TakeOrderedAndProject" in plan


def test_skew_profile_composite_key(spark):
    from beyond_vector_search_spark.operators.scale import skew_profile

    df = spark.createDataFrame(
        [("x", 1)] * 4 + [("x", 2)] * 2 + [("y", 1)] * 2, "a string, b int"
    )
    got = {(r["a"], r["b"]): r["n_rows"] for r in skew_profile(df, ["a", "b"]).collect()}
    assert got == {("x", 1): 4, ("x", 2): 2, ("y", 1): 2}


def test_zorder_default_plan_has_no_single_partition_window(spark):
    """The default (approxQuantile-sampled) rank bucketing must keep
    the z-value plan window-free and single-partition-exchange-free —
    the exact-rank ntile form moves the whole table through ONE
    partition and is opt-in only (exact=True)."""
    from beyond_vector_search_spark.operators.scale import _zorder_frame

    df = spark.range(4_000).select(
        (F.pmod(F.xxhash64("id"), F.lit(1_000))).alias("x"),
        (F.pmod(F.xxhash64((F.col("id") + 1).cast("long")), F.lit(1_000))).alias("y"),
    )
    zed, _ = _zorder_frame(df, "x", "y", bits=6)
    plan = zed._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "SinglePartition" not in plan
    exact, _ = _zorder_frame(df, "x", "y", bits=6, exact=True)
    eplan = exact._jdf.queryExecution().executedPlan().toString()
    assert "Window" in eplan  # the opt-in exact form is the old shape


def test_cli_strategy_all_one_action_trio(spark, tmp_path):
    """cli run --strategy all (r13): every arm's top-k from ONE tagged
    action, keyword top-1 at the pinned reference score, router's pick
    reported alongside."""
    import argparse

    from beyond_vector_search_spark.cli import cmd_run

    args = argparse.Namespace(
        query="INC-49217 details", k=3, strategy="all",
        corpus="/root/reference/data/corpus.jsonl",
        labels="/root/reference/data/labels.jsonl",
        db=str(tmp_path / "db_all"), index_dir=None,
        index_format="parquet",
    )
    out = cmd_run(args)
    assert out["strategy"] == "all"
    assert out["routed_strategy"] == "keyword"
    assert set(out["top_k"]) == {"keyword", "vector", "hybrid"}
    kw = out["top_k"]["keyword"]
    assert len(kw) == 3 and kw[0]["doc_id"] == "DOC-190"
    assert abs(kw[0]["score"] - 4.210981) < 1e-4
    assert all(len(v) == 3 for v in out["top_k"].values())
