"""Similarity search over dense embedding columns.

Operator families (deterministic: scores rounded to 6 decimals, ties
broken by id):

- brute force — ``knn_bruteforce``, ``knn_quantized_topk`` (int8),
  ``knn_dual_topk`` (both precisions, one pass), ``filtered_knn_topk``;
- IVF — ``assign_centroids``, ``ivf_topk``, ``train_ivf_centroids``;
- PQ — ``pq_codebooks`` / ``pq_encode`` / ``pq_topk`` (ADC, optional
  exact rerank), ``pq_search_codes`` / ``PQIndex`` (serve stored
  codes), ``ivfpq_topk``, ``ivfpq_residual_topk`` / ``IVFPQIndex``,
  OPQ (``opq_train``, ``opq_topk``);
- graph ANN — ``nndescent_knn_graph``, ``graph_ann_topk``,
  ``KnnGraphIndex``; plus ``lsh_ann_topk`` (MLlib) and
  ``embedding_neardup_pairs``.

Shared steps, each written once:

- :func:`_scan_topk` — the query-matrix scan: queries collected into
  the kernel closure, one score block per Arrow batch of the corpus,
  local top-(k+16) per query, self-matches dropped.  The cosine kNN
  kernels and both ADC scans (in-batch encode and stored codes) are
  score-block functions over it.
- :func:`_rank_topk` — the global (rounded score, neighbor_id)
  ``row_number`` window; :func:`_adc_ranked` adds the optional exact
  rerank of a PQ shortlist.
- :func:`_pq_lut` (numpy) and :func:`_pq_expr_lut` (Spark
  expressions) — the per-subspace squared-L2 lookup table.
- :func:`_probe_centroids` — the cosine coarse probe of IVF / IVF-PQ.

The ``kernel=False`` paths of the brute-force, assignment, encode and
ADC operators are the lazy expression definitions the Arrow kernels are
parity-tested against.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from beyond_vector_search_spark.functions.vectors import (
    as_double_array,
    cosine_from_norms,
    l2_norm,
)


def _with_cos_hoisted(df: DataFrame) -> DataFrame:
    """cos from pre-projected per-row norms ``qn``/``cn`` — bit-identical
    to ``cosine_sim(qv, cv)`` (functions/vectors, pinned by
    test_cosine_from_norms_bitwise_equals_cosine_sim); norms computed
    once per row, not per pair."""
    return df.withColumn(
        "cos", cosine_from_norms(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn"))
    )


def _stack_rows(values, dim: int | None = None):
    """Stack an iterable of array-ish rows into an (n, dim) float64
    matrix, coercing NULL or length-mismatched rows to all-zeros (their
    cosine is then 0.0 — the same no-op to thresholds and rankings as
    the expression path's null-propagated cos).  ``dim`` defaults to
    the first valid row's length; returns (matrix, dim)."""
    import numpy as np

    rows = list(values)
    if dim is None:
        for v in rows:
            if v is not None:
                dim = len(v)
                break
        if dim is None:
            dim = 1
    M = np.zeros((len(rows), dim), dtype=np.float64)
    for i, v in enumerate(rows):
        if v is not None and len(v) == dim:
            a = np.asarray(v, dtype=np.float64)
            M[i] = np.nan_to_num(a, nan=0.0) if np.isnan(a).any() else a
    return M, dim


def _with_cos_arrow(df: DataFrame) -> DataFrame:
    """Same contract as :func:`_with_cos_hoisted` — (qv, cv, qn, cn) ->
    cos — but the dot products run as one vectorized numpy pass per
    Arrow batch (pandas_udf) instead of an interpreted per-element
    ``aggregate(zip_with(...))`` fold per pair.  Fully lazy (no collect,
    no broadcast build): the right choice wherever a JOIN materializes
    the pair rows anyway (centroid assignment, candidate verification),
    ~50x cheaper per element at 20k x 141-pair volumes.  Last-bit float
    sum order differs from the sequential fold; every consumer rounds
    to 6 decimals before ordering/thresholding (the engine-wide
    cross-engine guard), which absorbs it — oracle-pinned."""
    # no parameter annotations: `from __future__ import annotations`
    # stringifies hints, which pandas_udf's hint inspection rejects —
    # the (fn, returnType) form infers the scalar UDF directly
    def _cos_fn(qv, cv, qn, cn):
        import numpy as np
        import pandas as pd

        if not len(qv):
            return pd.Series(dtype="float64")
        Q, dim = _stack_rows(qv.to_numpy())
        C, _ = _stack_rows(cv.to_numpy(), dim=dim)
        dot = np.einsum("ij,ij->i", Q, C)
        denom = np.nan_to_num(qn.to_numpy(dtype=np.float64), nan=0.0) * np.nan_to_num(
            cn.to_numpy(dtype=np.float64), nan=0.0
        )
        return pd.Series(np.where(denom == 0.0, 0.0, dot / np.where(denom == 0.0, 1.0, denom)))

    _cos = F.pandas_udf(_cos_fn, "double")
    return df.withColumn("cos", _cos("qv", "cv", "qn", "cn"))


# shared with the index-build kernels — one copy of the split-count
# heuristic (functions/kernels.fan_out)
from beyond_vector_search_spark.functions.kernels import fan_out as _fan_out  # noqa: E402


def _estimate_rows(df: DataFrame, *, max_footers: int = 64) -> int | None:
    """Driver-side row-count ESTIMATE from parquet footer metadata — no
    Spark job.  Works for any plan backed by one local file source
    (filters/unions included; the estimate is the base table's size,
    an upper bound).  Returns None when the plan has no file source, a
    non-local scheme, or non-parquet files; beyond ``max_footers``
    files, reads a prefix and scales by file count."""
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — non-file plans (createDataFrame, streams)
        return None
    if not files:
        return None
    try:
        import pyarrow.parquet as pq

        paths = []
        for f in files:
            if f.startswith("file:"):
                f = f[5:].lstrip("/")
                f = "/" + f
            elif "://" in f:
                return None
            paths.append(f)
        sample = paths[:max_footers]
        total = sum(pq.read_metadata(p).num_rows for p in sample)
        if len(paths) > len(sample):
            total = int(total * len(paths) / len(sample))
        return total
    except Exception:  # noqa: BLE001 — unreadable / non-parquet footers
        return None


def _quantize_rows(M):
    """numpy twin of :func:`quantize_int8` — symmetric per-vector int8:
    scale = max|v|/127, q_i = round-half-away-from-zero(v_i/scale),
    zeros when scale is 0.  Values stay integer-exact in float64
    (|q_i| <= 127, dots <= 127^2 * dim << 2^53)."""
    import numpy as np

    scale = np.abs(M).max(axis=1) / 127.0
    safe = np.where(scale == 0.0, 1.0, scale)
    X = M / safe[:, None]
    Q = np.copysign(np.floor(np.abs(X) + 0.5), X)
    Q[scale == 0.0] = 0.0
    return Q


def _rank_topk(
    scored: DataFrame,
    col: str,
    k: int,
    *,
    desc: bool = False,
    by: tuple[str, ...] = ("query_id",),
) -> DataFrame:
    """(*by, neighbor_id, col, rank) — the global top-k window of the
    search operators: ``round(col, 6)`` (Spark's HALF_UP) in the
    given direction, ``neighbor_id`` ascending on ties, ``col`` emitted
    rounded."""
    order = F.desc if desc else F.asc
    w = Window.partitionBy(*by).orderBy(order(F.round(F.col(col), 6)), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("integer"))
        .where(F.col("rank") <= k)
        .select(*by, "neighbor_id", F.round(col, 6).alias(col), "rank")
    )


def _scan_topk(
    corpus: DataFrame,
    queries: DataFrame,
    scorer,
    *,
    col: str,
    desc: bool,
    k: int,
    tag: bool = False,
) -> DataFrame:
    """([method,] query_id, neighbor_id, col) candidates — the one
    query-matrix scan behind every Arrow top-k kernel (cosine kNN, int8
    kNN, PQ ADC).  Rank them with :func:`_rank_topk`.

    The query side rides into a ``mapInPandas`` closure (queries are
    small by problem definition — collecting them IS the broadcast, an
    eager job at call time); with no queries the result is an empty,
    fully typed frame.  ``scorer(qvecs)`` runs on the driver with the
    collected query vectors (lists, NULL-able, in query order) and
    returns the per-batch function ``pdf -> {method: score block}``, a
    block being (queries x batch rows) over ``corpus``'s (neighbor_id,
    payload...) columns.  Each block keeps, per query, its local
    top-(k+16) by (``np.round(score, 6)`` in the ``desc`` direction,
    neighbor_id), self-matches dropped, and emits the block's own value.
    ``tag=True`` adds the block name as a leading ``method`` column.

    Two scale properties the expression paths lack: each corpus row
    crosses the Python boundary ONCE (not once per query pair), and the
    rank window sees candidates, not all n x q scored pairs."""
    import numpy as np

    from collections.abc import Iterator

    qrows = queries.select(
        "query_id", as_double_array(F.col("embedding")).alias("_v")
    ).collect()
    qid_type = queries.select("query_id").schema["query_id"].dataType.simpleString()
    nid_type = corpus.schema["neighbor_id"].dataType.simpleString()
    out_schema = ("method string, " if tag else "") + (
        f"query_id {qid_type}, neighbor_id {nid_type}, {col} double"
    )
    if not qrows:
        return corpus.sparkSession.createDataFrame([], out_schema)
    q_ids = [r["query_id"] for r in qrows]
    score = scorer([r["_v"] for r in qrows])
    # +16 margin: candidates are cheap (per batch x query), and the
    # cushion covers numpy-half-even vs Spark-HALF_UP boundary
    # disagreements in the LOCAL ordering many times over — the global
    # window re-ranks with F.round, so only a candidate pruned here
    # could ever be missed
    take = k + 16
    # NULL-id parity with the expression paths (where a null id never
    # survives the != / join comparisons): Arrow would coerce a null
    # bigint id batch to float64/NaN — garbage ids or executor
    # TypeErrors in the tie-break sort
    src = _fan_out(corpus.where(F.col("neighbor_id").isNotNull()))

    def kernel(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            nbr = pdf["neighbor_id"].to_numpy()
            out_m, out_q, out_n, out_s = [], [], [], []
            for method, S in score(pdf).items():
                R = np.round(S, 6)
                if desc:
                    R = -R
                for qi, qid in enumerate(q_ids):
                    row_s, row_r = S[qi], R[qi]
                    order = sorted(
                        (j for j in range(len(nbr)) if nbr[j] != qid),
                        key=lambda j: (row_r[j], nbr[j]),
                    )[:take]
                    for j in order:
                        out_q.append(qid)
                        out_n.append(nbr[j])
                        out_s.append(row_s[j])
                    if tag:
                        out_m += [method] * len(order)
            out = {
                "query_id": pd.Series(out_q),
                "neighbor_id": pd.Series(out_n, dtype=pdf["neighbor_id"].dtype),
                col: pd.Series(out_s, dtype="float64"),
            }
            yield pd.DataFrame({"method": pd.Series(out_m), **out} if tag else out)

    return src.mapInPandas(kernel, out_schema)


def _knn_kernel_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    k: int,
    methods: tuple[str, ...] = ("exact",),
) -> DataFrame:
    """Arrow matrix-kernel brute force over :func:`_scan_topk`: each
    corpus batch computes its cosine block per method ('exact' float64,
    'int8' quantized — :func:`_quantize_rows`) as one BLAS matmul, and
    :func:`_rank_topk` picks the global top-k with the same
    rounded-cos/neighbor-id ordering as the expression path.  Several
    methods share the stacked batch and add a ``method`` column."""
    import numpy as np

    def scorer(qvecs):
        # NULL / length-mismatched vectors coerce to zeros (cos 0.0)
        # rather than crashing the stack — same tolerance as the
        # expression path
        Q, dim = _stack_rows(qvecs)
        sides = {}
        for method in methods:
            Qm = _quantize_rows(Q) if method == "int8" else Q
            sides[method] = (Qm, np.sqrt((Qm * Qm).sum(axis=1)))

        def block(pdf):
            C, _ = _stack_rows(pdf["_v"].to_numpy(), dim=dim)
            out = {}
            for method, (Qm, qn) in sides.items():
                Cm = _quantize_rows(C) if method == "int8" else C
                cn = np.sqrt((Cm * Cm).sum(axis=1))
                denom = qn[:, None] * cn[None, :]
                out[method] = np.where(
                    denom == 0.0, 0.0, (Qm @ Cm.T) / np.where(denom == 0.0, 1.0, denom)
                )
            return out

        return block

    tag = len(methods) > 1
    corpus = embeddings.select(
        F.col(id_col).alias("neighbor_id"), as_double_array(F.col(vec_col)).alias("_v")
    )
    cand = _scan_topk(corpus, queries, scorer, col="cos", desc=True, k=k, tag=tag)
    return _rank_topk(
        cand, "cos", k, desc=True, by=("method", "query_id") if tag else ("query_id",)
    )


def round_half_away(x, decimals: int = 6):
    """Round half-AWAY-FROM-ZERO (Spark F.round's HALF_UP rule —
    np.round / Python round are half-even).  Every numpy kernel that
    must order or threshold like the expression form shares this one
    definition, so the two rules cannot drift apart."""
    import numpy as np

    s = np.asarray(x, dtype=np.float64) * (10.0 ** decimals)
    return np.where(s >= 0, np.floor(s + 0.5), np.ceil(s - 0.5)) / (10.0 ** decimals)


def _centroid_topk_assign_kernel(
    embeddings: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    probe: int,
    out_id: str = "bvec_id",
    with_cos: bool = False,
    with_vec: bool = False,
    carry: tuple = (),
) -> DataFrame:
    """(out_id, centroid_id[, cos][, _v]) — each vector's ``probe``
    nearest centroids (rounded-cosine desc, centroid_id asc), as ONE
    Arrow matrix kernel.  ``with_cos=True`` adds the rounded cosine
    column (the :func:`assign_centroids` contract); ``with_vec=True``
    carries the vector itself on each assignment row, so a downstream
    per-bucket consumer (the near-dup bucket verify) needs no join
    back to the corpus — probe x corpus bytes of shuffle, in exchange
    for zero joins.

    The expression form (crossJoin(broadcast(centroids)) → row_number
    window) materializes n x K cosine ROWS before the window cut — at
    the IVF sizing K ~ sqrt(n) that is an n^1.5-row intermediate plus a
    full shuffle on vec id.  Here the centroid matrix rides into the
    ``mapInPandas`` closure (K x dim doubles — bounded, an eager
    bounded collect at call time), each partition computes its cosine
    block as one BLAS matmul, and only the n x probe assignment rows
    ever exist.  No shuffle at all: assignment is embarrassingly
    per-row.

    Ordering parity with the expression form: cosines are rounded
    half-AWAY-FROM-ZERO to 6 decimals (numpy's np.round is half-even;
    Spark's F.round is HALF_UP) and ties break toward the smaller
    centroid_id via a stable sort over the id-ascending centroid
    matrix.

    ``centroids``: (centroid_id, cv array<double>) — any extra columns
    ignored.
    """
    import numpy as np

    from collections.abc import Iterator

    crows = sorted(
        centroids.select("centroid_id", "cv").collect(), key=lambda r: r["centroid_id"]
    )
    cent_ids = [r["centroid_id"] for r in crows]
    C, dim = _stack_rows([r["cv"] for r in crows])
    cn = np.sqrt((C * C).sum(axis=1))
    take = min(probe, len(cent_ids))

    # NULL-id parity: see _knn_kernel_topk
    src = _fan_out(
        embeddings.where(F.col(id_col).isNotNull()).select(
            F.col(id_col).alias(out_id),
            as_double_array(F.col(vec_col)).alias("_v"),
            *[F.col(c) for c in carry],
        )
    )
    idt = src.schema[out_id].dataType.simpleString()
    cidt = centroids.schema["centroid_id"].dataType.simpleString()
    carry_types = {c: src.schema[c].dataType.simpleString() for c in carry}

    def kernel(batches: Iterator) -> Iterator:
        import pandas as pd

        cid_arr = np.asarray(cent_ids)
        for pdf in batches:
            if not len(pdf):
                continue
            E, _ = _stack_rows(pdf["_v"].to_numpy(), dim=dim)
            en = np.sqrt((E * E).sum(axis=1))
            denom = en[:, None] * cn[None, :]
            cos = np.where(denom == 0.0, 0.0, (E @ C.T) / np.where(denom == 0.0, 1.0, denom))
            cr = round_half_away(cos)  # F.round's rule, not numpy's half-even
            # stable argsort over the id-ascending axis: ties keep the
            # smaller centroid_id first
            order = np.argsort(-cr, axis=1, kind="stable")[:, :take]
            ids = pdf[out_id].to_numpy()
            out = {
                out_id: pd.Series(np.repeat(ids, take), dtype=pdf[out_id].dtype),
                "centroid_id": pd.Series(cid_arr[order].ravel()),
            }
            if with_cos:
                out["cos"] = pd.Series(
                    np.take_along_axis(cr, order, axis=1).ravel(), dtype="float64"
                )
            if with_vec:
                out["_v"] = pd.Series(
                    np.repeat(pdf["_v"].to_numpy(dtype=object), take)
                )
            for c in carry:
                out[c] = pd.Series(np.repeat(pdf[c].to_numpy(), take))
            yield pd.DataFrame(out)

    schema = f"{out_id} {idt}, centroid_id {cidt}"
    if with_cos:
        schema += ", cos double"
    if with_vec:
        schema += ", _v array<double>"
    for c in carry:
        schema += f", {c} {carry_types[c]}"
    return src.mapInPandas(kernel, schema)


def knn_bruteforce(
    embeddings: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    kernel: bool = True,
) -> DataFrame:
    """(query_id, neighbor_id, cos, rank) — exact cosine top-k.

    ``queries``: (query_id, embedding).  Ranking uses cos rounded to 6
    (cross-engine guard) with neighbor_id tie-break; self-matches are
    excluded.

    ``kernel=True`` (default) runs the Arrow matrix kernel
    (:func:`_knn_kernel_topk` — BLAS matmul per corpus partition, local
    top-k, tiny global window; collects the query side eagerly).
    ``kernel=False`` is the pure-expression semantic definition
    (sequential-fold dots, fully lazy); tests pin the two identical.
    """
    if kernel:
        return _knn_kernel_topk(embeddings, queries, id_col=id_col, vec_col=vec_col, k=k)
    qv = as_double_array(F.col("embedding"))
    q = queries.select(F.col("query_id"), qv.alias("qv"), l2_norm(qv).alias("qn"))
    cv = as_double_array(F.col(vec_col))
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"), cv.alias("cv"), l2_norm(cv).alias("cn")
    )
    scored = _with_cos_hoisted(F.broadcast(q).crossJoin(c)).where(
        F.col("query_id") != F.col("neighbor_id")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round(F.col("cos"), 6)), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("cos"), "rank")
    )


def filtered_knn_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    *,
    predicate=None,
    allowed: DataFrame | None = None,
    mode: str = "pre",
    oversample: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """(query_id, neighbor_id, cos, rank) — exact cosine top-k under a
    metadata filter: the filtered-vector-search serving pattern
    (reference vector search + a WHERE clause, e.g. "nearest English
    documents" or "nearest docs with label=3").

    The filter is ``predicate`` (a Column or SQL string over the
    embeddings relation's own columns) and/or ``allowed`` (a 1-column
    id relation from ANOTHER table — e.g. ``documents.where("lang =
    'en'").select("doc_id")``); when both are given they AND together.

    ``mode='pre'`` (default) filters FIRST, then runs the exact scan
    over survivors: recall is perfect within the filtered subset and
    always returns min(k, |survivors|-ish) rows.  This is the 100 TB
    shape for selective filters — a same-table predicate is pushed into
    the parquet scan (row-group pruning; pinned by a PushedFilters
    test) and a cross-table ``allowed`` set becomes a semi-join BEFORE
    the scoring kernel (AQE broadcasts it when small), so the kernel
    scores only survivors and I/O scales with the filter's selectivity,
    not the corpus.

    ``mode='post'`` searches the FULL corpus for ``k * oversample``
    candidates, then filters and re-ranks.  The scan cost is
    filter-independent — the right trade when serving MANY distinct
    filters from one cached/precomputed candidate relation (or an ANN
    index that cannot see the predicate) — but a selective filter
    under-fills: a query whose top ``k * oversample`` unfiltered
    neighbors contain < k survivors returns fewer than k rows (the
    classic vector-store post-filter caveat; raise ``oversample`` to
    trade scan width for fill rate).  Both modes are deterministic
    (rounded cos, id tie-breaks) and oracle-checkable.
    """
    if predicate is None and allowed is None:
        raise ValueError("filtered_knn_topk needs predicate= and/or allowed=")
    if mode not in ("pre", "post"):
        raise ValueError(f"mode must be 'pre' or 'post', got {mode!r}")

    def _survivors(df: DataFrame) -> DataFrame:
        out = df
        if predicate is not None:
            out = out.where(predicate)
        if allowed is not None:
            aid = allowed.columns[0]
            out = out.join(
                allowed.select(F.col(aid).alias(id_col)).distinct(),
                id_col,
                "left_semi",
            )
        return out

    if mode == "pre":
        return knn_bruteforce(
            _survivors(embeddings), queries, id_col=id_col, vec_col=vec_col, k=k
        )
    cand = knn_bruteforce(
        embeddings, queries, id_col=id_col, vec_col=vec_col, k=k * oversample
    )
    kept = cand.join(
        _survivors(embeddings).select(F.col(id_col).alias("neighbor_id")),
        "neighbor_id",
        "left_semi",
    )
    # original rank already encodes (cos desc, neighbor_id asc) — the
    # re-rank is a dense renumbering of the surviving candidates
    w = Window.partitionBy("query_id").orderBy(F.asc("rank"))
    return (
        kept.withColumn("rank", F.row_number().over(w).cast("integer"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """(query_id, neighbor_id, cos, rank) — IVF approximate top-k.

    The scale path for similarity search: candidates are pre-bucketed by
    nearest centroid (assign_centroids — one map pass, persisted in
    practice); each query probes only its ``nprobe`` closest centroid
    buckets, so the scan touches ~nprobe/K of the corpus instead of all
    of it.  Both the bucketing and the probe order are deterministic
    (rounded cos + id tie-breaks), so the approximation itself is
    reproducible — the DuckDB oracle computes the identical result.
    """
    assigned = assign_centroids(embeddings, centroids, id_col=id_col, vec_col=vec_col)
    probed = _probe_centroids(queries, centroids, nprobe)
    cands = probed.join(assigned.select(F.col("vec_id").alias("neighbor_id"), "centroid_id"), "centroid_id")
    ecv = as_double_array(F.col(vec_col))
    e = embeddings.select(
        F.col(id_col).alias("neighbor_id"), ecv.alias("cv"), l2_norm(ecv).alias("cn")
    )
    scored = _with_cos_arrow(cands.join(e, "neighbor_id")).where(
        F.col("query_id") != F.col("neighbor_id")
    )
    return _rank_topk(scored, "cos", k, desc=True)


def _probe_centroids(queries: DataFrame, centroids: DataFrame, nprobe: int) -> DataFrame:
    """(query_id, qv, qn, centroid_id) — each query's ``nprobe``
    nearest centroids by rounded cosine (desc, centroid_id asc): the
    IVF / IVF-PQ coarse probe, the same ordering as
    :func:`assign_centroids`.  ``queries``: (query_id, embedding);
    ``centroids``: (centroid_id, embedding); both broadcast-sized.  The
    query vector ``qv`` and its norm ``qn`` ride along for the caller's
    candidate scoring."""
    v = as_double_array(F.col("embedding"))
    q = queries.select("query_id", v.alias("qv"), l2_norm(v).alias("qn"))
    c = centroids.select("centroid_id", v.alias("cv"), l2_norm(v).alias("cn"))
    scored = _with_cos_hoisted(F.broadcast(q).crossJoin(F.broadcast(c)))
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round(F.col("cos"), 6)), F.asc("centroid_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= nprobe)
        .select("query_id", "qv", "qn", "centroid_id")
    )


def lsh_ann_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    bucket_length: float = 2.0,
    num_hash_tables: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(query_id, neighbor_id, dist, rank) — approximate NN via MLlib's
    BucketedRandomProjectionLSH (random-hyperplane bucketing, Euclidean
    distance).

    The MLlib alternative to :func:`ivf_topk`: index build is a fit()
    producing random projections; the similarity join only compares
    vectors sharing a hash bucket.  Deterministic given the seed, but
    the hash family is Spark-internal — no cross-engine oracle
    (rows-only in the catalog).  Candidates may miss true neighbors
    (tune bucket_length/num_hash_tables for recall).
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    corpus = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        array_to_vector(as_double_array(F.col(vec_col))).alias("features"),
    )
    q = queries.select(
        "query_id", array_to_vector(as_double_array(F.col("embedding"))).alias("features")
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = lsh.fit(corpus)
    joined = model.approxSimilarityJoin(q, corpus, float("inf"), distCol="dist").select(
        F.col("datasetA.query_id").alias("query_id"),
        F.col("datasetB.neighbor_id").alias("neighbor_id"),
        F.col("dist"),
    ).where(F.col("query_id") != F.col("neighbor_id"))
    return _rank_topk(joined, "dist", k)


def embedding_neardup_pairs(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.999,
    block: bool = True,
    n_centroids: int | None = None,
    probe: int = 2,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """(id_a, id_b, cos) — embedding-cosine near-duplicate pairs.

    Default is the centroid-BLOCKED form (the only shape that survives
    100 TB): every vector is assigned to its ``probe`` nearest of
    ``n_centroids`` deterministic centroids (the lowest-id input vectors
    — no training pass) by an Arrow matrix kernel that carries the
    vector onto each assignment row; pairs are then verified PER
    BUCKET by a cogrouped Arrow kernel (one m x m BLAS cosine block
    per bucket, threshold applied in-kernel) — one groupBy shuffle
    total, no self-join, and candidate pairs below threshold never
    materialize as rows.  Blocking can only prune candidates, never
    corrupt results: every emitted pair carries its true cosine.
    Recall: EXACT duplicates (identical directions — the dedup case,
    and what the testdata plants) always co-bucket because cosine is
    scale-invariant, and ``probe=2`` double-assigns each vector to its
    two closest buckets to cover close centroid races; but unlike
    :func:`dedup.simhash_pairs`' pigeonhole guarantee this blocking is
    HEURISTIC for merely-near pairs — at cos = 0.999 the directions
    differ by ~2.6 degrees, which can in principle flip a tight
    centroid ranking in a crowded region.  Raise ``probe`` or use
    ``block=False`` when guaranteed recall matters more than the
    O(n^2) cost.

    ``n_centroids=None`` (default) auto-scales the centroid count with
    the corpus: ``max(8, isqrt(n))``, with n ESTIMATED from parquet
    footer metadata on the driver (:func:`_estimate_rows` — no Spark
    job, filters/unions fine; the base-table upper bound just means
    smaller buckets).  Caveat for HIGHLY selective filters (actual
    rows << base table): the inflated K can exceed the filtered count,
    making every vector its own centroid — exact duplicates still
    always pair (each probes its twin first), but merely-near recall
    tightens to mutual-nearest-probe; pass ``n_centroids`` explicitly
    on such lineage.  Only lineage with no file source at all (pure
    in-memory frames) falls back to an eager ``count()`` job.  Since
    round 6, construction ALSO runs one bounded eager job — the K-row
    centroid collect loading the coarse quantizer into the Arrow
    assignment kernel (the FAISS "load the quantizer" step; never a
    corpus scan).  A
    FIXED centroid count does not scale — with K constant, buckets hold
    n/K vectors and the within-bucket join is still O(n^2/K).  Total
    work is assignment O(n*K) + bucket joins O(probe^2*n^2/K), which
    K ~ sqrt(n) balances at O(n^1.5) — the standard IVF sizing
    (measured: tools/scale_probe.py / SCALING.jsonl).

    ``block=False`` selects the exact all-pairs O(n^2) verify for tiny
    pre-filtered inputs (or as the in-bucket kernel of an external
    blocker such as :func:`assign_centroids` over trained centroids or
    MinHash-LSH).

    ``max_bucket_size`` is the same hot-bucket guard as
    :func:`dedup.lsh_candidate_pairs`: a bucket of m vectors emits
    m^2/2 candidates, so a degenerate corpus (everything near one
    centroid) goes quadratic.  An over-cap bucket is dropped wholesale
    inside the verify kernel (its pairs are all suspect), trading
    recall inside pathological buckets for a bounded plan; raise
    ``n_centroids`` (or pre-train real centroids) to shrink buckets
    instead of capping when recall matters.  ``None`` (default)
    disables the cap — the catalog entry runs uncapped so the
    all-pairs oracle matches exactly.
    """
    av = as_double_array(F.col(vec_col))
    if block:
        if n_centroids is None:
            import math

            # Sizing must not launch a corpus-count job: estimate n
            # from parquet footers on the driver (any file-backed
            # lineage, filters included — the base-table upper bound
            # only makes K larger, i.e. buckets smaller).  Only a plan
            # with no file source at all (pure in-memory lineage)
            # falls back to an eager count().  (The kernel's bounded
            # K-row centroid collect below is a separate, deliberate
            # eager step.)
            n = _estimate_rows(embeddings)
            if n is None:
                n = embeddings.count()
            n_centroids = max(8, math.isqrt(n))
        cents = (
            embeddings.orderBy(F.asc(id_col))
            .limit(n_centroids)
            .select(
                F.col(id_col).alias("centroid_id"),
                av.alias("cv"),
                l2_norm(av).alias("cn"),
            )
        )
        # Top-probe assignment via the Arrow matrix kernel, carrying the
        # vector onto each assignment row (the old crossJoin(broadcast)
        # -> row_number form materialized n x K cosine rows — an
        # n^1.5-row intermediate at K ~ sqrt(n)).  The within-bucket
        # verify is then a PER-BUCKET matrix kernel: one groupBy
        # shuffle of the n x probe (centroid, id, vec) rows, one m x m
        # BLAS block per bucket, and only pairs AT/ABOVE threshold are
        # ever materialized as rows — the old shape emitted m^2/2
        # candidate rows per bucket, joined the corpus back TWICE for
        # the vectors, and verified pair-by-pair.
        buckets = _centroid_topk_assign_kernel(
            embeddings, cents, id_col=id_col, vec_col=vec_col, probe=probe, with_vec=True
        )
        idt = dict(buckets.dtypes)["bvec_id"]
        thr = float(threshold)
        cap = max_bucket_size

        # no return annotation: applyInPandas infers the eval type from
        # hints when present, and a non-DataFrame hint ('object') makes
        # it emit a 'Cannot infer the eval type' UserWarning per run
        def bucket_verify(key, pdf):
            import numpy as np
            import pandas as pd

            empty = pd.DataFrame({"id_a": [], "id_b": [], "cos": []})
            m = len(pdf)
            if m < 2 or (cap is not None and m > cap):
                # over-cap bucket: drop ALL its pairs (the batch-guard
                # semantics the join form applied via a window count)
                return empty
            pdf = pdf.sort_values("bvec_id", kind="stable")
            ids = pdf["bvec_id"].to_numpy()
            V, _ = _stack_rows(pdf["_v"].to_numpy())
            norms = np.sqrt((V * V).sum(axis=1))
            denom = norms[:, None] * norms[None, :]
            cos = np.where(denom == 0.0, 0.0, (V @ V.T) / np.where(denom == 0.0, 1.0, denom))
            iu, ju = np.triu_indices(m, k=1)
            c = cos[iu, ju]
            # half-away-from-zero 6-decimal threshold — F.round's rule
            cr = round_half_away(c)
            keep = cr >= thr
            # drop same-id self pairs (a doc double-probing two buckets
            # never pairs with itself here: ids are distinct per bucket,
            # but duplicated source ids in the INPUT frame could tie)
            keep &= ids[iu] != ids[ju]
            return pd.DataFrame(
                {
                    "id_a": pd.Series(ids[iu][keep], dtype=pdf["bvec_id"].dtype),
                    "id_b": pd.Series(ids[ju][keep], dtype=pdf["bvec_id"].dtype),
                    "cos": pd.Series(c[keep], dtype="float64"),
                }
            )

        pairs = (
            buckets.groupBy("centroid_id")
            .applyInPandas(bucket_verify, schema=f"id_a {idt}, id_b {idt}, cos double")
            # a pair sharing BOTH probed buckets surfaces once per
            # shared bucket with the identical cosine — dedup by ids
            .dropDuplicates(["id_a", "id_b"])
        )
    else:
        a = embeddings.select(
            F.col(id_col).alias("id_a"), av.alias("qv"), l2_norm(av).alias("qn")
        )
        b = embeddings.select(
            F.col(id_col).alias("id_b"), av.alias("cv"), l2_norm(av).alias("cn")
        )
        pairs = _with_cos_arrow(a.crossJoin(b)).where(F.col("id_a") < F.col("id_b"))
    return pairs.where(F.round(F.col("cos"), 6) >= threshold).select(
        "id_a", "id_b", F.round("cos", 6).alias("cos")
    )


def assign_centroids(
    embeddings: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kernel: bool = True,
) -> DataFrame:
    """(vec_id, centroid_id, cos) — nearest-centroid assignment (IVF
    coarse quantizer).  ``centroids``: (centroid_id, embedding).

    ``kernel=True`` (default) runs the Arrow matrix kernel
    (:func:`_centroid_topk_assign_kernel`): the centroid matrix rides
    into the closure, each partition argmaxes its block with one BLAS
    matmul, and only the n assignment rows ever exist — no n x K
    intermediate, no shuffle.  ``kernel=False`` keeps the expression
    form (crossJoin(broadcast) → row_number window); both share the
    same rounded-cos/centroid-id ordering, pinned identical by test.
    """
    if kernel:
        ccv = as_double_array(F.col("embedding"))
        cents = centroids.select("centroid_id", ccv.alias("cv"))
        return _centroid_topk_assign_kernel(
            embeddings, cents, id_col=id_col, vec_col=vec_col, probe=1,
            out_id="vec_id", with_cos=True,
        )
    ev = as_double_array(F.col(vec_col))
    e = embeddings.select(F.col(id_col).alias("vec_id"), ev.alias("qv"), l2_norm(ev).alias("qn"))
    ccv = as_double_array(F.col("embedding"))
    c = centroids.select(F.col("centroid_id"), ccv.alias("cv"), l2_norm(ccv).alias("cn"))
    scored = _with_cos_arrow(e.crossJoin(F.broadcast(c)))
    w = Window.partitionBy("vec_id").orderBy(
        F.desc(F.round(F.col("cos"), 6)), F.asc("centroid_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "centroid_id", F.round("cos", 6).alias("cos"))
    )


def quantize_int8(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, qvec array<int>, scale) — symmetric per-vector int8
    quantization: scale = max|v|/127, q_i = round(v_i/scale).

    The storage/bandwidth lever of a 100 TB similarity corpus: 4x
    smaller vectors (int8 vs float32), and the integer dot product is
    SIMD-friendly.  Cosine is scale-invariant, so ranking by quantized
    cosine only pays the rounding error (~1/254 per component).
    Zero vectors quantize to zeros with scale 0.
    """
    v = as_double_array(F.col(vec_col))
    scale = F.aggregate(v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))) / F.lit(127.0)
    return embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.when(scale == 0.0, F.transform(v, lambda x: F.lit(0).cast("int")))
        .otherwise(F.transform(v, lambda x: F.round(x / scale).cast("int")))
        .alias("qvec"),
        scale.alias("scale"),
    )


def knn_quantized_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    kernel: bool = True,
) -> DataFrame:
    """(query_id, neighbor_id, cos, rank) — brute-force top-k over
    int8-quantized vectors: exact integer dot/norms per pair, one float
    division at the end.  Same shape as knn_bruteforce; the quantized
    corpus is what a 100 TB deployment would actually scan.

    ``kernel=True`` (default) uses the Arrow matrix kernel; the int8
    dots/norms stay integer-EXACT there too (integer-valued float64,
    far below 2^53), so both paths are bit-identical, not just
    close — a test pins this.  The query side's ``vec_id`` doubles as
    ``query_id`` (both paths quantize queries with the same rule).
    """
    if kernel:
        q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("embedding"))
        return _knn_kernel_topk(
            embeddings, q, id_col=id_col, vec_col=vec_col, k=k, methods=("int8",)
        )
    # integer-exact dot and norms (bigint accumulation), float only at
    # the final normalization — bit-reproducible across engines
    inorm = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda x: (x * x).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    # norms hoisted per ROW (same bigint folds, computed n+q times
    # instead of 3x per pair under the top-k join)
    qe = quantize_int8(embeddings, id_col=id_col, vec_col=vec_col).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("qvec").alias("cv"),
        inorm(F.col("qvec")).alias("cn2"),
    )
    qq = quantize_int8(queries, id_col=id_col, vec_col=vec_col).select(
        F.col("vec_id").alias("query_id"),
        F.col("qvec").alias("qv"),
        inorm(F.col("qvec")).alias("qn2"),
    )
    idot = F.aggregate(
        F.zip_with("qv", "cv", lambda a, b: (a * b).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    scored = (
        F.broadcast(qq)
        .crossJoin(qe)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.when((F.col("qn2") == 0) | (F.col("cn2") == 0), F.lit(0.0))
            .otherwise(
                idot
                / (F.sqrt(F.col("qn2").cast("double")) * F.sqrt(F.col("cn2").cast("double")))
            )
            .alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round(F.col("cos"), 6)), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("integer"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("cos"), "rank")
    )


def knn_dual_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """(method, query_id, neighbor_id, cos, rank) — BOTH brute-force
    serving precisions ('exact' float64 and 'int8' quantized) from ONE
    Arrow pass over the corpus.

    :func:`knn_bruteforce` and :func:`knn_quantized_topk` each cross
    the Python boundary once per corpus vector; a dashboard/bench that
    wants both precisions pays two scans, two kernels, and two rank
    windows.  Here each Arrow batch computes the float cosine block
    AND its int8-quantized twin from the same stacked matrix (the
    quantization is a numpy one-liner on data already in cache), emits
    per-method local top-(k+16) candidates, and one window ranks both
    methods.  Results are bit-identical to the two single-method
    kernels — pinned by test.
    """
    return _knn_kernel_topk(
        embeddings, queries, id_col=id_col, vec_col=vec_col, k=k, methods=("exact", "int8")
    )


def pq_codebooks(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    dim: int = 64,
    n_codes: int = 16,
) -> DataFrame:
    """(sub, code_id, codeword array<double>) — deterministic product-
    quantization codebooks: the vector dimension is split into ``m``
    contiguous subspaces of ``dim // m`` components, and subspace ``s``'s
    codebook is the s-th slice of the ``n_codes`` lowest-id vectors
    (code_id = rank in that id ordering, 0-based).

    The head-sample rule is the same no-training-pass determinism trick
    as :func:`embedding_neardup_pairs`' centroids: reproducible across
    engines (the DuckDB oracle rebuilds the identical codebooks), no
    fit job, broadcast-sized output (m x n_codes rows).  For trained
    codebooks, refine these with :func:`pq_refine_codebooks` (numpy
    Lloyd's on a bounded sample — deterministic but engine-specific).
    """
    if dim % m:
        raise ValueError(f"m={m} must divide dim={dim}")
    d = dim // m
    v = as_double_array(F.col(vec_col))
    w = Window.orderBy(F.asc("_src"))
    head = (
        embeddings.orderBy(F.asc(id_col))
        .limit(n_codes)
        .select(F.col(id_col).alias("_src"), v.alias("_v"))
        .withColumn("code_id", (F.row_number().over(w) - 1).cast("int"))
    )
    slices = F.array(
        *[
            F.struct(
                F.lit(s).cast("int").alias("sub"),
                F.slice("_v", s * d + 1, d).alias("codeword"),
            )
            for s in range(m)
        ]
    )
    return head.select("code_id", F.explode(slices).alias("sc")).select(
        F.col("sc.sub").alias("sub"), "code_id", F.col("sc.codeword").alias("codeword")
    )


def _collect_codebooks(codebooks: DataFrame):
    """Driver-side numpy view of a codebook frame: dict sub -> (codes
    matrix ordered by code_id, code_id array).  Codebooks are tiny by
    construction (m x n_codes rows) — collecting them IS the broadcast."""
    import numpy as np

    rows = codebooks.select("sub", "code_id", "codeword").collect()
    by_sub: dict[int, list] = {}
    for r in rows:
        by_sub.setdefault(r["sub"], []).append((r["code_id"], r["codeword"]))
    out = {}
    for s, lst in by_sub.items():
        lst.sort(key=lambda t: t[0])
        ids = np.array([t[0] for t in lst], dtype=np.int64)
        M, _ = _stack_rows([t[1] for t in lst])
        out[s] = (M, ids)
    return out


def _pq_lut(X, cb: dict, d: int) -> dict:
    """{sub: (rows x n_codes) table} — ``round(||X_s - codeword||^2, 6)``
    of every row's subspace slice against that subspace's codewords
    (columns in code_id order; ``cb`` from :func:`_collect_codebooks`).
    Over the queries it is the ADC lookup table; over corpus rows its
    per-row argmin is the PQ code (first minimum = smaller code_id)."""
    import numpy as np

    out = {}
    for s in sorted(cb):
        M, _ = cb[s]
        diff = X[:, s * d : (s + 1) * d][:, None, :] - M[None, :, :]
        out[s] = np.round((diff * diff).sum(axis=2), 6)
    return out


def _pq_expr_lut(
    vecs: DataFrame, codebooks: DataFrame, *, m: int, d: int, keys: tuple[str, ...]
) -> DataFrame:
    """(*keys, sub, code_id, d2) — the expression twin of :func:`_pq_lut`:
    slice each ``_v`` vector of ``vecs`` (*keys, _v) into ``m``
    subspaces, explode, broadcast-join the codebooks, and take the
    rounded squared distance to every codeword."""
    slices = F.array(
        *[
            F.struct(
                F.lit(s).cast("int").alias("sub"), F.slice("_v", s * d + 1, d).alias("sv")
            )
            for s in range(m)
        ]
    )
    ex = vecs.select(*keys, F.explode(slices).alias("sc")).select(
        *keys, F.col("sc.sub").alias("sub"), F.col("sc.sv").alias("sv")
    )
    d2 = F.aggregate(
        F.zip_with("sv", "codeword", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return ex.join(F.broadcast(codebooks), "sub").select(
        *keys, "sub", "code_id", F.round(d2, 6).alias("d2")
    )


def pq_encode(
    embeddings: DataFrame,
    codebooks: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    dim: int = 64,
    kernel: bool = True,
) -> DataFrame:
    """(vec_id, codes array<int>) — product-quantization encoding: each
    subspace slice maps to its nearest codeword by squared L2 distance
    (rounded to 6 decimals, smaller code_id on ties — the engine-wide
    cross-engine guard), codes ordered by subspace.

    THE storage lever of a 100 TB embedding corpus: m=8 codes over a
    64-dim float32 vector is a 32x compression (8 bytes vs 256), and
    ADC search (:func:`pq_topk`) scans codes with table lookups instead
    of float dot products.

    ``kernel=True`` (default) encodes per Arrow batch with one numpy
    distance block per subspace — each corpus vector crosses the Python
    boundary once, no explode, no shuffle (codebooks ride into the
    closure; collecting them is the broadcast).  ``kernel=False`` is the
    lazy expression path (posexplode subspaces, broadcast-join the
    codebook, min_by argmin, regroup) — the semantic definition the
    tests pin the kernel against, and the shape the DuckDB oracle
    reproduces.

    Dirty-input contract: the kernel coerces NULL / length-mismatched
    vectors to all-zeros (same tolerance as the kNN kernel's
    ``_stack_rows``); the expression path assumes well-formed
    ``dim``-length vectors (a short vector null-propagates through
    ``zip_with`` and its argmin is unspecified) — pre-filter ragged
    rows before using ``kernel=False`` on untrusted data.
    """
    if dim % m:
        raise ValueError(f"m={m} must divide dim={dim}")
    d = dim // m
    v = as_double_array(F.col(vec_col))
    if kernel:
        import numpy as np

        from collections.abc import Iterator

        cb = _collect_codebooks(codebooks)
        subs = sorted(cb)
        nid_src = embeddings.select(F.col(id_col).alias("vec_id"))
        vid_type = nid_src.schema["vec_id"].dataType.simpleString()
        src = _fan_out(
            embeddings.where(F.col(id_col).isNotNull()).select(
                F.col(id_col).alias("vec_id"), v.alias("_v")
            )
        )  # NULL-id parity: see _knn_kernel_topk

        def enc_kernel(batches: Iterator) -> Iterator:
            import pandas as pd

            for pdf in batches:
                if not len(pdf):
                    continue
                X, _ = _stack_rows(pdf["_v"].to_numpy(), dim=dim)
                codes = np.zeros((len(pdf), len(subs)), dtype=np.int64)
                for j, (s, d2) in enumerate(_pq_lut(X, cb, d).items()):
                    # argmin returns the FIRST minimum — codebook rows are
                    # ordered by code_id, so ties break small, matching
                    # the expression path's min_by struct order
                    codes[:, j] = cb[s][1][np.argmin(d2, axis=1)]
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"],
                        "codes": [
                            [int(c) for c in row] for row in codes
                        ],
                    }
                )

        return src.mapInPandas(enc_kernel, f"vec_id {vid_type}, codes array<int>")
    slices = F.array(
        *[
            F.struct(
                F.lit(s).cast("int").alias("sub"), F.slice("_v", s * d + 1, d).alias("sv")
            )
            for s in range(m)
        ]
    )
    ex = embeddings.select(F.col(id_col).alias("vec_id"), v.alias("_v")).select(
        "vec_id", F.explode(slices).alias("sc")
    ).select("vec_id", F.col("sc.sub").alias("sub"), F.col("sc.sv").alias("sv"))
    d2 = F.round(
        F.aggregate(
            F.zip_with("sv", "codeword", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    best = (
        ex.join(F.broadcast(codebooks), "sub")
        .groupBy("vec_id", "sub")
        .agg(
            F.min_by(
                "code_id", F.struct(d2.alias("d2"), F.col("code_id").alias("c"))
            ).alias("code")
        )
    )
    return best.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub", "code"))), lambda x: x["code"]
        ).alias("codes")
    )


def pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    dim: int = 64,
    n_codes: int = 16,
    k: int = 5,
    codebooks: DataFrame | None = None,
    codes: DataFrame | None = None,
    kernel: bool = True,
    rerank: int | None = None,
) -> DataFrame:
    """(query_id, neighbor_id, dist, rank) — approximate top-k via
    product quantization with asymmetric distance computation (ADC).

    Jegou et al.'s PQ search shape (IEEE TPAMI 2011, public): the corpus
    is pre-encoded to ``m`` codes per vector (:func:`pq_encode`); each
    query builds an m x n_codes lookup table of exact squared-L2
    distances from its subspace slices to every codeword; a corpus
    vector's approximate distance is then the SUM of m table lookups —
    no float vector math in the scan.  At 100 TB the scan reads the
    8-byte code column (32x less I/O than raw vectors), the LUT
    broadcasts (q x m x n_codes doubles), and the per-query top-k is
    the only thing that moves.

    Approximation is deterministic end-to-end (rounded LUT entries,
    rounded sums, id tie-breaks), so the DuckDB oracle reproduces it
    exactly — unlike MLlib's LSH this ANN path is hash-checkable.
    ``queries``: (query_id, embedding); self-matches excluded; ``dist``
    ascending (squared L2 in the quantized space).

    ``kernel=True`` fuses encode + ADC in one mapInPandas pass (numpy
    LUT gather per batch, local top-(k+16), tiny global window);
    ``kernel=False`` is the lazy expression twin (encode, explode,
    broadcast-join the LUT, one hash-agg sum) — parity-pinned.

    ``codes=`` accepts a pre-encoded ``(vec_id, codes)`` relation
    (:func:`pq_encode` output — typically encoded ONCE and persisted as
    parquet, the IndexDelta/persisted-tokens pattern).  With it, the
    ADC scan reads ONLY the 8-byte code column: the raw embedding
    relation is never touched (kernel: :func:`pq_search_codes` gathers
    LUT entries by code id; expression path joins the LUT on the
    exploded codes), which is the
    real 100 TB serve shape — encode is a one-off batch job, every
    query batch after it scans 32x less data.  Results are identical
    to the encode-on-the-fly form (parity-pinned): in-kernel argmin
    and :func:`pq_encode` break distance ties the same way.  ``rerank``
    still reads raw vectors for its q x R exact pass.

    ``rerank=R`` adds the standard second stage (IVFADC-with-refinement):
    ADC picks a top-R shortlist per query, then the EXACT squared-L2
    distance re-ranks those R candidates to the final k.  The exact pass
    touches only q x R vectors (a broadcast of the candidate ids against
    the corpus — not a rescan), so it costs nothing at scale and buys
    back most of the quantization's recall loss; on near-random vectors
    (distance concentration — the synthetic testdata's regime) it is the
    difference between ~0.3 and ~0.96 recall@5 at R=100.  ``dist`` is
    then the exact squared L2, still deterministic/oracle-checkable.
    """
    if dim % m:
        # validated on EVERY path: with supplied codebooks the d=dim//m
        # slices would silently exclude the trailing dim%m dimensions
        # from every distance — wrong rankings with no error
        raise ValueError(f"m={m} must divide dim={dim}")
    if codebooks is None:
        codebooks = pq_codebooks(
            embeddings, id_col=id_col, vec_col=vec_col, m=m, dim=dim, n_codes=n_codes
        )
    if kernel:
        if codes is not None:
            return pq_search_codes(
                codes, codebooks, queries, m=m, dim=dim, k=k, rerank=rerank,
                embeddings=embeddings, id_col=id_col, vec_col=vec_col,
            )
        corpus = embeddings.select(
            F.col(id_col).alias("neighbor_id"), as_double_array(F.col(vec_col)).alias("_v")
        )
        scored = _adc_scan(
            corpus, queries, codebooks, m=m, dim=dim, k=k if rerank is None else rerank
        )
    else:
        enc = (
            codes
            if codes is not None
            else pq_encode(
                embeddings, codebooks, id_col=id_col, vec_col=vec_col, m=m, dim=dim,
                kernel=False,
            )
        )
        lut = _pq_expr_lut(
            queries.select("query_id", as_double_array(F.col("embedding")).alias("_v")),
            codebooks, m=m, d=dim // m, keys=("query_id",),
        )
        ecx = enc.select(
            F.col("vec_id").alias("neighbor_id"), F.posexplode("codes").alias("sub", "code_id")
        )
        scored = (
            ecx.join(F.broadcast(lut), ["sub", "code_id"])
            .where(F.col("query_id") != F.col("neighbor_id"))
            .groupBy("query_id", "neighbor_id")
            .agg(F.round(F.sum("d2"), 6).alias("dist"))
        )
    return _adc_ranked(
        scored, embeddings, queries, k=k, rerank=rerank, id_col=id_col, vec_col=vec_col
    )


def _adc_scan(
    corpus: DataFrame, queries: DataFrame, codebooks: DataFrame, *, m: int, dim: int, k: int
) -> DataFrame:
    """(query_id, neighbor_id, dist) ADC candidates over
    :func:`_scan_topk`, ``dist`` = ``np.round`` of the summed LUT
    entries (:func:`_pq_lut` over the queries).  ``corpus`` is either
    (neighbor_id, codes) — stored codes, gathered by code id after a
    bounds check (a NULL or wrong-length code row or a code_id absent
    from the codebook raises ValueError: it has no distance) — or
    (neighbor_id, _v) raw vectors, encoded in-batch by the same argmin
    rule as :func:`pq_encode`."""
    import numpy as np

    d = dim // m
    cb = _collect_codebooks(codebooks)
    subs = sorted(cb)
    from_codes = "codes" in corpus.columns
    # code_id -> position in each subspace's codeword block (-1: absent)
    id_pos = {}
    for s in subs:
        ids = cb[s][1]
        id_pos[s] = np.full(int(ids.max()) + 1, -1, dtype=np.int64)
        id_pos[s][ids] = np.arange(len(ids))

    def gather_positions(codes):
        if any(c is None or len(c) != len(subs) for c in codes):
            raise ValueError(
                f"codes contain a NULL row or a row without exactly {len(subs)} "
                f"code_ids (one per sub)"
            )
        C = np.asarray([list(c) for c in codes], dtype=np.int64)
        out = []
        for j, s in enumerate(subs):
            # bounds-check BEFORE the fancy-index gather: an out-of-range
            # id would raise a raw numpy IndexError (and a negative id
            # would wrap to a valid position) instead of this error
            cj, pm = C[:, j], id_pos[s]
            pos = pm[cj] if ((cj >= 0) & (cj < len(pm))).all() else None
            if pos is None or (pos < 0).any():
                raise ValueError(f"codes contain a code_id absent from the sub={s} codebook")
            out.append(pos)
        return out

    def scorer(qvecs):
        Q, _ = _stack_rows(qvecs, dim=dim)
        lut = _pq_lut(Q, cb, d)

        def block(pdf):
            if from_codes:
                # pre-encoded scan: LUT gather by code id — no float
                # vector math, the raw corpus is never read
                pos = gather_positions(pdf["codes"])
            else:
                X, _ = _stack_rows(pdf["_v"].to_numpy(), dim=dim)
                pos = [np.argmin(d2, axis=1) for d2 in _pq_lut(X, cb, d).values()]
            dist = np.zeros((len(Q), len(pdf)))
            for s, p in zip(subs, pos):
                dist += lut[s][:, p]
            return {"adc": np.round(dist, 6)}

        return block

    return _scan_topk(corpus, queries, scorer, col="dist", desc=False, k=k)


def _adc_ranked(
    scored: DataFrame,
    embeddings: DataFrame | None,
    queries: DataFrame,
    *,
    k: int,
    rerank: int | None,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(query_id, neighbor_id, dist, rank) — the PQ-family tail: rank
    the (query_id, neighbor_id, dist) ADC scores to the top-k, or to a
    top-``rerank`` shortlist that :func:`_pq_exact_rerank` re-ranks to
    k by exact squared L2 (which needs the raw ``embeddings``)."""
    ranked = _rank_topk(scored, "dist", k if rerank is None else rerank)
    if rerank is None:
        return ranked
    if embeddings is None:
        raise ValueError("rerank requires the raw embeddings frame")
    return _pq_exact_rerank(
        ranked, embeddings, queries, id_col=id_col, vec_col=vec_col, k=k
    )


def pq_rerank(
    shortlist: DataFrame,
    embeddings: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact squared-L2 re-rank of an ADC shortlist, DECOUPLED from the
    quantized scan — so one :func:`pq_topk` pass can serve both PQ
    serving shapes: ``pq_topk(..., k=R)`` is exactly the rerank arm's
    internal shortlist (same window, same ``(round(dist, 6),
    neighbor_id)`` tie-breaks), its ``rank <= k`` prefix is the pure-ADC
    top-k, and ``pq_rerank(shortlist, ...)`` is the refinement stage —
    row-identical to ``pq_topk(..., k=k, rerank=R)`` without the second
    full scan over the corpus codes (pinned by
    test_pq_topk_shared_scan_derivation).  ``shortlist`` needs columns
    (query_id, neighbor_id); extra columns are ignored."""
    return _pq_exact_rerank(
        shortlist, embeddings, queries, id_col=id_col, vec_col=vec_col, k=k
    )


def _pq_exact_rerank(
    ranked: DataFrame,
    embeddings: DataFrame,
    queries: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """Exact squared-L2 re-rank of an ADC shortlist: the q x R candidate
    set (with the query vector attached) broadcasts against the corpus —
    a broadcast-hash semi-join, never a corpus shuffle or rescan-wide
    window — and the true distance re-ranks to the final top-k."""
    qraw = queries.select(
        "query_id", as_double_array(F.col("embedding")).alias("_qv")
    )
    cand = ranked.select("query_id", "neighbor_id").join(qraw, "query_id")
    craw = embeddings.select(
        F.col(id_col).alias("neighbor_id"), as_double_array(F.col(vec_col)).alias("_cv")
    )
    d2 = F.aggregate(
        F.zip_with("_qv", "_cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = craw.join(F.broadcast(cand), "neighbor_id").select(
        "query_id", "neighbor_id", F.round(d2, 6).alias("dist")
    )
    return _rank_topk(scored, "dist", k)


def pq_search_codes(
    codes: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    *,
    m: int = 8,
    dim: int = 64,
    k: int = 5,
    rerank: int | None = None,
    embeddings: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, dist, rank) — ADC top-k over
    PRE-ENCODED codes (vec_id, codes array<int>): the serving path of a
    persisted PQ index.  Unlike :func:`pq_topk` (which fuses encode +
    scan for ad-hoc use), this touches ONLY the m-byte code column —
    the raw vectors never load, which at 100 TB is the entire point of
    having encoded them.  ``rerank=R`` needs the raw ``embeddings``
    frame for the exact second stage (a q x R candidate broadcast, not
    a corpus scan).  ``pq_topk(codes=...)`` serves through this same
    scan; a NULL or wrong-length code row, or a code_id absent from the
    codebooks, raises ValueError rather than scoring a wrong distance.
    """
    if dim % m:
        raise ValueError(f"m={m} must divide dim={dim}")  # see pq_topk
    corpus = codes.select(F.col("vec_id").alias("neighbor_id"), "codes")
    scored = _adc_scan(
        corpus, queries, codebooks, m=m, dim=dim, k=k if rerank is None else rerank
    )
    return _adc_ranked(
        scored, embeddings, queries, k=k, rerank=rerank, id_col=id_col, vec_col=vec_col
    )


class PQIndex:
    """Persisted product-quantization index: broadcast-sized codebooks
    plus the m-byte-per-vector code table.  ``build`` encodes the
    corpus ONCE (the expensive pass); ``search`` is then pure ADC over
    the stored codes (:func:`pq_search_codes`) — re-encoding per query
    batch, which :func:`pq_topk` does for ad-hoc calls, is exactly what
    a 100 TB deployment must not do.  ``save``/``load`` round-trip both
    tables plus the (m, dim) geometry through parquet, mirroring
    CorpusIndex's layout conventions (corpus_index.py:244)."""

    def __init__(
        self,
        codebooks: DataFrame,
        codes: DataFrame,
        *,
        m: int,
        dim: int,
        rotation: list[list[float]] | None = None,
    ):
        self.codebooks = codebooks
        self.codes = codes
        self.m = m
        self.dim = dim
        # OPQ: the orthogonal rotation the corpus was encoded under
        # (opq_train).  Queries must rotate with the same R before the
        # ADC scan; None = plain PQ.
        self.rotation = rotation

    @classmethod
    def build(
        cls,
        embeddings: DataFrame,
        *,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        m: int = 8,
        dim: int = 64,
        n_codes: int = 16,
        refine: bool = False,
        codebooks: DataFrame | None = None,
        opq: bool = False,
        rotation: list[list[float]] | None = None,
    ) -> "PQIndex":
        if opq and rotation is None and codebooks is None:
            rotation, codebooks = opq_train(
                embeddings, id_col=id_col, vec_col=vec_col, m=m, dim=dim, n_codes=n_codes
            )
        if rotation is not None:
            embeddings = rotate_embeddings(embeddings, rotation, vec_col=vec_col)
        if codebooks is None:
            if refine:
                codebooks = pq_refine_codebooks(
                    embeddings, id_col=id_col, vec_col=vec_col, m=m, dim=dim, n_codes=n_codes
                )
            else:
                codebooks = pq_codebooks(
                    embeddings, id_col=id_col, vec_col=vec_col, m=m, dim=dim, n_codes=n_codes
                )
        codes = pq_encode(
            embeddings, codebooks, id_col=id_col, vec_col=vec_col, m=m, dim=dim
        )
        return cls(codebooks, codes, m=m, dim=dim, rotation=rotation)

    def save(self, path: str) -> None:
        self.codebooks.write.mode("overwrite").parquet(f"{path}/codebooks")
        self.codes.write.mode("overwrite").parquet(f"{path}/codes")
        spark = self.codes.sparkSession
        # has_rotation is recorded IN the meta so load() never probes
        # the filesystem: an os.path check is local-FS-only, and on
        # HDFS/S3 a silently-missed rotation would scan UNROTATED
        # queries against rotated codes — wrong neighbors, no error.
        spark.createDataFrame(
            [(self.m, self.dim, self.rotation is not None)],
            "m INT, dim INT, has_rotation BOOLEAN",
        ).write.mode("overwrite").parquet(f"{path}/meta")
        if self.rotation is not None:
            spark.createDataFrame(
                [(i, row) for i, row in enumerate(self.rotation)],
                "i INT, row ARRAY<DOUBLE>",
            ).write.mode("overwrite").parquet(f"{path}/rotation")

    @classmethod
    def load(cls, spark, path: str) -> "PQIndex":
        from beyond_vector_search_spark.sources import fsutil

        meta_df = spark.read.parquet(f"{path}/meta")
        meta = meta_df.first()
        if "has_rotation" in meta_df.columns:
            has_rotation = bool(meta["has_rotation"])
        else:
            # legacy store (pre-flag): probe through the Hadoop FS —
            # an os.path probe on an HDFS/S3A store would silently
            # answer "no rotation" and serve wrong neighbors
            has_rotation = fsutil.exists(spark, f"{path}/rotation")
        rotation = None
        if has_rotation:
            # fail loudly if the recorded rotation is unreadable — a
            # None fallback here would serve wrong neighbors silently
            rows = spark.read.parquet(f"{path}/rotation").collect()
            if not rows:
                raise ValueError(
                    f"{path}/meta records an OPQ rotation but {path}/rotation is empty"
                )
            rotation = [list(r["row"]) for r in sorted(rows, key=lambda r: r["i"])]
        return cls(
            spark.read.parquet(f"{path}/codebooks"),
            spark.read.parquet(f"{path}/codes"),
            m=meta["m"],
            dim=meta["dim"],
            rotation=rotation,
        )

    def search(
        self,
        queries: DataFrame,
        *,
        k: int = 5,
        rerank: int | None = None,
        embeddings: DataFrame | None = None,
    ) -> DataFrame:
        if self.rotation is not None:
            queries = rotate_embeddings(queries, self.rotation)
            if embeddings is not None:
                embeddings = rotate_embeddings(embeddings, self.rotation)
        return pq_search_codes(
            self.codes,
            self.codebooks,
            queries,
            m=self.m,
            dim=self.dim,
            k=k,
            rerank=rerank,
            embeddings=embeddings,
        )


def ivfpq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    dim: int = 64,
    n_codes: int = 16,
    k: int = 5,
    nprobe: int = 2,
    codebooks: DataFrame | None = None,
    rerank: int | None = None,
) -> DataFrame:
    """(query_id, neighbor_id, dist, rank) — IVF-PQ: the two ANN
    stages composed the way FAISS's IVFADC does (Jegou et al. 2011):
    the IVF coarse quantizer prunes the scan to ``nprobe`` centroid
    buckets (~nprobe/K of the corpus), and PQ's ADC lookup scores only
    the surviving candidates from their m-byte codes.  Both stages are
    deterministic (rounded distances, id tie-breaks).  ``rerank=R``
    adds the exact top-R refinement.  This codes WHOLE vectors (not
    residuals — determinism and oracle-checkability over the last few
    percent of recall; plug residual codebooks in via ``codebooks`` if
    trained externally)."""
    if codebooks is None:
        codebooks = pq_codebooks(
            embeddings, id_col=id_col, vec_col=vec_col, m=m, dim=dim, n_codes=n_codes
        )
    assigned = assign_centroids(embeddings, centroids, id_col=id_col, vec_col=vec_col)
    probed = _probe_centroids(queries, centroids, nprobe)
    cand = probed.join(
        assigned.select(F.col("vec_id").alias("neighbor_id"), "centroid_id"),
        "centroid_id",
    ).select("query_id", "neighbor_id")
    # ADC over candidates only: LUT broadcast, encoded corpus exploded
    enc = pq_encode(embeddings, codebooks, id_col=id_col, vec_col=vec_col, m=m, dim=dim)
    lut = _pq_expr_lut(
        queries.select("query_id", as_double_array(F.col("embedding")).alias("_v")),
        codebooks, m=m, d=dim // m, keys=("query_id",),
    )
    ecx = enc.select(
        F.col("vec_id").alias("neighbor_id"), F.posexplode("codes").alias("sub", "code_id")
    )
    scored = (
        ecx.join(cand, "neighbor_id", "left_semi")
        .join(F.broadcast(lut), ["sub", "code_id"])
        .join(cand, ["query_id", "neighbor_id"], "left_semi")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("d2"), 6).alias("dist"))
    )
    return _adc_ranked(
        scored, embeddings, queries, k=k, rerank=rerank, id_col=id_col, vec_col=vec_col
    )


def ivfpq_residual_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    dim: int = 64,
    n_codes: int = 16,
    k: int = 5,
    nprobe: int = 2,
    codebooks: DataFrame | None = None,
    rerank: int | None = None,
) -> DataFrame:
    """(query_id, neighbor_id, dist, rank) — IVF-PQ over RESIDUALS,
    the full FAISS-IVFADC form (Jegou et al. 2011 §IV): each vector is
    coded as its offset from its assigned centroid, and a query
    scores bucket members with a PER-PROBED-CENTROID lookup table
    built from the QUERY residual (q − centroid).

    Residual coding is what makes PQ codes cheap on clustered data:
    the coarse quantizer absorbs the between-cluster offsets, so the
    codebooks only need to cover the (much smaller) within-cluster
    spread — same code budget, less quantization error.  The cost is
    an nprobe×-larger LUT per query (still broadcast-sized:
    q × nprobe × m × n_codes doubles) and a join keyed on
    (centroid, sub, code) instead of (sub, code).

    :func:`ivfpq_topk` stays the whole-vector variant (simpler LUT and
    a DuckDB-oracle-friendly shape); this one is tests-pinned
    (quantization-error ordering + planted-neighbor recall).
    """
    if dim % m:
        raise ValueError(f"m={m} must divide dim={dim}")
    d = dim // m
    # module convention: ``vec_col`` names the CORPUS vector column;
    # centroids are (centroid_id, embedding) and queries are
    # (query_id, embedding) — the assign_centroids / pq_topk contracts.
    # Reading vec_col off centroids/queries here would make any
    # non-default vec_col call fail (or silently read a different
    # column than the coarse assignment).
    cent = centroids.select(
        "centroid_id", as_double_array(F.col("embedding")).alias("cv")
    )
    assigned = assign_centroids(embeddings, centroids, id_col=id_col, vec_col=vec_col)
    resid = (
        embeddings.select(F.col(id_col).alias("vec_id"), as_double_array(F.col(vec_col)).alias("v"))
        .join(assigned.select("vec_id", "centroid_id"), "vec_id")
        .join(F.broadcast(cent), "centroid_id")
        .select(
            "vec_id",
            "centroid_id",
            F.zip_with("v", "cv", lambda a, b: a - b).alias("embedding"),
        )
    )
    # lazy-localCheckpoint the residual relation: it is referenced by
    # the codebook derivation, the encode pass, AND the centroid join-
    # back, and each uncached reference re-ran the coarse-assignment
    # kernel + residual subtraction over the corpus (no shared Exchange
    # to reuse).  r13-opt; measured: the pq_topk entry fell from
    # 7.6 -> 3.7 s median at sf0.1 with identical rows.
    resid = resid.localCheckpoint(eager=False)
    if codebooks is None:
        codebooks = pq_codebooks(
            resid.select("vec_id", "embedding"), m=m, dim=dim, n_codes=n_codes
        )
    enc = pq_encode(resid, codebooks, m=m, dim=dim).join(
        resid.select("vec_id", "centroid_id"), "vec_id"
    )
    return _ivfpq_residual_serve(
        enc,
        codebooks,
        centroids,
        queries,
        m=m,
        dim=dim,
        k=k,
        nprobe=nprobe,
        rerank=rerank,
        embeddings=embeddings,
        id_col=id_col,
        vec_col=vec_col,
    )


def _ivfpq_residual_serve(
    enc: DataFrame,
    codebooks: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    *,
    m: int,
    dim: int,
    k: int,
    nprobe: int,
    rerank: int | None = None,
    embeddings: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve stage of residual IVF-PQ, shared by the fused operator
    (:func:`ivfpq_residual_topk`) and the persisted store
    (:class:`IVFPQIndex`): probe nprobe centroids, build the
    per-(query, probed centroid) residual LUT, ADC over the coded
    corpus ``enc`` (vec_id, centroid_id, codes).  Touches only the
    code column of the corpus — raw vectors appear solely in the
    optional exact-rerank second stage."""
    # vec_col is the CORPUS column only (see ivfpq_residual_topk);
    # centroids/queries carry the fixed 'embedding' contract
    cent = centroids.select(
        "centroid_id", as_double_array(F.col("embedding")).alias("cv")
    )
    probed = _probe_centroids(queries, centroids, nprobe)
    # per-(query, probed centroid) residual LUT
    qres = probed.join(F.broadcast(cent), "centroid_id").select(
        "query_id", "centroid_id", F.zip_with("qv", "cv", lambda a, b: a - b).alias("_v")
    )
    lut = _pq_expr_lut(
        qres, codebooks, m=m, d=dim // m, keys=("query_id", "centroid_id")
    )

    ecx = enc.select(
        F.col("vec_id").alias("neighbor_id"), "centroid_id",
        F.posexplode("codes").alias("sub", "code_id"),
    ).join(probed.select("centroid_id").distinct(), "centroid_id", "left_semi")
    # no (query_id, centroid_id) semi against probed here: lut carries
    # one row per PROBED (query, centroid) pair by construction, so the
    # inner join above already enforces that filter — a second semi
    # would only add a join stage to every search
    scored = (
        ecx.join(F.broadcast(lut), ["centroid_id", "sub", "code_id"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("d2"), 6).alias("dist"))
    )
    return _adc_ranked(
        scored, embeddings, queries, k=k, rerank=rerank, id_col=id_col, vec_col=vec_col
    )


class IVFPQIndex:
    """Persisted residual IVF-PQ index — the FAISS ``IndexIVFPQ``
    save/load/serve shape (Jegou et al. 2011 §IV) on parquet tables:
    ``centroids`` (the coarse quantizer, broadcast-sized), residual
    ``codebooks`` (m x n_codes codewords fit on centroid offsets), and
    the coded corpus ``codes`` (vec_id, centroid_id, m-byte codes —
    partitioned by centroid_id at write so a probe reads only its
    buckets' files).  ``build`` pays assignment + residual encoding
    ONCE; ``search`` then probes ``nprobe`` centroids and scores bucket
    members from their STORED codes via per-probed-centroid residual
    LUTs (:func:`_ivfpq_residual_serve`) — the raw vectors never load
    again, which at 100 TB is the point of having coded them (32x less
    I/O, and partition pruning cuts the remainder to ~nprobe/K).
    Results are identical to the fused :func:`ivfpq_residual_topk` on
    the same inputs (parity-pinned).  ``rerank=R`` needs the raw
    ``embeddings`` frame for its exact q x R second stage."""

    def __init__(
        self,
        centroids: DataFrame,
        codebooks: DataFrame,
        codes: DataFrame,
        *,
        m: int,
        dim: int,
    ):
        self.centroids = centroids
        self.codebooks = codebooks
        self.codes = codes
        self.m = m
        self.dim = dim

    @classmethod
    def build(
        cls,
        embeddings: DataFrame,
        centroids: DataFrame,
        *,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        m: int = 8,
        dim: int = 64,
        n_codes: int = 16,
        codebooks: DataFrame | None = None,
    ) -> "IVFPQIndex":
        if dim % m:
            raise ValueError(f"m={m} must divide dim={dim}")
        cent = centroids.select(
            "centroid_id", as_double_array(F.col("embedding")).alias("cv")
        )
        assigned = assign_centroids(
            embeddings, centroids, id_col=id_col, vec_col=vec_col
        )
        resid = (
            embeddings.select(
                F.col(id_col).alias("vec_id"),
                as_double_array(F.col(vec_col)).alias("v"),
            )
            .join(assigned.select("vec_id", "centroid_id"), "vec_id")
            .join(F.broadcast(cent), "centroid_id")
            .select(
                "vec_id",
                "centroid_id",
                F.zip_with("v", "cv", lambda a, b: a - b).alias("embedding"),
            )
        )
        if codebooks is None:
            codebooks = pq_codebooks(
                resid.select("vec_id", "embedding"), m=m, dim=dim, n_codes=n_codes
            )
        codes = pq_encode(resid, codebooks, m=m, dim=dim).join(
            resid.select("vec_id", "centroid_id"), "vec_id"
        )
        return cls(
            centroids.select("centroid_id", "embedding"),
            codebooks,
            codes,
            m=m,
            dim=dim,
        )

    def save(self, path: str) -> None:
        from beyond_vector_search_spark.sources import fsutil

        spark = self.codes.sparkSession
        self.centroids.write.mode("overwrite").parquet(f"{path}/centroids")
        self.codebooks.write.mode("overwrite").parquet(f"{path}/codebooks")
        # Re-saving over an EXISTING store (the documented retrain-on-
        # drift flow) must not leave append artifacts behind: old
        # codes/batch_id>=1 written against the OLD quantizer/codebooks
        # — and _batches markers that would make replayed streaming
        # epochs silently skip — would corrupt the next load's merge.
        # CRASH-SAFE ordering (compact's pattern, not purge-first):
        # write the fresh code log into the NEXT version, clear the
        # epoch markers, cut over with one atomic marker create, then
        # GC — a crash at any step leaves the prior committed codes
        # loadable (replay-marker window caveat: IndexDelta.save).
        # Caveat (documented single-writer rebuild): the
        # quantizer/codebooks above are overwrite-in-place, so a crash
        # between their write and this commit pairs new codebooks with
        # the old committed codes — re-run the rebuild to converge.
        #
        # Two-level code layout: codes-v{N}/batch_id=M/centroid_id=K —
        # the build is batch 0; each later ``append`` gets its own
        # batch directory (retry-idempotent overwrites, the IndexDelta
        # ingest layout), and centroid_id stays a partition column so
        # a search's probed buckets still prune to their own
        # directories.  Readers resolve the highest committed
        # codes-v{N}, so cutover is one marker create, never a rename.
        n = fsutil.next_version(spark, path, "codes")
        self.codes.write.mode("overwrite").partitionBy("centroid_id").parquet(
            f"{path}/codes-v{n}/batch_id=0"
        )
        fsutil.delete(spark, f"{path}/_batches")
        fsutil.commit_version(spark, path, "codes", n)
        fsutil.gc_versions(spark, path, "codes")
        spark.createDataFrame(
            [(self.m, self.dim)], "m INT, dim INT"
        ).write.mode("overwrite").parquet(f"{path}/meta")

    @classmethod
    def load(
        cls, spark, path: str, *, up_to_batch: int | None = None
    ) -> "IVFPQIndex":
        """Load the store.  ``up_to_batch`` is time travel over the
        append-only code log (the IndexDelta.load contract): keep only
        ``batch_id <= N`` — the index exactly as it stood after append
        batch N.  A partition-column filter, so Catalyst prunes the
        newer batch directories at the scan; quantizer and codebooks
        are frozen at build time, so the historical index is exact,
        not an approximation."""
        from beyond_vector_search_spark.sources import fsutil

        meta = spark.read.parquet(f"{path}/meta").first()
        root = fsutil.resolve_version(spark, path, "codes")
        # a retried append REWRITES directories this session may have
        # already listed — drop Spark's cached file listing for the
        # resolved codes root so the new plan sees the files that
        # exist now (compact never rewrites: it commits a NEW root)
        spark.catalog.refreshByPath(root)
        codes = spark.read.parquet(root)
        if up_to_batch is not None:
            codes = codes.where(F.col("batch_id") <= up_to_batch)
        return cls(
            spark.read.parquet(f"{path}/centroids"),
            spark.read.parquet(f"{path}/codebooks"),
            # batch_id is storage layout (which append wrote the row),
            # not index data — partition discovery surfaces it; drop it
            codes.drop("batch_id"),
            m=int(meta["m"]),
            dim=int(meta["dim"]),
        )

    def search(
        self,
        queries: DataFrame,
        *,
        k: int = 5,
        nprobe: int = 2,
        rerank: int | None = None,
        embeddings: DataFrame | None = None,
    ) -> DataFrame:
        return _ivfpq_residual_serve(
            self.codes,
            self.codebooks,
            self.centroids,
            queries,
            m=self.m,
            dim=self.dim,
            k=k,
            nprobe=nprobe,
            rerank=rerank,
            embeddings=embeddings,
        )

    def encode(
        self,
        new_embeddings: DataFrame,
        *,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> DataFrame:
        """(vec_id, codes array<int>, centroid_id) for NEW vectors,
        encoded against the index's FROZEN coarse quantizer and residual
        codebooks — the FAISS ``IndexIVFPQ.add`` step.  Nothing is
        retrained: the new batch assigns to the existing centroids and
        residual-codes with the existing codewords, so every previously
        coded vector keeps its exact code and search over the old corpus
        is bit-unchanged.  (Retraining on corpus drift is a separate,
        deliberate ``build`` — the same contract FAISS gives ``add`` vs
        ``train``.)  Per batch: one kernel assignment pass + one encode
        projection; no shuffle of the existing codes."""
        inc = IVFPQIndex.build(
            new_embeddings,
            self.centroids,
            id_col=id_col,
            vec_col=vec_col,
            m=self.m,
            dim=self.dim,
            codebooks=self.codebooks,
        )
        return inc.codes

    def extend(
        self,
        new_embeddings: DataFrame,
        *,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "IVFPQIndex":
        """A new IVFPQIndex whose coded corpus is this index's codes
        UNION the new batch (``encode``) — quantizer and codebooks
        shared, old codes untouched.  In-session form of the store-level
        :meth:`append`; ids are not checked for collisions (same policy
        as FAISS ``add`` — dedup upstream if ids can repeat)."""
        return IVFPQIndex(
            self.centroids,
            self.codebooks,
            self.codes.unionByName(
                self.encode(new_embeddings, id_col=id_col, vec_col=vec_col)
            ),
            m=self.m,
            dim=self.dim,
        )

    @staticmethod
    def _next_batch_id(spark, path: str) -> int:
        # Hadoop FS listing, not os.listdir: the store lives wherever
        # the parquet does (HDFS/S3A on a cluster), and a local-only
        # probe there would always answer "no batches" and hand out
        # colliding ids (sources/fsutil.py).
        from beyond_vector_search_spark.sources import fsutil

        seen = [
            int(d.split("=", 1)[1])
            for d in fsutil.list_names(
                spark, fsutil.resolve_version(spark, path, "codes")
            )
            if d.startswith("batch_id=")
        ]
        return max(seen, default=-1) + 1

    @classmethod
    def append(
        cls,
        spark,
        path: str,
        new_embeddings: DataFrame,
        *,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        batch_id: int | None = None,
    ) -> "IVFPQIndex":
        """Incrementally ingest a batch into a SAVED store: load the
        frozen quantizer/codebooks from ``path``, encode the batch, and
        write the new codes into their own
        ``codes/batch_id=N/centroid_id=*`` directory (N = next unused
        id, or the caller's ``batch_id``).  Existing batches' files are
        never touched, and a RETRIED batch_id overwrites its own
        directory instead of duplicating rows — layout idempotence,
        exactly the IndexDelta streaming-ingest contract (used by
        streaming.ingest.append_vector_batch).  The 100 TB ingest
        shape: each arriving embedding shard costs one assignment +
        encode pass over the SHARD, never a rebuild or rewrite of the
        store; serving jobs pick the rows up on their next ``load``
        with centroid probe-pruning intact (centroid_id remains a
        partition column inside every batch directory).  Repeated
        appends accumulate one file set per (batch, bucket) — compact
        with ``bvs maintain --ivfpq-dir`` when file counts grow.
        SINGLE-WRITER contract (same as every directory-layout store
        without a coordination service): two concurrent appends with
        auto-assigned ids can claim the same batch directory —
        serialize appends (the streaming sink's foreachBatch already
        does) or pass explicit disjoint ``batch_id``s.
        Returns the re-loaded index."""
        from beyond_vector_search_spark.sources import fsutil

        if batch_id is None:
            batch_id = cls._next_batch_id(spark, path)
        root = fsutil.resolve_version(spark, path, "codes")
        base = cls.load(spark, path)
        base.encode(new_embeddings, id_col=id_col, vec_col=vec_col).write.mode(
            "overwrite"
        ).partitionBy("centroid_id").parquet(f"{root}/batch_id={batch_id}")
        return cls.load(spark, path)

    @classmethod
    def compact(cls, spark, path: str) -> "IVFPQIndex":
        """Fold the accumulated ``codes/batch_id=*`` append directories
        back into a single batch 0 with one file per centroid bucket
        (repartition on centroid_id before the partitioned rewrite →
        each bucket's rows land in a single task).  Same contract as
        ``IndexDelta.compact``: a pure rewrite — rows identical, file
        count shrinks — run it off the ingest path.  Wired into
        ``bvs maintain --ivfpq-dir``.  Any streaming-ingest batch
        markers under ``_batches`` survive, so a replayed old epoch
        cannot re-add rows after the fold.

        Commit protocol is the versioned pointer file, NOT rename
        (sources/fsutil.py): the folded copy is built in full under a
        fresh ``codes-v{N+1}`` directory, then committed by ONE
        atomic marker-file create, then older versions are
        garbage-collected.  A crash at any step leaves a consistent,
        loadable store on every filesystem Spark runs against —
        including S3A, where directory rename is a non-atomic copy
        and the old rename-aside swap was only best-effort."""
        from beyond_vector_search_spark.sources import fsutil

        root = fsutil.resolve_version(spark, path, "codes")
        codes = spark.read.parquet(root).drop("batch_id")
        n = fsutil.next_version(spark, path, "codes")
        codes.repartition("centroid_id").write.mode("overwrite").partitionBy(
            "centroid_id"
        ).parquet(f"{path}/codes-v{n}/batch_id=0")
        fsutil.commit_version(spark, path, "codes", n)
        fsutil.gc_versions(spark, path, "codes")
        return cls.load(spark, path)


def pq_refine_codebooks(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    dim: int = 64,
    n_codes: int = 16,
    iters: int = 10,
    max_train_rows: int = 50_000,
    seed: int = 42,
) -> DataFrame:
    """(sub, code_id, codeword) — PQ codebooks refined with per-subspace
    Lloyd's k-means on a bounded deterministic-hash sample, initialized
    from :func:`pq_codebooks`' head codewords.

    The trained front half of :func:`pq_topk` (same role as
    train_ivf_centroids for IVF): better codeword placement cuts
    quantization error and lifts ADC recall.  The fit collects only the
    sample (<= max_train_rows vectors — centroid quality needs
    distribution shape, not every row) and iterates in numpy on the
    driver; assignment/search stay distributed.  Deterministic given
    (data, seed, iters) but the float-sum iteration order is
    numpy-specific — rows-only territory, like the MLlib fits; pair it
    with pq_topk(codebooks=...) when recall matters more than
    hash-checkability.
    """
    import numpy as np

    from beyond_vector_search_spark.operators.scale import deterministic_sample

    if dim % m:
        raise ValueError(f"m={m} must divide dim={dim}")
    d = dim // m
    n = _estimate_rows(embeddings)
    if n is None:
        n = embeddings.count()
    frac = min(1.0, max_train_rows / max(n, 1))
    sample = embeddings
    if frac < 1.0:
        sample = deterministic_sample(embeddings, key_col=id_col, fraction=frac, seed=seed)
    # sort the sample by id BEFORE stacking: collect() order follows
    # partition layout, and the numpy fit below is row-order sensitive
    # (head-rows init / float-sum means) — unsorted, the learned (and
    # persisted) artifacts would differ across repartitionings despite
    # the seed
    rows = sample.select(
        F.col(id_col).alias("_id"), as_double_array(F.col(vec_col)).alias("_v")
    ).collect()
    rows.sort(key=lambda r: r["_id"])
    X, _ = _stack_rows([r["_v"] for r in rows], dim=dim)
    init = _collect_codebooks(
        pq_codebooks(embeddings, id_col=id_col, vec_col=vec_col, m=m, dim=dim, n_codes=n_codes)
    )
    out = []
    for s in sorted(init):
        C = init[s][0].copy()
        sl = X[:, s * d : (s + 1) * d]
        for _ in range(iters):
            diff = sl[:, None, :] - C[None, :, :]
            assign = np.argmin((diff * diff).sum(axis=2), axis=1)
            for c in range(len(C)):
                mask = assign == c
                if mask.any():
                    C[c] = sl[mask].mean(axis=0)
        out.extend(
            (s, c, [float(x) for x in C[c]]) for c in range(len(C))
        )
    spark = embeddings.sparkSession
    return spark.createDataFrame(out, "sub INT, code_id INT, codeword ARRAY<DOUBLE>")


def opq_train(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    dim: int = 64,
    n_codes: int = 16,
    iters: int = 8,
    lloyd_iters: int = 5,
    max_train_rows: int = 50_000,
    seed: int = 42,
):
    """(rotation R as list-of-lists, codebooks DataFrame) — Optimized
    Product Quantization (Ge et al., CVPR 2013): learn an ORTHOGONAL
    rotation of the embedding space that decorrelates the subspaces
    before product quantization, then fit codebooks in the rotated
    space.

    Plain PQ splits the vector into contiguous subspaces — if variance
    concentrates in a few correlated dimensions (the usual case for
    learned embeddings), some subspaces carry most of the error.  OPQ
    alternates:

        1. fit per-subspace Lloyd's codebooks on X·R, reconstruct X̂
        2. R ← U·Vᵀ from the SVD of Xᵀ·X̂   (orthogonal Procrustes)

    which provably never increases quantization error.  Like
    :func:`pq_refine_codebooks`, the fit runs in numpy on a bounded
    deterministic-hash sample (distribution shape, not every row);
    encode/search stay distributed over the full corpus.  Rows-only
    territory (SVD/float-iteration internals are engine-specific) —
    pinned by tests asserting orthogonality and error ≤ plain PQ.

    Serve with ``rotate_embeddings(df, R)`` → :func:`pq_encode` /
    :func:`pq_topk` over the ROTATED vectors and these codebooks
    (queries rotate with the same R — see :func:`opq_topk`).
    """
    import numpy as np

    from beyond_vector_search_spark.operators.scale import deterministic_sample

    if dim % m:
        raise ValueError(f"m={m} must divide dim={dim}")
    d = dim // m
    n = _estimate_rows(embeddings)
    if n is None:
        n = embeddings.count()
    frac = min(1.0, max_train_rows / max(n, 1))
    sample = embeddings
    if frac < 1.0:
        sample = deterministic_sample(embeddings, key_col=id_col, fraction=frac, seed=seed)
    # sort the sample by id BEFORE stacking: collect() order follows
    # partition layout, and the numpy fit below is row-order sensitive
    # (head-rows init / float-sum means) — unsorted, the learned (and
    # persisted) artifacts would differ across repartitionings despite
    # the seed
    rows = sample.select(
        F.col(id_col).alias("_id"), as_double_array(F.col(vec_col)).alias("_v")
    ).collect()
    rows.sort(key=lambda r: r["_id"])
    X, _ = _stack_rows([r["_v"] for r in rows], dim=dim)

    rng = np.random.default_rng(seed)
    R = np.eye(dim)

    def fit_codebooks(Y: "np.ndarray") -> list["np.ndarray"]:
        books = []
        for s in range(m):
            sl = Y[:, s * d : (s + 1) * d]
            # deterministic init: first n_codes distinct-ish rows
            C = sl[: n_codes].copy()
            if len(C) < n_codes:
                C = np.vstack([C, rng.standard_normal((n_codes - len(C), d))])
            for _ in range(lloyd_iters):
                diff = sl[:, None, :] - C[None, :, :]
                assign = np.argmin((diff * diff).sum(axis=2), axis=1)
                for c in range(n_codes):
                    mask = assign == c
                    if mask.any():
                        C[c] = sl[mask].mean(axis=0)
            books.append(C)
        return books

    def reconstruct(Y: "np.ndarray", books) -> "np.ndarray":
        out = np.empty_like(Y)
        for s in range(m):
            sl = Y[:, s * d : (s + 1) * d]
            C = books[s]
            diff = sl[:, None, :] - C[None, :, :]
            assign = np.argmin((diff * diff).sum(axis=2), axis=1)
            out[:, s * d : (s + 1) * d] = C[assign]
        return out

    books = fit_codebooks(X @ R)
    for _ in range(iters):
        Yhat = reconstruct(X @ R, books)
        U, _, Vt = np.linalg.svd(X.T @ Yhat)
        R = U @ Vt
        books = fit_codebooks(X @ R)

    spark = embeddings.sparkSession
    cb_rows = [
        (s, c, [float(x) for x in books[s][c]])
        for s in range(m)
        for c in range(n_codes)
    ]
    codebooks = spark.createDataFrame(cb_rows, "sub INT, code_id INT, codeword ARRAY<DOUBLE>")
    return [[float(x) for x in row] for row in R], codebooks


def rotate_embeddings(
    embeddings: DataFrame,
    rotation: list[list[float]],
    *,
    vec_col: str = "embedding",
    out_col: str | None = None,
) -> DataFrame:
    """Apply an orthogonal rotation to the embedding column — one numpy
    matmul per Arrow batch (a 64x64 rotation as per-element expressions
    would be 4096 interpreted terms per row).  Narrow, fully lazy; the
    rotation rides into the closure as a broadcast-sized constant."""
    import numpy as np
    import pandas as pd

    Rm = np.asarray(rotation, dtype=np.float64)
    out_col = out_col or vec_col

    # no type annotations: `from __future__ import annotations`
    # stringifies them, which pandas_udf's hint inspection rejects
    def _rot(col):
        M, _ = _stack_rows(col.to_numpy(), dim=Rm.shape[0])
        Y = M @ Rm
        return pd.Series([row.tolist() for row in Y])

    rot = F.pandas_udf(_rot, "array<double>")
    return embeddings.withColumn(out_col, rot(as_double_array(F.col(vec_col))))


def opq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    dim: int = 64,
    n_codes: int = 16,
    k: int = 5,
    rerank: int | None = 50,
    rotation: list[list[float]] | None = None,
    codebooks: DataFrame | None = None,
    **train_kwargs,
) -> DataFrame:
    """OPQ ANN search: rotate corpus AND queries with the learned R,
    then the standard PQ ADC scan (+ optional exact rerank) in the
    rotated space.  Rotation is orthogonal, so exact distances are
    unchanged — the rerank arm reranks with true geometry.

    Pass a trained ``(rotation, codebooks)`` pair to serve; omit to
    train on the fly (bounded sample — see :func:`opq_train`).
    """
    if rotation is None or codebooks is None:
        rotation, codebooks = opq_train(
            embeddings, id_col=id_col, vec_col=vec_col, m=m, dim=dim,
            n_codes=n_codes, **train_kwargs,
        )
    emb_r = rotate_embeddings(embeddings, rotation, vec_col=vec_col)
    # queries carry the fixed (query_id, embedding) shape pq_topk
    # reads — rotating vec_col here would either fail or leave the
    # 'embedding' column UNROTATED against rotated codebooks
    q_r = rotate_embeddings(queries, rotation, vec_col="embedding")
    return pq_topk(
        emb_r, q_r,
        id_col=id_col, vec_col=vec_col,
        m=m, dim=dim, n_codes=n_codes, k=k, rerank=rerank,
        codebooks=codebooks,
    )


def train_ivf_centroids(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    seed: int = 42,
    max_iter: int = 20,
    max_train_rows: int = 100_000,
    train_fraction: float | None = None,
) -> DataFrame:
    """(centroid_id, embedding array<double>) — KMeans-trained IVF
    centroids via MLlib (Lloyd's with k-means|| init).

    The production front half of :func:`ivf_topk`: trained centroids
    track the data distribution, so bucket sizes stay balanced and
    probing nprobe/K of the corpus loses far less recall than with
    arbitrary fixed centroids.  Training fits on a deterministic-hash
    SAMPLE of the corpus (centroid quality needs distribution shape,
    not every row; KMeans at 100 TB must not scan the full table per
    iteration): ``train_fraction`` if given, else auto-sized so at most
    ``max_train_rows`` vectors are fitted.  The sampled id set is a
    pure function of (id, seed) — reproducible across cluster sizes
    (operators.scale.deterministic_sample).  Assignment stays the
    one-map-pass assign_centroids over the FULL corpus.  Deterministic
    given the seed, but the kmeans|| trajectory is Spark-internal —
    rows-only in the oracle catalog.

    centroid_id = position in MLlib's cluster-center array (stable for
    a given fit).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from beyond_vector_search_spark.operators.scale import deterministic_sample

    if train_fraction is None:
        # footer/plan estimate, not a full corpus count job — the same
        # 'sizing must not launch a count' rule the other samplers in
        # this file follow (_estimate_rows falls back to count() only
        # for non-file sources)
        n = _estimate_rows(embeddings)
        if n is None:
            n = embeddings.count()
        train_fraction = min(1.0, max_train_rows / max(n, 1))
    if train_fraction < 1.0:
        embeddings = deterministic_sample(
            embeddings, key_col=id_col, fraction=train_fraction, seed=seed
        )
    train = embeddings.select(
        array_to_vector(as_double_array(F.col(vec_col))).alias("features")
    )
    model = KMeans(k=n_centroids, seed=seed, maxIter=max_iter, featuresCol="features").fit(train)
    spark = embeddings.sparkSession
    centers = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    return spark.createDataFrame(centers, "centroid_id INT, embedding ARRAY<DOUBLE>")


def nndescent_knn_graph(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    iterations: int = 3,
    list_size: int | None = None,
    init_seeds: tuple[int, int] = (1, 2),
    reverse_cap: int | None = None,
    sample_rate: float = 1.0,
) -> DataFrame:
    """(node_id, neighbor_id, cos, rank) — approximate cosine kNN GRAPH
    (every node's top-k neighbors) built by NN-Descent (Dong, Moses &
    Li, WWW 2011, public): start from a cheap blocked initialization,
    then repeatedly refine each node's neighbor list with
    neighbors-of-neighbors — "a neighbor of my neighbor is probably my
    neighbor".  The kNN graph is the backbone structure for graph ANN
    serving, SemDeDup-style diversity pruning, and label propagation.

    Spark shape (every stage is bounded; nothing is ever all-pairs):

    - **init**: two independent hash blockings (deterministic
      ``hash64(seed || id)`` buckets of expected size ~2(L+1), where
      L = ``list_size`` defaults to max(3k, k+10)); the within-bucket
      pair space is O(n·L) rows total — budget the init stage on L,
      not k — scored in one Arrow cosine pass per blocking.
    - **iterate** (``iterations``×): undirect the current graph
      (forward ∪ reverse edges, reverse side capped at
      ``reverse_cap`` — default k — per node by (cos, id) so a hub
      node cannot explode the join), self-join on the shared
      endpoint to propose neighbors-of-neighbors, score NEW pairs
      with the Arrow kernel, merge, keep each node's top-k.  Each
      round is ``localCheckpoint``-ed: the operator is EAGER (runs
      jobs at call time) — iterative lineage would otherwise double
      the plan per round.  Two cost controls from the paper bound the
      candidate volume:

      * **incremental search** (Dong et al. §2.3, the "new"-flag
        optimization): an edge is *new* in round r iff it entered the
        neighbor list in round r-1; a 2-path proposes a candidate only
        when at least ONE of its two edges is new.  Old×old 2-paths
        were already co-resident in the previous round's lists, so
        their candidate was proposed then — re-proposing it every
        round is the naive form's dominant steady-state cost.
      * **list sampling** (``sample_rate`` = the paper's ρ): before
        the 2-path join, each node's undirected adjacency is
        down-sampled to ⌈ρ·L⌉ edges per (node, new-flag) group —
        sampled new AND sampled old, exactly the paper's ρK split.
        The sample is a pure hash order (``hash64(round:node:nbr)``),
        so it is deterministic and oracle-reproducible, not rand().
        Candidate volume per round drops from O(n·(2L)²) toward
        O(n·(2ρL)²); the recall cost is recovered with 1-2 extra (now
        much cheaper) rounds — measured on the synthetic 500-node
        corpus at k=5: ρ=1 reaches 0.94 recall@5 in 3 rounds, ρ=0.5
        gives 0.82 @ 3 rounds, 0.91 @ 4, 0.93 @ 5 (recall test).
    - Determinism: cosines round to 6 (the engine-wide cross-engine
      guard), ranking ties break by ascending neighbor id, the
      candidate sets are pure hash functions of the ids — same graph
      on every run and any partitioning.

    ``list_size`` (default ``max(3k, k+10)``) is the WORKING neighbor
    list kept during iterations — the standard NN-Descent accuracy
    lever: candidates propagate through the longer list, and only the
    final result slices to ``k``.  On the synthetic 64-dim embeddings
    at n=500, k=5: recall@5 0.30 with list_size=k vs 0.97 at the
    default (4 iterations) — measured, see
    tests/test_pipeline_ops.py::test_nndescent_knn_graph_recall.

    Recall vs the exact graph (knn_bruteforce with queries := all
    nodes) is pinned by that test; like every NN-Descent it is
    approximate — disconnected far-off clusters that no blocking
    co-buckets can stay unexplored.

    At 100 TB: per-iteration work is O(n·k²) pair scorings and two
    shuffles (candidate distinct + per-node top-k window, both keyed
    by node id) — linear in corpus size for fixed k, the property that
    makes NN-Descent the standard distributed kNN-graph recipe.
    """
    from beyond_vector_search_spark.functions.hashing import hash64

    if k < 1:
        raise ValueError("k must be >= 1")
    L = list_size if list_size is not None else max(3 * k, k + 10)
    if L < k:
        raise ValueError("list_size must be >= k")
    if not (0.0 < sample_rate <= 1.0):
        raise ValueError("sample_rate must be in (0, 1]")
    rcap = L if reverse_cap is None else reverse_cap
    samp_cap = max(1, math.ceil(sample_rate * L)) if sample_rate < 1.0 else None

    vec = as_double_array(F.col(vec_col))
    nodes = embeddings.select(
        F.col(id_col).alias("node_id"), vec.alias("v"), l2_norm(vec).alias("nrm")
    ).localCheckpoint()
    n_nodes = nodes.count()
    n_buckets = max(1, n_nodes // max(2 * (L + 1), 2))

    # ---- init: within-bucket pairs under two independent blockings ----
    init_pairs = None
    for seed in init_seeds:
        bucketed = nodes.select(
            "node_id",
            F.pmod(
                hash64(F.concat(F.lit(f"{seed}:"), F.col("node_id").cast("string"))),
                F.lit(n_buckets),
            ).alias("_b"),
        )
        p = (
            bucketed.alias("x")
            .join(bucketed.alias("y"), "_b")
            .select(
                F.col("x.node_id").alias("node_id"),
                F.col("y.node_id").alias("neighbor_id"),
            )
            .where(F.col("node_id") != F.col("neighbor_id"))
        )
        init_pairs = p if init_pairs is None else init_pairs.unionByName(p)
    graph = _nnd_topk(_nnd_score(nodes, init_pairs), L).localCheckpoint()

    graph = _nndescent_iterate(
        nodes, graph, iterations=iterations, L=L, rcap=rcap, samp_cap=samp_cap
    )
    return graph.where(F.col("rank") <= k).select(
        "node_id", "neighbor_id", "cos", "rank"
    )


def _nnd_score(nodes: DataFrame, pairs: DataFrame) -> DataFrame:
    """(node_id, neighbor_id) -> + cos (rounded 6, Arrow kernel) against
    a ``nodes`` relation of (node_id, v, nrm)."""
    a = nodes.select(
        F.col("node_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    b = nodes.select(
        F.col("node_id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    joined = pairs.join(a, "node_id").join(b, "neighbor_id")
    return _with_cos_arrow(joined).select(
        "node_id", "neighbor_id", F.round("cos", 6).alias("cos")
    )


def _nnd_topk(scored: DataFrame, L: int) -> DataFrame:
    """Merge duplicate proposals and keep each node's working top-L."""
    w = Window.partitionBy("node_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.groupBy("node_id", "neighbor_id")
        .agg(F.max("cos").alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= L)
    )


def _nndescent_iterate(
    nodes: DataFrame,
    graph: DataFrame,
    *,
    iterations: int,
    L: int,
    rcap: int,
    samp_cap: int | None,
    prev_edges: DataFrame | None = None,
    scoped_topk: bool = False,
) -> DataFrame:
    """The NN-Descent refinement rounds, shared by the full build
    (:func:`nndescent_knn_graph`, ``prev_edges=None`` — every init edge
    counts as new in round 1) and the incremental extend
    (:func:`nndescent_extend`, ``prev_edges=`` the base graph's edges —
    only the inserted batch's edges count as new, so round-1 work is
    proportional to the CHANGE, not the corpus).  Each round is
    localCheckpoint-ed (eager; iterative lazy lineage would double the
    plan per round)."""
    from beyond_vector_search_spark.functions.hashing import hash64

    # prev_edges: g_{r-2}'s edge set, for the "new" flags
    for rnd in range(1, iterations + 1):
        g_edges = graph.select("node_id", "neighbor_id", "cos")
        if prev_edges is None:
            fwd = g_edges.withColumn("new", F.lit(1))
        else:
            fwd = (
                g_edges.join(
                    prev_edges.withColumn("_old", F.lit(1)),
                    ["node_id", "neighbor_id"],
                    "left",
                )
                .withColumn(
                    "new", F.when(F.col("_old").isNull(), F.lit(1)).otherwise(F.lit(0))
                )
                .drop("_old")
            )
        wrev = Window.partitionBy("node_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
        rev = (
            fwd.select(
                F.col("neighbor_id").alias("node_id"),
                F.col("node_id").alias("neighbor_id"),
                "cos",
                "new",
            )
            .withColumn("_r", F.row_number().over(wrev))
            .where(F.col("_r") <= rcap)
            .drop("_r")
        )
        und = (
            fwd.select("node_id", "neighbor_id", "new")
            .unionByName(rev.select("node_id", "neighbor_id", "new"))
            .groupBy("node_id", "neighbor_id")
            .agg(F.max("new").alias("new"))
        )
        if samp_cap is not None:
            wsamp = Window.partitionBy("node_id", "new").orderBy(
                F.asc("_h"), F.asc("neighbor_id")
            )
            und = (
                und.withColumn(
                    "_h",
                    hash64(
                        F.concat(
                            F.lit(f"{rnd}:"),
                            F.col("node_id").cast("string"),
                            F.lit(":"),
                            F.col("neighbor_id").cast("string"),
                        )
                    ),
                )
                .withColumn("_s", F.row_number().over(wsamp))
                .where(F.col("_s") <= samp_cap)
                .drop("_h", "_s")
            )
        # incremental search: a 2-path proposes a candidate only if at
        # least one of its edges is new this round — old×old pairs were
        # co-resident (and thus proposed) in r-1.  Written as the
        # DISJOINT union new×(new∪old) ∪ old×new rather than a full
        # self-join with an OR filter: the OR cannot push into either
        # join input, so the full form's join volume is O(Σdeg²)
        # regardless of how few edges are new — the split's volume is
        # O(new·deg), which is what makes a small-batch extend cost its
        # blast radius instead of the corpus (in the full build's round
        # 1 every edge is new and the split degenerates to the same
        # volume as before).  Same candidate set either way.
        q_side = und.select(
            F.col("node_id").alias("neighbor_id"),
            F.col("neighbor_id").alias("cand_id"),
            F.col("new").alias("qnew"),
        )
        cand = (
            und.where(F.col("new") == 1)
            .alias("p")
            .join(q_side.alias("q"), "neighbor_id")
            .select("p.node_id", "cand_id")
            .unionByName(
                und.where(F.col("new") == 0)
                .alias("p")
                .join(
                    q_side.where(F.col("qnew") == 1).alias("q"), "neighbor_id"
                )
                .select("p.node_id", "cand_id")
            )
            .where(F.col("node_id") != F.col("cand_id"))
            .select("node_id", F.col("cand_id").alias("neighbor_id"))
            .distinct()
        )
        # skip pairs already in the graph (their cos is known; the
        # merge's max() would dedupe anyway, but not scoring them
        # halves the kernel volume once the graph stabilizes)
        fresh = cand.join(
            graph.select("node_id", "neighbor_id"), ["node_id", "neighbor_id"], "left_anti"
        )
        prev_edges = g_edges.select("node_id", "neighbor_id")
        if scoped_topk:
            # scoped re-top (the EXTEND profile): only nodes that
            # received a fresh candidate can change this round —
            # re-rank THEIR merged lists and carry every other node's
            # (node_id, neighbor_id, cos, rank) rows through unchanged.
            # Re-ranking an unchanged list reproduces the same rows, so
            # this is output-identical to the full re-top (pinned by
            # the extend==scoped parity test); with a small batch the
            # window work is blast-radius-sized.  A full BUILD touches
            # nearly every node per round, where the semi/anti joins
            # are pure overhead — builds keep the unconditional re-top.
            touched = fresh.select("node_id").distinct()
            merged = (
                graph.select("node_id", "neighbor_id", "cos")
                .join(touched, "node_id", "semi")
                .unionByName(_nnd_score(nodes, fresh))
            )
            untouched = graph.select(
                "node_id", "neighbor_id", "cos", "rank"
            ).join(touched, "node_id", "left_anti")
            graph = _nnd_topk(merged, L).unionByName(untouched).localCheckpoint()
        else:
            merged = graph.select("node_id", "neighbor_id", "cos").unionByName(
                _nnd_score(nodes, fresh)
            )
            graph = _nnd_topk(merged, L).localCheckpoint()

    return graph


def nndescent_extend(
    base_embeddings: DataFrame,
    new_embeddings: DataFrame,
    graph: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    iterations: int = 3,
    list_size: int | None = None,
    reverse_cap: int | None = None,
    sample_rate: float = 1.0,
    ef: int | None = None,
    search_rounds: int = 2,
    init_seeds: tuple[int, int] = (1, 2),
    scoped_topk: bool = True,
) -> DataFrame:
    """(node_id, neighbor_id, cos, rank) — the kNN graph over
    ``base ∪ new`` maintained INCREMENTALLY from an existing NN-Descent
    graph: the IndexDelta pattern applied to the graph-ANN backbone.
    At 100 TB a corpus grows in ingest batches; rebuilding the graph
    per batch re-pays the full O(n·k²) build (28 s per 40k vectors in
    SCALING.jsonl), while this update's work is proportional to the
    BATCH and its blast radius:

    - **seed** each new vector's neighbor list by beam-searching the
      EXISTING graph (:func:`graph_ann_topk` — per-query work is
      O(rounds·ef·degree), corpus-size independent) plus hash-blocked
      new×new pairs (catches batches forming new clusters the base
      graph cannot reach); reversed copies let base nodes admit new
      neighbors (cosine is symmetric, so the reverse edge carries the
      same score).
    - **refine** with the standard NN-Descent rounds
      (:func:`_nndescent_iterate`) — but ``prev_edges`` starts as the
      BASE graph's edge set, so the incremental-search rule (a 2-path
      must use ≥1 new edge) marks exactly the inserted edges as new:
      old×old base 2-paths are never re-proposed, and round-1 work is
      O(|batch|·k²) + the affected base neighborhoods, not O(n·k²).

    Deterministic end-to-end (hash seeds, rounded cosines, id
    tie-breaks), so extend(A, B) == extend(A, B) exactly; quality vs a
    full rebuild on the union is pinned by test (recall@k within a few
    points).  ``graph`` is :func:`nndescent_knn_graph` output (or a
    previous extend's) over ``base_embeddings``; ids must be disjoint
    from the new batch.  ``list_size``/``reverse_cap``/``sample_rate``
    follow the build's defaults; ``ef`` (default ``list_size``) and
    ``search_rounds`` control the seeding beam search."""
    from beyond_vector_search_spark.functions.hashing import hash64

    if k < 1:
        raise ValueError("k must be >= 1")
    L = list_size if list_size is not None else max(3 * k, k + 10)
    if L < k:
        raise ValueError("list_size must be >= k")
    if not (0.0 < sample_rate <= 1.0):
        raise ValueError("sample_rate must be in (0, 1]")
    rcap = L if reverse_cap is None else reverse_cap
    samp_cap = max(1, math.ceil(sample_rate * L)) if sample_rate < 1.0 else None
    beam_ef = max(ef if ef is not None else L, k)

    vec = as_double_array(F.col(vec_col))
    new_sel = new_embeddings.select(
        F.col(id_col).alias("node_id"), vec.alias("v"), l2_norm(vec).alias("nrm")
    )
    if not new_sel.limit(1).count():
        return graph.where(F.col("rank") <= k).select(
            "node_id", "neighbor_id", "cos", "rank"
        )
    base_sel = base_embeddings.select(
        F.col(id_col).alias("node_id"), vec.alias("v"), l2_norm(vec).alias("nrm")
    )
    nodes = base_sel.unionByName(new_sel).localCheckpoint()
    new_nodes = new_sel.select("node_id").localCheckpoint()
    n_new = new_nodes.count()

    # --- seed: beam-search new vectors against the base graph ---
    seeds = graph_ann_topk(
        base_embeddings,
        new_embeddings.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("embedding")
        ),
        graph,
        id_col=id_col,
        vec_col=vec_col,
        k=min(L, beam_ef),
        ef=beam_ef,
        rounds=search_rounds,
    ).select(
        F.col("query_id").alias("node_id"), "neighbor_id", "cos"
    )

    # --- seed: hash-blocked new×new pairs (two independent blockings,
    # the build's init rule applied to the batch alone) ---
    n_buckets = max(1, n_new // max(2 * (L + 1), 2))
    nn_pairs = None
    for seed in init_seeds:
        bucketed = new_nodes.select(
            "node_id",
            F.pmod(
                hash64(F.concat(F.lit(f"{seed}:"), F.col("node_id").cast("string"))),
                F.lit(n_buckets),
            ).alias("_b"),
        )
        p = (
            bucketed.alias("x")
            .join(bucketed.alias("y"), "_b")
            .select(
                F.col("x.node_id").alias("node_id"),
                F.col("y.node_id").alias("neighbor_id"),
            )
            .where(F.col("node_id") != F.col("neighbor_id"))
        )
        nn_pairs = p if nn_pairs is None else nn_pairs.unionByName(p)
    seed_edges = seeds.unionByName(_nnd_score(nodes, nn_pairs))

    # forward + reversed seeds (base nodes admit new neighbors) merged
    # with the base graph, re-topped to the working list
    base_edges = graph.select("node_id", "neighbor_id", "cos")
    merged = base_edges.unionByName(seed_edges).unionByName(
        seed_edges.select(
            F.col("neighbor_id").alias("node_id"),
            F.col("node_id").alias("neighbor_id"),
            "cos",
        )
    )
    working = _nnd_topk(merged, L).localCheckpoint()

    refined = _nndescent_iterate(
        nodes,
        working,
        iterations=iterations,
        L=L,
        rcap=rcap,
        samp_cap=samp_cap,
        prev_edges=base_edges.select("node_id", "neighbor_id").localCheckpoint(),
        scoped_topk=scoped_topk,
    )
    return refined.where(F.col("rank") <= k).select(
        "node_id", "neighbor_id", "cos", "rank"
    )


def graph_ann_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    graph: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    ef: int = 15,
    rounds: int = 3,
    entry_points: int = 2,
) -> DataFrame:
    """(query_id, neighbor_id, cos, rank) — approximate top-k served by
    BEAM SEARCH over a kNN graph (the HNSW/NSG serving idea on a flat
    graph, public: Malkov & Yashunin 2018 §algorithm-2 greedy search):
    start from fixed entry nodes, repeatedly expand the current beam's
    graph neighbors, score them against the query, keep the best ``ef``
    — after ``rounds`` hops return the best ``k`` ever visited.

    ``graph``: (node_id, neighbor_id, ...) — typically
    :func:`nndescent_knn_graph` output (pass ``list_size`` ≥ ef there:
    a richer graph raises beam recall).  Entry points are the
    ``entry_points`` nodes with the smallest md5-hash — pseudo-random
    but FIXED, so results are deterministic and cross-engine stable
    (rounded cosines, id tie-breaks, fixed hop count — no
    priority-queue races).

    Scale shape: every hop is (beam ⋈ graph edges) keyed on node id +
    one Arrow cosine pass + a per-query top-ef window — the corpus
    never scans (only visited nodes' vectors join in), and the beam
    relation is |queries| × ef rows.  Per-query work is O(rounds · ef ·
    avg_degree) scorings — independent of corpus size, the property
    that makes graph ANN the low-latency serving structure; the graph
    build (NN-Descent) is where the corpus-sized work lives.
    """
    from beyond_vector_search_spark.functions.hashing import hash64

    if k < 1 or ef < k:
        raise ValueError("need k >= 1 and ef >= k")

    vec = as_double_array(F.col(vec_col))
    nodes = embeddings.select(
        F.col(id_col).alias("neighbor_id"), vec.alias("cv"), l2_norm(vec).alias("cn")
    ).localCheckpoint()
    qvec = as_double_array(F.col(vec_col)) if vec_col in queries.columns else None
    q = queries.select(
        "query_id",
        (qvec if qvec is not None else as_double_array(F.col("embedding"))).alias("qv"),
    ).withColumn("qn", l2_norm(F.col("qv")))

    edges = graph.select("node_id", "neighbor_id").localCheckpoint()

    entries = (
        nodes.select("neighbor_id")
        .withColumn(
            "_h", hash64(F.concat(F.lit("ep:"), F.col("neighbor_id").cast("string")))
        )
        .orderBy("_h", "neighbor_id")
        .limit(entry_points)
        .drop("_h")
    )

    def _score(pairs: DataFrame) -> DataFrame:
        """(query_id, neighbor_id) + query vec -> rounded cos."""
        joined = pairs.join(nodes, "neighbor_id").join(q, "query_id")
        return _with_cos_arrow(joined).select(
            "query_id", "neighbor_id", F.round("cos", 6).alias("cos")
        )

    wbeam = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    visited = _score(q.select("query_id").crossJoin(entries)).localCheckpoint()
    beam = visited.withColumn("_r", F.row_number().over(wbeam)).where(
        F.col("_r") <= ef
    ).drop("_r")

    for _ in range(rounds):
        frontier = (
            beam.select("query_id", F.col("neighbor_id").alias("node_id"))
            .join(edges, "node_id")
            .select("query_id", "neighbor_id")
            .join(visited.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"], "left_anti")
            .distinct()
            .localCheckpoint()
        )
        if frontier.isEmpty():
            # beam converged for every query — remaining rounds would
            # each pay an empty _score, a union, and an eager
            # re-checkpoint of the full visited relation for nothing
            break
        scored = _score(frontier)
        visited = visited.unionByName(scored).localCheckpoint()
        beam = visited.withColumn("_r", F.row_number().over(wbeam)).where(
            F.col("_r") <= ef
        ).drop("_r")

    # self-matches excluded by id, the knn_bruteforce rule (queries
    # drawn from the corpus would otherwise retrieve themselves)
    out = visited.where(F.col("query_id") != F.col("neighbor_id"))
    return (
        out.withColumn("rank", F.row_number().over(wbeam))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


class KnnGraphIndex:
    """Persisted NN-Descent kNN-graph store — the :class:`IVFPQIndex`
    save/load/append/compact contract applied to the graph-ANN backbone
    (reference scope note: the reference engine rebuilds everything per
    invocation, run.py:18-23; this store is what makes the graph a
    long-lived serving asset).

    Layout: ``{path}/graph-v{V}/batch_id=N`` parquet + ``{path}/meta``
    (V = compaction epoch, committed via the fsutil pointer protocol).
    Unlike IVFPQ codes (purely additive), an incremental graph update
    (:func:`nndescent_extend`) REWRITES the neighbor lists of affected
    base nodes, so batches are LAST-WRITER-WINS per node: batch N holds
    the full k-row list of every node whose list CHANGED in update N
    (new nodes + the blast radius), and ``load`` keeps each node's
    rows from its highest batch — the same LWW view the telemetry
    state log serves.  Append cost is therefore proportional to the
    batch's blast radius, never the graph; ``up_to_batch`` is exact
    time travel (the graph as it stood after update N).
    """

    def __init__(self, graph: DataFrame, *, k: int):
        self.graph = graph
        self.k = k

    @classmethod
    def build(cls, embeddings: DataFrame, *, k: int = 5, **kw) -> "KnnGraphIndex":
        return cls(nndescent_knn_graph(embeddings, k=k, **kw), k=k)

    def save(self, path: str) -> None:
        from beyond_vector_search_spark.sources import fsutil

        spark = self.graph.sparkSession
        # same stale-store discipline as IVFPQIndex.save: a re-saved
        # (rebuilt) graph must clear old append batches — their node
        # lists would otherwise LWW-shadow the fresh build's.  Same
        # CRASH-SAFE ordering too: write the next graph-v{N}, clear
        # epoch markers, atomic marker-create cutover, then GC — a
        # crash at any step leaves the prior committed graph loadable
        # (purge-first would lose it mid-save; replay-marker window
        # caveat: IndexDelta.save).
        n = fsutil.next_version(spark, path, "graph")
        self.graph.write.mode("overwrite").parquet(f"{path}/graph-v{n}/batch_id=0")
        fsutil.delete(spark, f"{path}/_batches")
        fsutil.commit_version(spark, path, "graph", n)
        fsutil.gc_versions(spark, path, "graph")
        spark.createDataFrame([(self.k,)], "k INT").write.mode("overwrite").parquet(
            f"{path}/meta"
        )

    @classmethod
    def load(
        cls, spark, path: str, *, up_to_batch: int | None = None
    ) -> "KnnGraphIndex":
        from beyond_vector_search_spark.sources import fsutil

        meta = spark.read.parquet(f"{path}/meta").first()
        root = fsutil.resolve_version(spark, path, "graph")
        spark.catalog.refreshByPath(root)
        g = spark.read.parquet(root)
        if up_to_batch is not None:
            g = g.where(F.col("batch_id") <= up_to_batch)
        latest = g.groupBy("node_id").agg(F.max("batch_id").alias("batch_id"))
        current = g.join(latest, ["node_id", "batch_id"]).drop("batch_id")
        return cls(
            current.select("node_id", "neighbor_id", "cos", "rank"),
            k=int(meta["k"]),
        )

    def search(
        self,
        queries: DataFrame,
        embeddings: DataFrame,
        *,
        k: int = 5,
        ef: int = 15,
        rounds: int = 3,
        entry_points: int = 2,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> DataFrame:
        """Beam-search serve from the stored graph
        (:func:`graph_ann_topk`).  ``embeddings`` supplies node
        vectors — the graph persists STRUCTURE only (at 100 TB the
        vectors are the corpus table; duplicating them into the store
        would double it)."""
        return graph_ann_topk(
            embeddings,
            queries,
            self.graph,
            id_col=id_col,
            vec_col=vec_col,
            k=k,
            ef=ef,
            rounds=rounds,
            entry_points=entry_points,
        )

    @classmethod
    def append(
        cls,
        spark,
        path: str,
        base_embeddings: DataFrame,
        new_embeddings: DataFrame,
        *,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        batch_id: int | None = None,
        **extend_kw,
    ) -> "KnnGraphIndex":
        """Incrementally ingest a vector batch into a SAVED graph
        store: load the current LWW view, :func:`nndescent_extend` it
        with the batch, and write ONLY the changed node lists (new
        nodes + rewritten base neighborhoods) into their own
        ``graph/batch_id=N`` directory.  Retried batch ids overwrite
        their own directory — the IVFPQIndex.append idempotence
        contract, including its SINGLE-WRITER caveat (serialize
        appends or pass explicit disjoint batch ids).
        ``base_embeddings`` must cover the store's existing node ids
        (vectors live outside the store, see ``search``); a view over
        the whole corpus is fine — it is restricted to the store's
        node set below."""
        from beyond_vector_search_spark.sources import fsutil

        root = fsutil.resolve_version(spark, path, "graph")
        if batch_id is None:
            seen = [
                int(d.split("=", 1)[1])
                for d in fsutil.list_names(spark, root)
                if d.startswith("batch_id=")
            ]
            batch_id = max(seen, default=-1) + 1
        cur = cls.load(spark, path)
        # restrict base to the store's ACTUAL node set: callers may pass
        # a view over the whole (growing) corpus table, and extend's
        # base∪new node union must not see a batch id twice
        node_ids = cur.graph.select(
            F.col("node_id").alias(id_col)
        ).distinct()
        base = base_embeddings.join(node_ids, id_col, "semi")
        new_graph = nndescent_extend(
            base,
            new_embeddings,
            cur.graph,
            id_col=id_col,
            vec_col=vec_col,
            k=cur.k,
            **extend_kw,
        ).localCheckpoint()
        # changed = any node with a row not present in the old view
        # (a changed list differs in >=1 of its k rows; a new node
        # differs in all of them) — cosines are rounded, ranks exact,
        # so the set difference is float-safe
        changed = (
            new_graph.exceptAll(cur.graph).select("node_id").distinct()
        )
        new_graph.join(changed, "node_id", "semi").write.mode(
            "overwrite"
        ).parquet(f"{root}/batch_id={batch_id}")
        return cls.load(spark, path)

    @classmethod
    def compact(cls, spark, path: str) -> "KnnGraphIndex":
        """Fold the LWW batch directories into a single batch 0 holding
        the current view (rows identical to ``load`` before/after —
        the maintain-time rewrite, same versioned pointer-file commit
        as IVFPQIndex.compact: build graph-v{N+1} in full, commit with
        one atomic marker create, GC older versions — crash-safe on
        any filesystem, including S3A)."""
        from beyond_vector_search_spark.sources import fsutil

        cur = cls.load(spark, path)
        n = fsutil.next_version(spark, path, "graph")
        cur.graph.write.mode("overwrite").parquet(f"{path}/graph-v{n}/batch_id=0")
        fsutil.commit_version(spark, path, "graph", n)
        fsutil.gc_versions(spark, path, "graph")
        return cls.load(spark, path)
