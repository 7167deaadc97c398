"""Graph analytics over document/embedding similarity graphs.

PageRank over a kNN similarity graph is the standard "centrality as
data value" signal for training-data selection and dedup triage
(representative documents rank high; isolated junk ranks low) and the
relational form of the random-walk diffusion used by graph-based label
propagation.  The reference engine (mick2004/beyond-vector-search) has
no graph surface; this composes with the engine's own kNN operators:

- edge list from :func:`knn_edges` (exact brute-force cosine top-k —
  the oracle-able construction) or from
  ``similarity.nndescent_knn_graph`` (the approximate 100 TB path; any
  (src, dst) relation works);
- :func:`pagerank` runs a fixed number of power-iteration steps, each
  ONE join + ONE aggregation shuffle.  At scale, pre-partition the
  edge list by ``src`` once (it is iteration-invariant) and the
  per-iteration join co-locates with the rank relation's previous
  aggregation; the rank relation is node-sized, never edge-sized.

Determinism contract — fixed-point INTEGER arithmetic, not rounded
floats: ranks are maintained as BIGINT units of 1e-9 and every
operation in the iteration is exact integer math (integer division by
out-degree, an exact-fraction damping multiply, integer sums).  The
per-step float-rounding alternative (the NN-Descent rounded-cosine
rule) is NOT safe here: with damping 0.85 the exact decimal value of
``d·Σ(rank/od)`` lands exactly ON the 1e-9 rounding half-boundary for
~10% of node-steps (0.85 × multiples of 2e-10 ≡ 5e-10 mod 1e-9), so
engine-level last-bit noise decides the rounding direction —
observed as a real sf0.001 hash mismatch before the integer rewrite.
Integer fixpoint arithmetic has no boundaries to disagree on; it is
also how production web-graph PageRank avoids cross-run drift.
Dangling mass is not redistributed (kNN graphs have uniform
out-degree, so nothing dangles); nodes with no in-links settle at
(1-d)/N; truncation from the integer divisions leaks < N·1e-9 mass
per step (irrelevant at 1e-9 scale, identical on both engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def knn_edges(
    embeddings: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(src, dst) — the exact cosine kNN digraph over an embedding
    relation (self-matches excluded, ties broken by rounded-cos DESC,
    id ASC — similarity.knn_bruteforce's contract).  Exact all-pairs is
    the oracle-able construction; swap in nndescent_knn_graph's edges
    for the approximate scale path."""
    from beyond_vector_search_spark.operators import similarity as sim

    q = embeddings.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("embedding")
    )
    nn = sim.knn_bruteforce(embeddings, q, id_col=id_col, vec_col=vec_col, k=k)
    return nn.select(F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst"))


RANK_SCALE = 1_000_000_000  # 1e-9 fixed-point units


def _damping_fraction(damping: float) -> tuple[int, int]:
    """Exact integer fraction of the damping factor (from its decimal
    string, so 0.85 → 17/20 — never the float's binary expansion)."""
    from fractions import Fraction

    frac = Fraction(str(damping)).limit_denominator(10_000)
    return frac.numerator, frac.denominator


def pagerank(
    edges: DataFrame,
    *,
    n_iter: int = 5,
    damping: float = 0.85,
    materialize: bool = True,
    seeds: DataFrame | None = None,
    checkpoint_every: int | None = 8,
) -> DataFrame:
    """(id, rank_units, rank, in_deg) — PageRank after ``n_iter``
    power-iteration steps over an (src, dst) edge relation (Page et
    al. 1999), in 1e-9 fixed-point integer units:

        u_{t+1}(v) = ((1-d)·S div d_den·…) div N
                   + (d_num · Σ_{u→v} (u_t(u) div od(u))) div d_den

    with S = 1e9 and damping = d_num/d_den exactly.  ``rank`` is the
    float view ``round(rank_units/1e9, 9)`` for human consumption; the
    BIGINT ``rank_units`` column is the bit-exact result.

    Plan shape per iteration: (edges ∪ per-node pseudo-edges) ⋈ rank
    on src (the rank side arrives hash(id)-partitioned from the
    previous aggregation and its id→src alias keeps it co-partitioned
    — no exchange), then ONE aggregation shuffle on dst that also
    folds in the teleport/base term via the pseudo-edges (no per-step
    node join, no second union branch — see the loop comment).  N is
    a broadcast 1-row aggregate folded in lazily (no eager count —
    plan construction launches no job).  All intermediates are
    node-sized except the edge join, which streams.  For deep
    iteration counts, localCheckpoint the rank relation every few
    steps — lineage grows linearly with ``n_iter``.

    ``materialize=True`` (default) lazily localCheckpoints the edge
    list: Catalyst does not share subtrees, so with a derived edge
    relation (e.g. :func:`knn_edges`) the uncached plan re-runs the
    whole edge construction once PER ITERATION per consumer (the plan
    audit showed ~22 embedding scans for 5 iterations) — checkpointed,
    the edges compute once and every iteration reads the materialized
    blocks.  Lazy (``eager=False``), so plan construction still
    launches no job.  Pass ``materialize=False`` when the caller
    already persists the edges (parquet table, cached relation).

    ``seeds`` (optional 1-column id relation) makes this PERSONALIZED
    PageRank: the teleport mass lands only on the seed set (uniform
    over seeds∩nodes) instead of all nodes, and the walk starts there —
    the seed-expansion selection technique ("find corpus regions like
    my curated examples", the graph analogue of DSIR's target-sample
    weighting).  Seeds absent from the graph are ignored.
    """
    d_num, d_den = _damping_fraction(damping)
    base_units = ((d_den - d_num) * RANK_SCALE) // d_den  # (1-d)·1e9, exact
    edges = edges.select("src", "dst")
    if materialize:
        edges = edges.localCheckpoint(eager=False)
    nodes = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("od"))
    if seeds is None:
        nn = nodes.agg(F.count("*").cast("long").alias("n"))
        basis = nodes.crossJoin(F.broadcast(nn)).select(
            "id",
            F.expr(f"CAST({RANK_SCALE} AS BIGINT) div n").alias("u0"),
            F.expr(f"CAST({base_units} AS BIGINT) div n").alias("bu"),
        )
    else:
        sd = (
            seeds.select(F.col(seeds.columns[0]).alias("id"))
            .distinct()
            .join(nodes, "id", "semi")
        )
        ns = sd.agg(F.count("*").cast("long").alias("n"))
        basis = (
            nodes.join(sd.withColumn("is_seed", F.lit(True)), "id", "left")
            .crossJoin(F.broadcast(ns))
            .select(
                "id",
                F.expr(
                    f"CASE WHEN is_seed THEN CAST({RANK_SCALE} AS BIGINT) div n "
                    "ELSE CAST(0 AS BIGINT) END"
                ).alias("u0"),
                F.expr(
                    f"CASE WHEN is_seed THEN CAST({base_units} AS BIGINT) div n "
                    "ELSE CAST(0 AS BIGINT) END"
                ).alias("bu"),
            )
        )
    if materialize:
        # node-sized relations read once per iteration — checkpoint so
        # the union-distinct / degree / seed shuffles run once, not
        # n_iter x
        basis = basis.localCheckpoint(eager=False)
        deg = deg.localCheckpoint(eager=False)
    rank = basis.select("id", F.col("u0").alias("u"))
    # The teleport/base term is folded INTO the per-iteration
    # aggregation — no node-sized join or second union branch per step.
    # Mechanism: augment the iteration-invariant (src, dst, od) table
    # with one PSEUDO-EDGE per node (src = dst = id, od = 2^62,
    # bu = the node's base units).  In the iteration the pseudo edge
    # joins the node's own rank like any edge, but ``u div 2^62`` is
    # exactly 0 for every reachable magnitude (u ≤ ~1e9+ units), so it
    # contributes zero mass and exactly one bu row, and ONE groupBy
    # computes
    #     u = (d_num · Σ c) div d_den + Σ bu
    # — integer-exact identical to basis ⟕ contrib.  Per iteration:
    # one join-map stage + one aggregation shuffle, nothing else.  The
    # rank side of the src join needs no exchange — it leaves the
    # previous aggregation hash(id)-partitioned and the id→src alias
    # preserves the co-partitioning statically.  Pseudo edges also
    # guarantee every node (including ones with no in-links) stays in
    # the rank relation each step.
    _ZERO_OD = 1 << 62  # u div 2^62 == 0 for all u in range
    pseudo = basis.select(
        F.col("id").alias("src"),
        F.col("id").alias("dst"),
        F.lit(_ZERO_OD).cast("long").alias("od"),
        F.col("bu"),
    )
    ed = (
        edges.join(deg, "src")
        .withColumn("bu", F.lit(0).cast("long"))
        .unionByName(pseudo)
    )
    if materialize:
        # iteration-invariant — checkpoint so the edges+degree+pseudo
        # derivation computes once, and the per-iteration exchange over
        # the materialized blocks is byte-identical every step (runtime
        # exchange reuse dedups it under AQE).  Audit reconciliation
        # (r9 "8 shuffles" vs r10 PLANS.md "10"): the STATIC plan for 5
        # iterations shows 10 exchanges (5 aggs + 4 ed + 1 in-degree);
        # AQE reuses the identical ed exchanges at RUNTIME, so ~8
        # shuffle stages actually execute — both layers are pinned by
        # tests/test_graph.py::test_pagerank_plan_shape_pinned.
        ed = ed.localCheckpoint(eager=False)
    for it in range(int(n_iter)):
        if checkpoint_every and it and it % int(checkpoint_every) == 0:
            # plan depth grows linearly with iterations (3 operators
            # per step); truncate the lineage periodically so deep
            # convergence runs keep constant analysis cost — the
            # node-sized rank relation is cheap to materialize
            rank = rank.localCheckpoint(eager=False)
        rank = (
            ed.join(rank.withColumnRenamed("id", "src"), "src")
            .select(
                F.col("dst").alias("id"),
                F.expr("u div od").alias("c"),
                "bu",
            )
            .groupBy("id")
            .agg(
                F.expr(f"({d_num} * sum(c)) div {d_den} + sum(bu)").alias("u")
            )
        )
    indeg = edges.groupBy(F.col("dst").alias("id")).agg(
        F.count("*").cast("long").alias("in_deg")
    )
    return (
        rank.join(indeg, "id", "left")
        .select(
            "id",
            F.col("u").cast("long").alias("rank_units"),
            F.round(F.col("u") / F.lit(float(RANK_SCALE)), 9).alias("rank"),
            F.coalesce(F.col("in_deg"), F.lit(0).cast("long")).alias("in_deg"),
        )
    )
