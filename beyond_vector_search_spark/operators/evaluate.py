"""Offline evaluation loop: batch scoring + ordered feedback fold.

Reference evaluate.py:16-116 loops queries sequentially, rebuilding
nothing but mutating router weights between queries.  The Spark shape
(SURVEY.md §3.2): ALL heavy work — 3 strategies × all labels scoring,
answer generation, hit@k / exact-match — runs as ONE batch dataflow;
the only sequential piece, the K-row winner->weight trajectory, is
folded on the driver in label order.  The fold is driver-side by
design: the report it produces (``EvalReport.per_query``) holds one
row per label, so the labels are driver-sized anyway, and only one
tiny row per labeled query crosses to the driver.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from beyond_vector_search_spark.config import DEFAULT, EngineConfig
from beyond_vector_search_spark.functions.text import norm_answer
from beyond_vector_search_spark.operators.answer import generate_answers
from beyond_vector_search_spark.operators.corpus_index import CorpusIndex
from beyond_vector_search_spark.operators.retrieval import search_all
from beyond_vector_search_spark.operators.router import (
    RouterState,
    choose_with_state,
    delta_units,
    heuristic_columns,
    query_features,
)

HIT_WEIGHT, EM_WEIGHT = 0.7, 0.3  # reference evaluator.py:13-16
ARMS = ("vector", "keyword", "hybrid")


def _scored(joined: DataFrame, *keys: str) -> DataFrame:
    """hit@k / exact match / weighted total over answers joined to
    their labels (reference evaluator.py:19-40)."""
    hit = F.when(
        F.array_contains("top_doc_ids", F.col("expected_doc_id").cast("string")), 1.0
    ).otherwise(0.0)
    em = F.when(norm_answer("answer") == norm_answer("expected_answer"), 1.0).otherwise(0.0)
    return joined.select(
        *keys,
        hit.alias("hit_at_k"),
        em.alias("exact_match"),
        (HIT_WEIGHT * hit + EM_WEIGHT * em).alias("total"),
        "top_doc_ids",
    )


def strategy_eval(
    top_k: DataFrame,
    documents: DataFrame,
    labels: DataFrame,
    *,
    id_col: str = "doc_id",
    title_col: str | None = "title",
    text_col: str = "text",
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """(query_id, hit_at_k, exact_match, total, top_doc_ids) for one
    strategy's top-k relation — the single-strategy definition that
    :func:`strategy_eval_tagged` computes for all strategies at once."""
    ans = generate_answers(
        top_k, documents, labels.select("query_id", "query"),
        id_col=id_col, title_col=title_col, text_col=text_col, cfg=cfg,
    )
    return _scored(
        ans.join(labels.select("query_id", "expected_doc_id", "expected_answer"), "query_id"),
        "query_id",
    )


def tag_union(parts: dict[str, DataFrame], *cols: str) -> DataFrame:
    """Union per-strategy relations into one, keyed by a composite
    ``"{tag}|{query_id}"`` id (``cols`` ride along unchanged).  One
    :func:`generate_answers` pass over the tagged union of the top-k
    relations and of the queries answers every strategy at once;
    :func:`strategy_eval_tagged` splits the key back apart."""
    out = None
    for tag, df in parts.items():
        part = df.select(F.concat(F.lit(tag + "|"), F.col("query_id")).alias("query_id"), *cols)
        out = part if out is None else out.unionByName(part)
    return out


def strategy_eval_tagged(
    answers_tagged: DataFrame, labels: DataFrame, tags: tuple[str, ...]
) -> DataFrame:
    """All strategies' eval metrics in ONE relation: ``answers_tagged``
    is a :func:`generate_answers` output over :func:`tag_union` inputs.
    Splits the composite key, keeps only ``tags`` rows, and scores them
    with the :func:`strategy_eval` expressions over ONE labels join
    instead of one join per strategy.  Returns (tag, query_id,
    hit_at_k, exact_match, total, top_doc_ids)."""
    split = answers_tagged.select(
        F.substring_index("query_id", "|", 1).alias("tag"),
        F.expr("substring(query_id, instr(query_id, '|') + 1)").alias("query_id"),
        "answer",
        "top_doc_ids",
    ).where(F.col("tag").isin(*tags))
    j = split.join(
        labels.select("query_id", "expected_doc_id", "expected_answer"), "query_id"
    )
    return _scored(j, "tag", "query_id")


@dataclass
class EvalReport:
    mean_score: float
    n: int
    router_state: dict
    per_query: list[dict] = field(default_factory=list)

    def to_json(self) -> dict:
        return {
            "mean_score": self.mean_score,
            "n": self.n,
            "router_state": self.router_state,
            "per_query": self.per_query,
        }


def _fold(rows: list[dict], state: RouterState) -> tuple[list[dict], RouterState]:
    """The ordered feedback fold (reference evaluate.py:59-69 +
    router.py:120-164) over per-query score rows in query_id order:
    route each row with the weights so far, then apply its bandit
    update.  Returns (per_query, final_state).

    Weights accumulate as INTEGER multiples of lr/2
    (:func:`router.delta_units`) with ONE multiply per step
    (w0 + units*(lr/2)), so no rounding error builds up along the
    trajectory for any lr; for the reference lr=0.25 this is also
    bit-identical to the reference's sequential float adds (all
    quantities are exact powers of two)."""
    w0 = (state.weight_vector, state.weight_keyword, state.weight_hybrid)
    half_lr = state.lr / 2.0
    units = {"vector": 0, "keyword": 0, "hybrid": 0}
    per_query: list[dict] = []
    for d in rows:
        chosen = choose_with_state(d, state)
        scores = {"vector": d["s_vec"], "keyword": d["s_key"], "hybrid": d["s_hyb"]}
        for name, m in delta_units(scores).items():
            units[name] += m
        state = RouterState(
            weight_vector=w0[0] + units["vector"] * half_lr,
            weight_keyword=w0[1] + units["keyword"] * half_lr,
            weight_hybrid=w0[2] + units["hybrid"] * half_lr,
            lr=state.lr,
        )
        per_query.append(
            {
                "query_id": d["query_id"],
                "query": d["query"],
                "chosen": chosen,
                "chosen_score": scores[chosen],
                "vector_score": d["s_vec"],
                "keyword_score": d["s_key"],
                "hybrid_score": d["s_hyb"],
            }
        )
    return per_query, state


# the collected fold rows' telemetry columns, rebuilt driver-side into
# runs_df (query_id as the labels carry it; feature and arm columns as
# router.query_features / strategy_eval_tagged produce them)
_RUNS_SCHEMA = (
    "query STRING, strategy STRING, score DOUBLE, query_id STRING, "
    "n_tokens INT, digit_ratio DOUBLE, oov_ratio DOUBLE, rare_ratio DOUBLE, "
    "s_vec DOUBLE, ids_vec ARRAY<STRING>, s_key DOUBLE, ids_key ARRAY<STRING>, "
    "s_hyb DOUBLE, ids_hyb ARRAY<STRING>"
)


def evaluate_all(
    labels: DataFrame,
    documents: DataFrame,
    index: CorpusIndex,
    *,
    state: RouterState | None = None,
    id_col: str = "doc_id",
    title_col: str | None = "title",
    text_col: str = "text",
    cfg: EngineConfig = DEFAULT,
    k: int | None = None,
    tops: dict[str, DataFrame] | None = None,
    evals_tagged: DataFrame | None = None,
    with_runs: bool = True,
) -> tuple[EvalReport, RouterState, DataFrame]:
    """Run the full evaluation; returns (report, final_state, runs_df).

    ``runs_df`` is the telemetry relation (one row per query, reference
    evaluate.py:71-100) ready for the telemetry sink.  Query order for
    the feedback fold = ascending query_id (the labels file is ordered
    Q-001.. so file order == query_id order).

    The three strategies' top-k relations (``tops``, {strategy: top-k
    DataFrame}, e.g. cached :class:`operators.serving.ServingArms`
    relations; default :func:`retrieval.search_all`) are answered in
    ONE :func:`generate_answers` pass over their :func:`tag_union` and
    scored by :func:`strategy_eval_tagged`.  A caller that already holds
    that scored relation passes it as ``evals_tagged`` instead
    (plans/coverage_queries.q_eval_loop).  ``with_runs=False`` skips
    building ``runs_df`` (returned as None).
    """
    state = state or RouterState()
    k = k if k is not None else cfg.k
    queries = labels.select("query_id", "query")

    feats = heuristic_columns(query_features(queries, index.term_stats))

    if evals_tagged is None:
        tops = tops or search_all(queries, index, k=k, cfg=cfg)
        answers = generate_answers(
            tag_union(tops, "doc_id", "rank"),
            documents,
            tag_union({s: queries for s in ARMS}, "query"),
            id_col=id_col, title_col=title_col, text_col=text_col, cfg=cfg,
        )
        evals_tagged = strategy_eval_tagged(answers, labels, ARMS)
    # One tiny row per query: all three arms' scores + routing
    # heuristics, the tag pivoted into the arm columns (one aggregation
    # + one join).
    short = {"vector": "vec", "keyword": "key", "hybrid": "hyb"}
    wide = (
        evals_tagged.groupBy("query_id")
        .pivot("tag", list(short))
        .agg(F.first("total").alias("s"), F.first("top_doc_ids").alias("ids"))
    )
    for name, sh in short.items():
        wide = wide.withColumnRenamed(f"{name}_s", f"s_{sh}").withColumnRenamed(
            f"{name}_ids", f"ids_{sh}"
        )
    # a query missing one strategy's row pivots to NULL arm columns,
    # which the fold cannot score: drop it, as an inner join per
    # strategy would
    merged = feats.join(wide, "query_id").where(
        F.col("s_vec").isNotNull() & F.col("s_key").isNotNull() & F.col("s_hyb").isNotNull()
    )
    # Sort on the DRIVER, not with a plan-level orderBy: the rows are
    # already driver-sized (that's what collect means), and a global
    # sort plans a rangepartitioning exchange plus its sampling job per
    # call.  Python's str sort compares code points == UTF8 byte order,
    # so the fold order is identical to Spark's ORDER BY query_id.
    rows = sorted((r.asDict() for r in merged.collect()), key=lambda d: d["query_id"])
    per_query, state = _fold(rows, state)

    n = len(rows)
    report = EvalReport(
        mean_score=sum(q["chosen_score"] for q in per_query) / max(1, n),
        n=n,
        router_state=state.to_json(),
        per_query=per_query,
    )
    if not with_runs:
        return report, state, None
    # runs_df from the rows the fold already collected: a local relation,
    # so writing it re-executes none of the scoring plan
    chosen_df = labels.sparkSession.createDataFrame(
        [
            (q["query"], q["chosen"], q["chosen_score"], q["query_id"],
             *(d[c] for c in ("n_tokens", "digit_ratio", "oov_ratio", "rare_ratio",
                              "s_vec", "ids_vec", "s_key", "ids_key", "s_hyb", "ids_hyb")))
            for q, d in zip(per_query, rows)
        ],
        _RUNS_SCHEMA,
    )
    # Rich telemetry meta (reference evaluate.py:71-100) built JVM-side
    # with to_json(struct(...)) — features, per-arm scores, top doc ids.
    meta = F.to_json(
        F.struct(
            F.lit(True).alias("eval"),
            F.col("query_id"),
            F.struct(
                F.col("n_tokens"), F.col("digit_ratio"), F.col("oov_ratio"), F.col("rare_ratio")
            ).alias("features"),
            F.struct(F.col("s_vec").alias("score_total"), F.col("ids_vec").alias("top_doc_ids")).alias("vector"),
            F.struct(F.col("s_key").alias("score_total"), F.col("ids_key").alias("top_doc_ids")).alias("keyword"),
            F.struct(F.col("s_hyb").alias("score_total"), F.col("ids_hyb").alias("top_doc_ids")).alias("hybrid"),
        )
    )
    runs_df = chosen_df.select(
        "query", "strategy", "score", "query_id", meta.alias("meta_json")
    ).withColumn("ts_unix", F.unix_timestamp(F.current_timestamp()).cast("double"))
    return report, state, runs_df
