"""Adaptive routing as column expressions + a tiny ordered state fold.

The reference router (router.py:64-118) is per-query Python; here the
feature extraction and the heuristic scoring are pure column arithmetic
over a *batch* of queries, and the learned weights ride in as a 1-row
broadcast DataFrame.  The only sequential piece of the whole engine —
the bandit weight update (router.py:120-164), where query i's routing
sees weights produced by queries 1..i-1 — is an ordered fold over a
K-row table (K = #labels), done on the driver after all heavy scoring
ran as one batch job (SURVEY.md §3.2).
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from beyond_vector_search_spark.functions.text import tokenize

STATE_KEY = "router_state:v1"  # reference router.py:50
STRATEGIES = ("vector", "keyword", "hybrid")


@dataclass(frozen=True)
class RouterState:
    """Learned additive biases (reference router.py:10-16)."""

    weight_vector: float = 0.0
    weight_keyword: float = 0.0
    weight_hybrid: float = 0.0
    lr: float = 0.25

    def to_json(self) -> dict:
        return {
            "weight_vector": self.weight_vector,
            "weight_keyword": self.weight_keyword,
            "weight_hybrid": self.weight_hybrid,
            "lr": self.lr,
        }

    @classmethod
    def from_json(cls, obj: dict) -> "RouterState":
        return cls(
            weight_vector=float(obj.get("weight_vector", 0.0)),
            weight_keyword=float(obj.get("weight_keyword", 0.0)),
            weight_hybrid=float(obj.get("weight_hybrid", 0.0)),
            lr=float(obj.get("lr", 0.25)),
        )

    def as_df(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(
            [(self.weight_vector, self.weight_keyword, self.weight_hybrid, self.lr)],
            "weight_vector DOUBLE, weight_keyword DOUBLE, weight_hybrid DOUBLE, lr DOUBLE",
        )


def query_features(queries: DataFrame, term_stats: DataFrame) -> DataFrame:
    """(query_id, query, n_tokens, digit_ratio, oov_ratio, rare_ratio) —
    reference text.py:32-41.

    Ratios count token OCCURRENCES (duplicates included).  Vocab/rare
    membership is resolved by exploding the query tokens and broadcast
    LEFT-joining ``term_stats`` — this scales past driver-sized
    vocabularies (no collected set), the join side being the per-query
    token list which is tiny.  Empty queries get all-zero features
    (text.py:35-36), via the left join back to ``queries``.
    """
    toks = queries.select("query_id", "query", tokenize("query").alias("toks"))
    exploded = toks.select("query_id", F.explode("toks").alias("term"))
    counts = (
        exploded.join(F.broadcast(term_stats.select("term", "is_rare")), "term", "left")
        .groupBy("query_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("term").rlike("[0-9]"), 1).otherwise(0)).alias("n_digit"),
            F.sum(F.when(F.col("is_rare").isNull(), 1).otherwise(0)).alias("n_oov"),
            F.sum(F.when(F.col("is_rare") == True, 1).otherwise(0)).alias("n_rare"),  # noqa: E712
        )
    )
    n = F.col("n_tokens")
    return (
        queries.join(counts, "query_id", "left")
        .select(
            "query_id",
            "query",
            F.coalesce(n, F.lit(0)).cast("int").alias("n_tokens"),
            F.coalesce(F.col("n_digit") / n, F.lit(0.0)).alias("digit_ratio"),
            F.coalesce(F.col("n_oov") / n, F.lit(0.0)).alias("oov_ratio"),
            F.coalesce(F.col("n_rare") / n, F.lit(0.0)).alias("rare_ratio"),
        )
    )


def heuristic_columns(features: DataFrame) -> DataFrame:
    """Adds heuristic_{keyword,vector,hybrid} (reference router.py:71-92).

    Pure constant arithmetic — Catalyst constant-folds the weights."""
    hk = (
        1.25 * F.col("digit_ratio")
        + 1.00 * F.col("oov_ratio")
        + 1.25 * F.col("rare_ratio")
        + F.when(F.col("n_tokens") <= 3, 0.10).otherwise(0.0)
    )
    hv = 0.50 * (1.0 - F.least(F.lit(1.0), F.col("oov_ratio") + F.col("rare_ratio")))
    boost = (
        F.when((F.col("digit_ratio") >= 0.12) & (F.col("n_tokens") >= 5), 0.45)
        .when((F.col("digit_ratio") > 0.0) & (F.col("n_tokens") >= 4), 0.25)
        .otherwise(0.0)
    )
    df = features.withColumn("heuristic_keyword", hk).withColumn("heuristic_vector", hv)
    hh = (
        0.45 * F.col("heuristic_keyword")
        + 0.45 * F.col("heuristic_vector")
        + 0.10 * (1.0 - F.abs(F.col("oov_ratio") - F.col("rare_ratio")))
        + boost
    )
    return df.withColumn("heuristic_hybrid", hh)


def route(features: DataFrame, state: RouterState) -> DataFrame:
    """Adds score_* and the chosen ``strategy`` (reference router.py:94-105).

    Tie precedence hybrid >= keyword >= vector is an explicit CASE chain
    (``greatest`` would lose the precedence order)."""
    scored = (
        heuristic_columns(features)
        .withColumn("score_keyword", F.col("heuristic_keyword") + F.lit(state.weight_keyword))
        .withColumn("score_vector", F.col("heuristic_vector") + F.lit(state.weight_vector))
        .withColumn("score_hybrid", F.col("heuristic_hybrid") + F.lit(state.weight_hybrid))
    )
    strategy = (
        F.when(
            (F.col("score_hybrid") >= F.col("score_keyword"))
            & (F.col("score_hybrid") >= F.col("score_vector")),
            "hybrid",
        )
        .when(F.col("score_keyword") >= F.col("score_vector"), "keyword")
        .otherwise("vector")
    )
    return scored.withColumn("strategy", strategy)


def choose_with_state(
    heuristics_row: dict, state: RouterState
) -> str:
    """Driver-side choose for the sequential eval fold: same CASE chain as
    :func:`route`, applied to one precomputed heuristics row."""
    sk = heuristics_row["heuristic_keyword"] + state.weight_keyword
    sv = heuristics_row["heuristic_vector"] + state.weight_vector
    sh = heuristics_row["heuristic_hybrid"] + state.weight_hybrid
    if sh >= sk and sh >= sv:
        return "hybrid"
    if sk >= sv:
        return "keyword"
    return "vector"


def delta_units(scores: dict[str, float]) -> dict[str, int]:
    """One bandit update's deltas as INTEGER multiples of lr/2
    (reference router.py:120-164 with 3 arms: winner +lr == +2 units,
    each of the 2 losers −lr/2 == −1 unit; all-tied → all 0).

    Integer units make accumulation associativity-free: the eval fold
    (evaluate._fold) and the DuckDB oracle's prefix sum
    (plans/coverage_queries._EVAL_LOOP_SQL) sum units in their own
    order and multiply once, so the two can never drift by an ulp for
    any lr value."""
    if not scores:
        return {}
    vals = list(scores.values())
    if max(vals) == min(vals):
        return {s: 0 for s in scores}
    winner = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
    return {s: (2 if s == winner else -1) for s in scores}


def update_from_scores(state: RouterState, scores: dict[str, float]) -> RouterState:
    """One bandit update (reference router.py:120-164): winner (stable
    tie-break by strategy name) gets +lr, each loser -lr/len(losers);
    all-tied scores are a no-op."""
    if not scores:
        return state
    winner = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
    vals = list(scores.values())
    if max(vals) == min(vals):
        return state
    losers = [s for s in scores if s != winner]
    if not losers:
        return state
    deltas = {s: -state.lr / len(losers) for s in losers}
    deltas[winner] = state.lr
    return replace(
        state,
        weight_vector=state.weight_vector + deltas.get("vector", 0.0),
        weight_keyword=state.weight_keyword + deltas.get("keyword", 0.0),
        weight_hybrid=state.weight_hybrid + deltas.get("hybrid", 0.0),
    )
