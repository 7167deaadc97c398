"""Engine constants, mirroring the reference's fixed parameters.

Citations are into /root/reference (the public reference implementation);
values are re-declared here, not imported.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class EngineConfig:
    """All tunables of the engine in one place.

    Defaults reproduce the reference bit-for-bit:
    - BM25 k1/b: retrievers.py:114-115
    - smoothed idf:  index.py:39-41  (ln(1 + (N - df + 0.5)/(df + 0.5)))
    - char n-gram size: retrievers.py:36 (n=4)
    - hybrid blend:  retrievers.py:160-161 (keyword 0.60 / vector 0.40)
    - rare-term df threshold: index.py:21 (rare_df_threshold=1)
    - top-k default: run.py:78 (k=5)
    - router learning rate: router.py:16 (lr=0.25)
    - context budget: answer.py:15 (max_chars=900)
    """

    bm25_k1: float = 1.5
    bm25_b: float = 0.75
    ngram_n: int = 4
    alpha_keyword: float = 0.60
    alpha_vector: float = 0.40
    rare_df_threshold: int = 1
    k: int = 5
    lr: float = 0.25
    max_context_chars: int = 900

    # Scale knobs (not present in the single-process reference).
    # include_zero_score_docs: the reference scores *every* doc per query
    # (retrievers.py:97,129), so docs sharing no term still rank with
    # score 0.0.  Exact parity needs them; at 100 TB you turn this off —
    # it only changes deep-tail ranks.
    include_zero_score_docs: bool = True
    # max_gram_df_ratio: drop char-grams appearing in more than this
    # fraction of documents from the vector index (stopword-grade grams
    # are the hot keys of the cosine join — the classic skew source at
    # scale).  None = keep all (exact reference parity).  Pruned grams
    # carry the least idf weight, so ranking impact is minimal and the
    # join skew disappears at the source.
    max_gram_df_ratio: float | None = None
    # index_kernel: how the (doc_id, term/gram, tf) relations are built.
    # "arrow"  — mapInPandas counting kernels (functions/kernels.py):
    #            ~4x faster than the expression path because Spark
    #            evaluates higher-order-function lambdas interpreted,
    #            per element.  Narrow transformation; scale-safe.
    # "expr"   — pure Column expressions + explode + groupBy (the
    #            semantic definition; mirrors the DuckDB oracle SQL).
    # Tests assert both produce identical relations.
    index_kernel: str = "arrow"


DEFAULT = EngineConfig()
