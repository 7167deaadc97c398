"""The Python-kernel surface: scalar pandas UDF, grouped-agg pandas
UDAF, grouped-map applyInPandas, and a Python UDTF.

Engine policy is EXPRESSIONS FIRST — nothing in the core engine uses
these (every reference operator compiles to JVM expressions).  This
module exists for the cases built-ins genuinely cannot express (custom
models, third-party Python libs) and demonstrates the right way to run
Python at scale: Arrow-batched, columnar, never row-at-a-time.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType


# pandas_udf decoration resolves schemas against the ACTIVE session, so
# the udfs are built lazily on first call (module import must not
# require Spark).
_UDF_CACHE: dict[str, object] = {}


def sigmoid(col):
    """Scalar pandas UDF: vectorized over Arrow batches (the stand-in
    for any numpy/scipy scoring kernel)."""
    if "sigmoid" not in _UDF_CACHE:

        @pandas_udf(DoubleType())
        def _sigmoid(v: pd.Series) -> pd.Series:
            return 1.0 / (1.0 + np.exp(-v))

        _UDF_CACHE["sigmoid"] = _sigmoid
    return _UDF_CACHE["sigmoid"](col)


def gini(col):
    """Grouped-aggregate pandas UDAF: Gini coefficient of a value
    column — not expressible with built-in aggregates (requires the
    full sorted group)."""
    if "gini" not in _UDF_CACHE:

        @pandas_udf("double")
        def _gini(v: pd.Series) -> float:
            x = np.sort(v.to_numpy(dtype=float))
            n = x.size
            if n == 0 or x.sum() == 0:
                return 0.0
            cum = np.cumsum(x)
            return float((n + 1 - 2 * (cum / cum[-1]).sum()) / n)

        _UDF_CACHE["gini"] = _gini
    return _UDF_CACHE["gini"](col)


def zscore_by_group(df: DataFrame, *, group_col: str, value_col: str) -> DataFrame:
    """Grouped-map applyInPandas: per-group z-score normalization.

    Each group arrives as ONE pandas DataFrame (so groups must fit an
    executor — use the expression form below for skewed/huge groups;
    this kernel is the template for per-group model.fit() work).
    """
    schema = f"{group_col} STRING, doc_id BIGINT, {value_col} DOUBLE, zscore DOUBLE"

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf[value_col].astype(float)
        sd = v.std(ddof=1)
        pdf = pdf.copy()
        pdf["zscore"] = 0.0 if (len(v) < 2 or sd == 0) else (v - v.mean()) / sd
        return pdf[[group_col, "doc_id", value_col, "zscore"]]

    return df.groupBy(group_col).applyInPandas(kernel, schema=schema)


def top_terms_udtf(df: DataFrame, *, text_col: str = "text", n: int = 3) -> DataFrame:
    """Python-kernel table function: one input row -> n output rows
    (doc_id, term, tf rank within doc).  Runs as the shared Arrow text
    pass (functions/kernels.doc_kernel — the UDTF execution shape with
    Arrow batching; Spark 4's ``@udtf`` decorator runs row-at-a-time, so
    the batched iterator form is preferred in pipelines).  ``doc_id``
    keeps the input's id type."""
    from collections import Counter

    from beyond_vector_search_spark.functions.kernels import doc_kernel, tokens

    def top_terms(text):
        best = sorted(Counter(tokens(text)).items(), key=lambda kv: (-kv[1], kv[0]))[:n]
        return [t for t, _ in best], [tf for _, tf in best], range(1, len(best) + 1)

    return doc_kernel(
        df, lambda: top_terms, "term STRING, tf BIGINT, rank INT", text=text_col
    )
