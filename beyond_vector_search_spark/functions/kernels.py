"""Arrow-batched index-build kernels (``mapInPandas``).

The expression-path index build (corpus_index.doc_grams + explode +
groupBy) is semantically exact but pays for Spark's interpreted
evaluation of higher-order functions: ``transform(sequence(...), i ->
substring(s, i, n))`` walks a per-element expression tree, so shingling
is ~2 us per gram instead of the ~20 ns a tight loop needs.  Measured at
sf0.1 (5k docs, 1.5M grams): explode-path gram_tf 6.4 s (even with the
intermediate caches), this kernel 1.4 s warm.

These kernels are the engine's ONLY Python in an index hot path, and
they follow the Pandas-UDF rules: Arrow batch transfer, per-batch
vectorized-ish loops (collections.Counter over slices), no per-row UDF
calls.  Text featurization is defined ONCE, in the two plain functions
below, and every Python consumer (these kernels, the dedup / fusion /
pretrain kernels, the query compiler in operators/retrieval.py) calls
them — each reproduces the reference semantics exactly:

- ``tokens``: re.findall('[A-Za-z0-9]+(?:[-_][A-Za-z0-9]+)*') then
  per-token lower() — reference text.py:8-17 verbatim.
- ``char_grams``: lower, collapse \\s+ to ' ', strip, all char n-grams
  (whole string if shorter, none if empty) — reference
  retrievers.py:33-44 verbatim.

The expression path stays as the semantic definition (and the DuckDB
oracle mirrors it); tests assert the two paths produce identical
relations.  ``EngineConfig.index_kernel`` picks the path.

Scale note: mapInPandas is a narrow transformation — each executor
shingles only its partitions, the (id, term, tf) output is already
partially aggregated per document, and the downstream groupBys shuffle
aggregated rows, never raw token streams.  This shape survives 100 TB.
"""

from __future__ import annotations

import re
from collections import Counter
from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

# Reference text.py:8 — same pattern as functions.text.TOKEN_PATTERN.
_TOKEN_RE = re.compile(r"[A-Za-z0-9]+(?:[-_][A-Za-z0-9]+)*")
# Reference retrievers.py:42.  NOT Python's ``\s``: the expression
# path's ``(?U)\s`` is exactly the Unicode White_Space property, while
# Python's ``\s`` additionally matches the C0 separators \x1c-\x1f
# (bidi-class whitespace) — a '\x1f' in a document would collapse here
# but survive the JVM path (found by hypothesis).  The explicit class
# below is the Unicode 15 White_Space set, byte-for-byte the JVM rule.
_WS_RE = re.compile(
    "[\t\n\x0b\x0c\r \x85\xa0\u1680\u2000-\u200a\u2028\u2029\u202f\u205f\u3000]+"
)
# F.trim strips ' ' only — after the collapse above the only whitespace
# left at the edges IS the replacement ' ', so char_grams uses strip(" ")
# (a bare .strip() would also eat \x1c-\x1f, diverging again).


def tokens(text: str | None) -> list[str]:
    """Reference tokenizer (text.py:8-17): regex matches, lowercased.
    The one Python definition — every Arrow kernel and the query
    compiler call it; functions.text.tokenize is its Spark twin."""
    return [t.lower() for t in _TOKEN_RE.findall(text or "")]


def char_grams(text: str | None, n: int) -> list[str]:
    """Reference char n-grams (retrievers.py:33-44): lowercase, collapse
    whitespace runs to ' ', strip, then every n-char window — the whole
    string if shorter than ``n``, nothing if empty.  The one Python
    definition; functions.text.char_ngrams is its Spark twin."""
    s = _WS_RE.sub(" ", (text or "").lower()).strip(" ")
    if len(s) >= n:
        return [s[i : i + n] for i in range(len(s) - n + 1)]
    return [s] if s else []


def fan_out(src: DataFrame) -> DataFrame:
    """Spread a small relation across the session's cores before a
    mapInPandas kernel.  A small corpus often arrives as ONE parquet
    split (128 MB maxPartitionBytes), which would run the kernel
    single-threaded; at real scale the scan already has >= cores
    partitions and this is a no-op.  File count is the cheap proxy for
    split count (``.rdd.getNumPartitions()`` forces a Python-RDD
    conversion, ~0.3 s of pure plan overhead); non-file sources
    (createDataFrame, views) fall back to the RDD.

    Session config ``spark.bvs.fanout`` skips the probe for sources
    whose shape the caller already knows: ``always`` repartitions
    unconditionally (view-backed small relations — saves the 0.3 s RDD
    probe), ``never`` passes through (the source is known to be
    well-partitioned), ``auto`` (default) probes as described."""
    if src.isStreaming:
        # micro-batches inherit the source's partitioning; the file /
        # RDD probes below are illegal on a streaming plan
        return src
    mode = src.sparkSession.conf.get("spark.bvs.fanout", "auto")
    parallelism = src.sparkSession.sparkContext.defaultParallelism
    if mode == "never":
        return src
    if mode == "always":
        return src.repartition(parallelism)
    try:
        n_parts = len(src.inputFiles()) or None
    except Exception:  # noqa: BLE001
        n_parts = None
    if n_parts is None:
        n_parts = src.rdd.getNumPartitions()
    return src.repartition(parallelism) if n_parts < parallelism else src


def _project(docs: DataFrame, id_col: str, text: Column | str) -> tuple[DataFrame, str]:
    """(doc_id, _text) projection + the output schema preserving the id
    column's type (testdata uses BIGINT ids, the reference corpus STRING)."""
    text = F.col(text) if isinstance(text, str) else text
    src = fan_out(docs.select(F.col(id_col).alias("doc_id"), text.alias("_text")))
    id_type = src.schema["doc_id"].dataType.simpleString()
    return src, id_type


def _emit(pdf, ids: list, keys: list, tfs: list, key_name: str, dls: list | None = None):
    import pandas as pd

    out = {
        "doc_id": pd.Series(ids, dtype=pdf["doc_id"].dtype),
        key_name: pd.Series(keys, dtype="object"),
        "tf": pd.Series(tfs, dtype="int64"),
    }
    if dls is not None:
        out["dl"] = pd.Series(dls, dtype="int64")
    return pd.DataFrame(out)


def term_tf_frame(docs: DataFrame, *, id_col: str = "doc_id", text: Column | str = "text") -> DataFrame:
    """(doc_id, term, tf, dl) — per-document token term frequencies
    (reference index.py:49-53 term_freq over text.py:8-17 tokenize).

    ``dl`` is the document's total token count, denormalized onto every
    posting row — the classic search-index layout: BM25 needs dl per
    scored posting, and carrying it here removes a postings ⋈ doc_stats
    join (one broadcast build + one stage) from every query plan.  It
    is derivable per document inside this one kernel pass, so it costs
    no extra scan."""
    src, id_type = _project(docs, id_col, text)

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            ids: list = []
            terms: list = []
            tfs: list = []
            dls: list = []
            for doc_id, txt in zip(pdf["doc_id"], pdf["_text"]):
                counts = Counter(tokens(txt))
                dl = sum(counts.values())
                for term, tf in counts.items():
                    ids.append(doc_id)
                    terms.append(term)
                    tfs.append(tf)
                    dls.append(dl)
            yield _emit(pdf, ids, terms, tfs, "term", dls)

    return src.mapInPandas(kernel, f"doc_id {id_type}, term string, tf long, dl long")


def gram_tf_frame(
    docs: DataFrame, *, id_col: str = "doc_id", text: Column | str = "text", n: int = 4
) -> DataFrame:
    """(doc_id, gram, tf) — per-document char-n-gram frequencies
    (reference retrievers.py:33-44 _char_ngrams, counted)."""
    src, id_type = _project(docs, id_col, text)

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            ids: list = []
            grams: list = []
            tfs: list = []
            for doc_id, txt in zip(pdf["doc_id"], pdf["_text"]):
                for gram, tf in Counter(char_grams(txt, n)).items():
                    ids.append(doc_id)
                    grams.append(gram)
                    tfs.append(tf)
            yield _emit(pdf, ids, grams, tfs, "gram")

    return src.mapInPandas(kernel, f"doc_id {id_type}, gram string, tf long")
