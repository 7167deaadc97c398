"""The one per-document Arrow text pass (``mapInPandas``) and the
Python tokenizer every such pass calls.

Expression paths over document text are semantically exact but pay for
Spark's interpreted evaluation of higher-order functions:
``transform(sequence(...), i -> substring(s, i, n))`` walks a
per-element expression tree, so shingling is ~2 us per gram instead of
the ~20 ns a tight loop needs.  Measured at sf0.1 (5k docs, 1.5M
grams): explode-path gram_tf 6.4 s (even with the intermediate caches),
the Arrow kernel 1.4 s warm.

:func:`doc_kernel` is the ONLY place a document-text Arrow pass is
written: the ``(doc_id, _text)`` projection and :func:`fan_out`, the
per-batch loop, output that keeps the id column's type, one pandas
dtype per output column and a typed frame for an empty batch.  Each
operator supplies only its per-document function and its schema.  The
callers, by family:

- index build: :func:`term_tf_frame`, :func:`gram_tf_frame`
  (``EngineConfig.index_kernel`` picks them or the expression twin);
- dedup signatures and shingles (operators/dedup.py): ``shingle_rows``,
  ``positioned_shingle_rows``, ``minhash_signatures``,
  ``minhash_shingle_rows``, ``simhash64``, ``doc_signatures``;
- positional text features (operators/fusion.py): ``phrase_counts``,
  ``proximity_counts``;
- pre-training data quality (operators/pretrain.py):
  ``benchmark_contamination(broadcast_set=True)``, ``repetition_flags``;
- the Python-UDTF demo (functions/udfs.py): ``top_terms_udtf``.

Text featurization is defined ONCE, in the two plain functions below,
and every Python consumer (these kernels and the query compiler in
operators/retrieval.py) calls them — each reproduces the reference
semantics exactly:

- ``tokens``: re.findall('[A-Za-z0-9]+(?:[-_][A-Za-z0-9]+)*') then
  per-token lower() — reference text.py:8-17 verbatim.
- ``char_grams``: lower, collapse \\s+ to ' ', strip, all char n-grams
  (whole string if shorter, none if empty) — reference
  retrievers.py:33-44 verbatim.

Each kernel keeps its expression path as the semantic definition (the
DuckDB oracle mirrors it) behind a ``kernel=`` switch; tests assert the
two paths produce identical relations.

Scale note: mapInPandas is a narrow transformation — each executor
featurizes only its partitions, the output is already partially
aggregated per document, and the downstream groupBys shuffle aggregated
rows, never raw token streams.  This shape survives 100 TB.
"""

from __future__ import annotations

import re
from collections import Counter
from collections.abc import Callable, Iterator
from typing import TYPE_CHECKING

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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
    (createDataFrame, views) fall back to the RDD."""
    if src.isStreaming:
        # micro-batches inherit the source's partitioning; the file /
        # RDD probes below are illegal on a streaming plan
        return src
    parallelism = src.sparkSession.sparkContext.defaultParallelism
    try:
        n_parts = len(src.inputFiles()) or None
    except Exception:  # noqa: BLE001
        n_parts = None
    if n_parts is None:
        n_parts = src.rdd.getNumPartitions()
    return src.repartition(parallelism) if n_parts < parallelism else src


# pandas dtype of each output column, by Spark type; anything else
# (string, array<...>) travels as object
_PANDAS_DTYPES = {"bigint": "int64", "int": "int32", "double": "float64", "boolean": "bool"}


def doc_kernel(
    docs: DataFrame,
    make: Callable[[], Callable[[str | None], tuple]],
    schema: str,
    *,
    id_col: str = "doc_id",
    text: Column | str = "text",
) -> DataFrame:
    """(doc_id, <schema columns>) — the one per-document Arrow text pass.

    ``make()`` runs once per partition on the executor (a home for
    per-partition state: memo caches, numpy constants, a broadcast's
    ``.value``) and returns ``fn(text)``.  ``fn`` maps one document's
    text (None for a NULL) to a tuple of per-column sequences, one per
    ``schema`` column, all the same length; each position is one output
    row for that document and length 0 emits none.  Column sequences,
    not row tuples: extending per column keeps this loop as cheap as a
    hand-written one, where splitting row tuples back into columns
    costs 1.4-2.6x on the tf kernels.

    The output's ``doc_id`` keeps the type of ``docs[id_col]`` (testdata
    uses BIGINT ids, the reference corpus STRING); every other column
    takes the pandas dtype of its ``schema`` type, so an empty batch is
    a fully typed empty frame."""
    text = F.col(text) if isinstance(text, str) else text
    src = fan_out(docs.select(F.col(id_col).alias("doc_id"), text.alias("_text")))
    id_type = src.schema["doc_id"].dataType.simpleString()
    fields = StructType.fromDDL(schema).fields
    names = [f.name for f in fields]
    dtypes = [_PANDAS_DTYPES.get(f.dataType.simpleString(), "object") for f in fields]

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        fn = make()
        for pdf in batches:
            ids: list = []
            cols: list[list] = [[] for _ in names]
            for doc_id, txt in zip(pdf["doc_id"], pdf["_text"]):
                out = fn(txt)
                n = len(out[0])
                if n:
                    ids += [doc_id] * n
                    for col, vals in zip(cols, out):
                        col += vals
            frame = {"doc_id": pd.Series(ids, dtype=pdf["doc_id"].dtype)}
            for name, dtype, col in zip(names, dtypes, cols):
                frame[name] = pd.Series(col, dtype=dtype)
            yield pd.DataFrame(frame)

    return src.mapInPandas(kernel, f"doc_id {id_type}, {schema}")


def term_tf_frame(docs: DataFrame, *, id_col: str = "doc_id", text: Column | str = "text") -> DataFrame:
    """(doc_id, term, tf, dl) — per-document token term frequencies
    (reference index.py:49-53 term_freq over text.py:8-17 tokenize).

    ``dl`` is the document's total token count, denormalized onto every
    posting row — the classic search-index layout: BM25 needs dl per
    scored posting, and carrying it here removes a postings ⋈ doc_stats
    join (one broadcast build + one stage) from every query plan.  It
    is derivable per document inside this one kernel pass, so it costs
    no extra scan."""

    def term_tf(txt):
        toks = tokens(txt)
        counts = Counter(toks)
        return counts.keys(), counts.values(), [len(toks)] * len(counts)

    return doc_kernel(
        docs, lambda: term_tf, "term string, tf long, dl long", id_col=id_col, text=text
    )


def gram_tf_frame(
    docs: DataFrame, *, id_col: str = "doc_id", text: Column | str = "text", n: int = 4
) -> DataFrame:
    """(doc_id, gram, tf) — per-document char-n-gram frequencies
    (reference retrievers.py:33-44 _char_ngrams, counted)."""

    def gram_tf(txt):
        counts = Counter(char_grams(txt, n))
        return counts.keys(), counts.values()

    return doc_kernel(docs, lambda: gram_tf, "gram string, tf long", id_col=id_col, text=text)
