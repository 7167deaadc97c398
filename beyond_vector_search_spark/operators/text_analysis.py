"""Text-analysis operators for training-data curation.

All per-row column expressions (codegen, no Python) — at 100 TB these
are a single map stage fused into the parquet scan.

Every operator projects ``tokens`` into a real column before computing
over it: expressions referenced from lambda bodies or referenced many
times are NOT subexpression-eliminated by codegen, so an inlined
tokenize() would re-run the regex per reference (see
functions.text.char_ngrams_from_normed).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from beyond_vector_search_spark.functions.text import tokenize

# Small fixed stopword lists for the language-ID vote.  Deliberately
# tiny and public-knowledge; the heuristic is the operator, not the
# lexicon.
STOPWORDS_EN = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"]
STOPWORDS_DE = ["der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "von"]
STOPWORDS_FR = ["le", "la", "les", "et", "est", "un", "une", "de", "que", "pour"]
STOPWORDS_ES = ["el", "la", "los", "las", "es", "un", "una", "de", "que", "por"]


def _with_tokens(df: DataFrame, id_col: str, text_col: str, *extra: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias("doc_id"), *extra, tokenize(F.col(text_col)).alias("toks")
    )


# Portable (Java regex == RE2) tokenizer patterns for the token-count
# family: whitespace tokens, and a GPT-2-style "BPE-ish" pre-tokenizer.
# The real GPT-2 pattern uses a lookahead (`\s+(?!\S)`), which RE2 (the
# DuckDB oracle) lacks — this lookahead-free variant differs only in how
# trailing/interior pure-whitespace runs group, which is fine for a
# token-BUDGET estimate (counting, not tokenizing).
WS_TOKEN_PATTERN = r"\S+"
BPE_ISH_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"


def token_stats(df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, n_distinct, avg_token_len, ws_tokens,
    bpe_ish_tokens) — corpus token accounting: word-regex tokens (the
    engine tokenizer), plus the two standard token-BUDGET counters —
    whitespace-split tokens and a GPT-2-style BPE pre-tokenizer match
    count (both pure ``regexp_count``, identical in the DuckDB
    oracle).  avg_token_len is an exact int/int division."""
    toks = F.col("toks")
    total_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t).cast("long")
    )
    n = F.size(toks)
    return _with_tokens(df, id_col, text_col, text_col).select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.when(n == 0, F.lit(0.0)).otherwise(total_len / n).alias("avg_token_len"),
        F.regexp_count(F.col(text_col), F.lit(WS_TOKEN_PATTERN)).cast("long").alias("ws_tokens"),
        F.regexp_count(F.col(text_col), F.lit(BPE_ISH_RE)).cast("long").alias("bpe_ish_tokens"),
    )


def quality_score(df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, n_chars, alpha_ratio, stopword_ratio, quality) — a
    simple composable quality signal: texts that are mostly alphanumeric,
    contain some stopwords (fluent language), and are neither tiny nor
    enormous score higher.

    quality = 0.4*alpha_ratio + 0.4*min(1, stopword_ratio*5)
            + 0.2*(1 if 50 <= n_chars <= 5000 else 0)
    """
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.length(F.col(text_col)).alias("n_chars"),
        F.length(F.regexp_replace(F.col(text_col), r"[^A-Za-z0-9]", "")).alias("n_alpha"),
        tokenize(F.col(text_col)).alias("toks"),
    )
    n_chars = F.col("n_chars")
    alpha_ratio = F.when(n_chars == 0, F.lit(0.0)).otherwise(F.col("n_alpha") / n_chars)
    n_stop = F.size(F.filter(F.col("toks"), lambda t: t.isin(STOPWORDS_EN)))
    stop_ratio = F.when(F.size("toks") == 0, F.lit(0.0)).otherwise(n_stop / F.size("toks"))
    ratios = base.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars"),
        alpha_ratio.alias("alpha_ratio"),
        stop_ratio.alias("stopword_ratio"),
    )
    quality = (
        0.4 * F.col("alpha_ratio")
        + 0.4 * F.least(F.lit(1.0), F.col("stopword_ratio") * 5)
        + 0.2 * F.when((F.col("n_chars") >= 50) & (F.col("n_chars") <= 5000), 1.0).otherwise(0.0)
    )
    return ratios.select("doc_id", "n_chars", "alpha_ratio", "stopword_ratio", quality.alias("quality"))


def lang_guess(df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, lang_guess, votes_en, votes_de, votes_fr, votes_es) —
    stopword-vote language ID with a CJK-character fast path.
    Ties break by fixed precedence en > de > es > fr (explicit CASE
    chain, deterministic)."""

    def votes(words: list[str]) -> Column:
        return F.size(F.filter(F.col("toks"), lambda t: t.isin(words))).cast("long")

    counted = _with_tokens(df, id_col, text_col, F.col(text_col).alias("_text")).select(
        "doc_id",
        F.col("_text").rlike(r"[一-鿿]").alias("has_cjk"),
        votes(STOPWORDS_EN).alias("votes_en"),
        votes(STOPWORDS_DE).alias("votes_de"),
        votes(STOPWORDS_FR).alias("votes_fr"),
        votes(STOPWORDS_ES).alias("votes_es"),
    )
    ven, vde, vfr, ves = (F.col(c) for c in ("votes_en", "votes_de", "votes_fr", "votes_es"))
    guess = (
        F.when(F.col("has_cjk"), "zh")
        .when((ven >= vde) & (ven >= vfr) & (ven >= ves) & (ven > 0), "en")
        .when((vde >= ves) & (vde >= vfr) & (vde > 0), "de")
        .when((ves >= vfr) & (ves > 0), "es")
        .when(vfr > 0, "fr")
        .otherwise("unknown")
    )
    return counted.select(
        "doc_id", guess.alias("lang_guess"), "votes_en", "votes_de", "votes_fr", "votes_es"
    )


def text_profile(df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, n_distinct, avg_token_len, ws_tokens,
    bpe_ish_tokens, n_chars, alpha_ratio, stopword_ratio, quality,
    lang_guess, votes_en, votes_de, votes_fr, votes_es) — the full
    per-document text-analysis suite (:func:`token_stats` +
    :func:`quality_score` + :func:`lang_guess`) from ONE scan and ONE
    projection.

    Every column is per-row, so joining the three standalone operators
    (the pre-r13-opt ``text_profile`` entry shape) paid three full text
    scans and two corpus-wide joins for columns one projection
    determines.  Column expressions are the standalone operators'
    verbatim; the 15-column row set is pinned identical to the 3-way
    join by test."""
    toks = F.col("toks")
    n = F.size(toks)
    total_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t).cast("long")
    )
    n_chars_raw = F.length(F.col("_text"))
    n_alpha = F.length(F.regexp_replace(F.col("_text"), r"[^A-Za-z0-9]", ""))
    alpha_ratio = F.when(n_chars_raw == 0, F.lit(0.0)).otherwise(n_alpha / n_chars_raw)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS_EN)))
    stop_ratio = F.when(n == 0, F.lit(0.0)).otherwise(n_stop / n)
    n_chars = n_chars_raw.cast("long")
    quality = (
        0.4 * alpha_ratio
        + 0.4 * F.least(F.lit(1.0), stop_ratio * 5)
        + 0.2 * F.when((n_chars >= 50) & (n_chars <= 5000), 1.0).otherwise(0.0)
    )

    def votes(words: list[str]) -> Column:
        return F.size(F.filter(toks, lambda t: t.isin(words))).cast("long")

    ven, vde, vfr, ves = (
        votes(w) for w in (STOPWORDS_EN, STOPWORDS_DE, STOPWORDS_FR, STOPWORDS_ES)
    )
    guess = (
        F.when(F.col("_text").rlike(r"[一-鿿]"), "zh")
        .when((ven >= vde) & (ven >= vfr) & (ven >= ves) & (ven > 0), "en")
        .when((vde >= ves) & (vde >= vfr) & (vde > 0), "de")
        .when((ves >= vfr) & (ves > 0), "es")
        .when(vfr > 0, "fr")
        .otherwise("unknown")
    )
    return _with_tokens(df, id_col, text_col, F.col(text_col).alias("_text")).select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.when(n == 0, F.lit(0.0)).otherwise(total_len / n).alias("avg_token_len"),
        F.regexp_count(F.col("_text"), F.lit(WS_TOKEN_PATTERN)).cast("long").alias("ws_tokens"),
        F.regexp_count(F.col("_text"), F.lit(BPE_ISH_RE)).cast("long").alias("bpe_ish_tokens"),
        n_chars.alias("n_chars"),
        alpha_ratio.alias("alpha_ratio"),
        stop_ratio.alias("stopword_ratio"),
        quality.alias("quality"),
        guess.alias("lang_guess"),
        ven.alias("votes_en"),
        vde.alias("votes_de"),
        vfr.alias("votes_fr"),
        ves.alias("votes_es"),
    )


def doc_fingerprint(df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, fingerprint) — canonical content fingerprint: md5 of the
    sorted distinct token set.  Robust to word order and repetition —
    the cheap "bag-of-words identity" used before heavier near-dup."""
    return _with_tokens(df, id_col, text_col).select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(F.col("toks"))))).alias("fingerprint"),
    )


# The classic UTF-8-decoded-as-cp1252 fingerprints (ftfy's core cases,
# public knowledge): a lead byte rendered as its own Latin-1 letter
# followed by continuation bytes rendered as Latin-1 symbols.  Each
# pattern is a plain regex both Java (Spark) and RE2 (DuckDB) interpret
# identically over UTF-8 text (explicit code-point ranges, no
# engine-specific classes).
MOJIBAKE_PATTERNS = (
    "\\u00c3[\\u0080-\\u00bf]",  # C3 lead + continuation: cafe/resume mojibake
    "\\u00e2[\\u0080-\\u00bf][\\u0080-\\u00bf]",  # curly quotes / dashes / euro
    "\\u00c2[\\u00a0-\\u00bf]",  # stray C2 lead + symbol-row char
)


def encoding_artifacts(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_chars, n_replacement, n_c1_controls, n_mojibake,
    artifact_ratio, flag_encoding_artifacts) — encoding-damage
    detection, the scrub every web-scale corpus runs before training
    (mojibake text poisons tokenizers and models alike):

    - ``n_replacement``: U+FFFD replacement characters — a decoder
      already gave up on these bytes;
    - ``n_c1_controls``: C1 control characters U+0080-U+009F — the
      signature of cp1252 bytes mis-decoded as Latin-1 (real text never
      contains them);
    - ``n_mojibake``: occurrences of the classic UTF-8-as-cp1252
      multigraphs (:data:`MOJIBAKE_PATTERNS`).

    Pure ``regexp_count`` expressions — whole-stage codegen, one narrow
    map over the corpus, embarrassingly parallel at any scale (the
    pii_scrub shape).  ``artifact_ratio`` is per-char and rounded to 6
    (the catalog's cross-engine boundary rule); the flag trips on ANY
    artifact — a single U+FFFD already proves the byte stream was
    damaged, and re-decoding (not thresholding) is the fix.
    """
    text = F.col(text_col)
    n_moj = None
    for pat in MOJIBAKE_PATTERNS:
        c = F.regexp_count(text, F.lit(pat))
        n_moj = c if n_moj is None else (n_moj + c)
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.length(text).cast("long").alias("n_chars"),
        F.regexp_count(text, F.lit("\\ufffd")).cast("long").alias("n_replacement"),
        F.regexp_count(text, F.lit("[\\u0080-\\u009f]"))
        .cast("long")
        .alias("n_c1_controls"),
        n_moj.cast("long").alias("n_mojibake"),
    )
    total = F.col("n_replacement") + F.col("n_c1_controls") + F.col("n_mojibake")
    return base.select(
        "doc_id",
        "n_chars",
        "n_replacement",
        "n_c1_controls",
        "n_mojibake",
        F.round(total / F.greatest(F.col("n_chars"), F.lit(1)), 6).alias(
            "artifact_ratio"
        ),
        (total > 0).alias("flag_encoding_artifacts"),
    )


# ----------------------- markup extraction (HTML) ---------------------------
# The tag-stripping step of a web-crawl curation pipeline (the first
# thing CCNet/RefinedWeb-style pipelines do to raw HTML).  Pure column
# expressions — codegen'd regexp_replace chains, no Python in the hot
# path — and every pattern stays inside the regex subset Java regex
# and RE2 share (inline (?is) flags, non-greedy .*?, NO backreferences),
# so the whole extraction is DuckDB-oracle-checkable ('g' flag supplied
# on the DuckDB side, where replacement is first-match by default).

# entity -> replacement, applied IN ORDER: &amp; must come last or
# double-escaped input ("&amp;lt;") would double-unescape.  The subset
# is the five XML predefineds + nbsp + the numeric apostrophe — the
# entities that dominate real crawls; anything rarer passes through
# verbatim (extraction must never guess).
_HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)

# block-level closers + <br> become newlines BEFORE generic tag removal
# so "<p>a</p><p>b</p>" extracts as "a b", never "ab" — paragraph
# boundaries must survive as whitespace.
_BLOCK_BREAK_RE = r"(?i)<br[^>]*>|</p>|</div>|</li>|</tr>|</h[1-6]>"
_TAG_RE = r"<[^>]+>"


def strip_markup(col: Column | str) -> Column:
    """Markup-free text of one HTML column: drop script/style payloads
    and comments, turn block closers into whitespace, strip remaining
    tags, unescape the common entities, collapse whitespace.

    Known approximation (the standard tag-strip tradeoff): the generic
    ``<[^>]+>`` pass assumes the input IS markup — a bare comparison
    like ``a < b and c > d`` in NON-html text would lose the span
    between the angle brackets.  Well-formed HTML escapes literal ``<``
    as ``&lt;`` (which this chain unescapes AFTER tag removal), so the
    loss only occurs when plain text is misrouted into the HTML
    column."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, r"(?is)<script[^>]*>.*?</script>", " ")
    c = F.regexp_replace(c, r"(?is)<style[^>]*>.*?</style>", " ")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    c = F.regexp_replace(c, _BLOCK_BREAK_RE, "\n")
    c = F.regexp_replace(c, _TAG_RE, " ")
    for ent, rep in _HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(rep))
    c = F.regexp_replace(c, "[ \t\r\n]+", " ")
    return F.trim(c)


def html_extract(
    df: DataFrame, *, id_col: str = "doc_id", html_col: str = "html"
) -> DataFrame:
    """(id, text, n_tags, n_chars_raw, n_chars_text) — markup-stripped
    text plus extraction diagnostics (tag count and the raw->text size
    drop, the usual boilerplate-density signals a curation pipeline
    thresholds on)."""
    raw = F.col(html_col)
    return df.select(
        F.col(id_col),
        strip_markup(raw).alias("text"),
        F.regexp_count(raw, F.lit(_TAG_RE)).alias("n_tags"),
        F.length(raw).alias("n_chars_raw"),
        F.length(strip_markup(raw)).alias("n_chars_text"),
    )


# ------------------------- URL / domain profiling ---------------------------
# Per-domain grouping is how web-corpus pipelines apply quality priors
# and budgets (per-registered-domain caps, domain blocklists, crawl
# dedup by host).  Pure regexp_extract chains in the Java-regex ∩ RE2
# shared subset — oracle-checkable like strip_markup, and codegen'd
# (no parse_url, which DuckDB lacks).

_URL_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
_URL_HOST_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)"
_URL_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(/[^?#]*)"


def registered_domain(host: Column) -> Column:
    """Registered domain of a (lowercased) host column: one label past
    the public suffix.  The bundled multi-label suffix table
    (functions/suffixes.py — a curated subset of the well-known
    public-suffix list format) folds into the expression as a static
    membership test (Catalyst InSet — hash probe inside codegen, no
    join, no broadcast), so ``bbc.co.uk`` → ``bbc.co.uk`` and
    ``alice.github.io`` → ``alice.github.io`` while ``www.example.com``
    still → ``example.com``.  Fallbacks: a host NOT under a listed
    multi-label suffix uses the last-two-labels rule; a host that IS
    exactly a public suffix keeps its own name (PSL semantics would
    say "no registered domain" — keeping the name keeps the row
    visible in budget/blocklist groupings).  For the full ~10k-entry
    upstream list (wildcards, 3-label registries) load it as a table
    and use :func:`registered_domains` — the broadcast-join form with
    identical pick logic."""
    from beyond_vector_search_spark.functions.suffixes import MULTI_LABEL_SUFFIXES

    last2 = F.nullif(F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1), F.lit(""))
    last3 = F.nullif(
        F.regexp_extract(host, r"([^.]+\.[^.]+\.[^.]+)$", 1), F.lit("")
    )
    return F.when(
        last2.isin(*MULTI_LABEL_SUFFIXES) & last3.isNotNull(), last3
    ).otherwise(last2)


def registered_domains(
    df: DataFrame,
    suffixes: DataFrame,
    *,
    host_col: str = "host",
    out_col: str = "domain",
) -> DataFrame:
    """``df`` plus an ``out_col`` registered-domain column, resolved
    against a RUNTIME suffix table (one ``suffix`` string column) with
    full public-suffix-list matching semantics (r13):

    - plain rules of ANY depth (``co.uk``, ``pref.aichi.jp``) — the
      longest matching rule prevails;
    - wildcard rules (``*.ck``): every single label under the tail is
      itself a public suffix;
    - exception rules (``!www.ck``, ``!city.kobe.jp``): the exception
      prevails over any wildcard/plain match, and the matched labels
      ARE the registered domain;
    - no rule matches → the implicit ``*`` rule (last label is the
      suffix, last two labels are the domain).

    One engine-policy divergence from the upstream PSL algorithm,
    shared with :func:`registered_domain` and pinned by the parity
    test: a host that IS exactly a listed public suffix keeps its own
    name (upstream says "no registered domain") so the row stays
    visible in budget/blocklist groupings.

    Plan shape: the rule table is grouped per key-label-depth and each
    depth is one BROADCAST left join on the host's last-k labels — the
    corpus never shuffles; depth count (a PSL property, ≤5 in the real
    list) is read off the dimension with one tiny job.  Temp columns
    are namespaced away from the caller's schema (any ``_psl*``-like
    collision widens the prefix)."""
    host = F.lower(F.col(host_col))
    # collision-free namespace for every temp column this op adds
    p = "_psl"
    while any(c.startswith(p) for c in df.columns):
        p = "_" + p

    rules = suffixes.select(F.lower(F.col("suffix")).alias("r")).where(
        F.col("r").isNotNull() & (F.col("r") != "")
    ).distinct()
    parsed = rules.select(
        F.when(F.col("r").startswith("!"), F.expr("substring(r, 2)"))
        .when(F.col("r").startswith("*."), F.expr("substring(r, 3)"))
        .otherwise(F.col("r"))
        .alias("key"),
        F.col("r").startswith("!").alias("exc"),
        F.col("r").startswith("*.").alias("wild"),
    )
    # one row per key: a key may carry plain AND wildcard AND exception
    # roles (e.g. "ck" via "ck" + "*.ck"); depth = label count of the key
    dim = (
        parsed.groupBy("key")
        .agg(
            F.max(~F.col("exc") & ~F.col("wild")).alias("plain"),
            F.max("wild").alias("wild"),
            F.max("exc").alias("exc"),
        )
        .withColumn("k", F.size(F.split("key", r"\.")))
    )
    ks = sorted(r["k"] for r in dim.select("k").distinct().collect())

    lab, hl = f"{p}_labels", f"{p}_hl"
    out = df.withColumn(lab, F.split(host, r"\.")).withColumn(
        hl, F.size(F.col(lab))
    )
    for k in ks:
        sk = f"{p}_s{k}"
        out = out.withColumn(
            sk,
            F.when(
                F.col(hl) >= k, F.array_join(F.slice(F.col(lab), -k, k), ".")
            ),
        )
        dimk = dim.where(F.col("k") == k).select(
            F.col("key").alias(sk),
            F.col("plain").alias(f"{p}_p{k}"),
            F.col("wild").alias(f"{p}_w{k}"),
            F.col("exc").alias(f"{p}_e{k}"),
        )
        out = out.join(F.broadcast(dimk), sk, "left")

    def last_n(n):
        return F.array_join(F.slice(F.col(lab), -n, n), ".")

    def greatest(cands):
        if not cands:
            return F.lit(None).cast("int")
        return cands[0] if len(cands) == 1 else F.greatest(*cands)

    # prevailing rule: exception first, else deepest match, else implicit
    exc_len = greatest([F.when(F.col(f"{p}_e{k}"), F.lit(k)) for k in ks])
    explicit_eff = greatest(
        [F.when(F.col(f"{p}_p{k}"), F.lit(k)) for k in ks]
        + [
            F.when(F.col(f"{p}_w{k}") & (F.col(hl) >= k + 1), F.lit(k + 1))
            for k in ks
        ]
    )
    eff = F.coalesce(explicit_eff, F.lit(1))
    domain = (
        F.when(exc_len.isNotNull(), last_n(exc_len))
        .when(F.col(hl) >= eff + 1, last_n(eff + 1))
        .when(explicit_eff.isNotNull() & (F.col(hl) == eff), host)
    )
    drop = [lab, hl] + [
        f"{p}_{tag}{k}" for k in ks for tag in ("s", "p", "w", "e")
    ]
    return out.withColumn(out_col, domain).drop(*drop)


def url_parts(col: Column | str) -> dict[str, Column]:
    """{scheme, host, domain, path, has_query} column expressions for
    one absolute-URL column.  ``domain`` is the registered domain via
    the bundled public-suffix table (:func:`registered_domain` —
    ``bbc.co.uk`` stays ``bbc.co.uk``; hosts not under a listed
    multi-label suffix fall back to the last-two-labels rule).
    Relative or malformed URLs yield NULL scheme/host/domain (regexp
    miss → empty string → NULLed) and never throw.  IPv6 bracket hosts
    (``https://[::1]/``) are out of scope: the colon-terminated host
    extract truncates them, and the domain correctly NULLs — crawl
    corpora address hosts by name."""
    c = F.col(col) if isinstance(col, str) else col

    def nn(expr: Column) -> Column:
        return F.nullif(expr, F.lit(""))

    host = nn(F.lower(F.regexp_extract(c, _URL_HOST_RE, 1)))
    return {
        "scheme": nn(F.lower(F.regexp_extract(c, _URL_SCHEME_RE, 1))),
        "host": host,
        "domain": registered_domain(host),
        "path": nn(F.regexp_extract(c, _URL_PATH_RE, 1)),
        "has_query": c.contains("?"),
    }


def url_profile(
    df: DataFrame, *, id_col: str = "doc_id", url_col: str = "url"
) -> DataFrame:
    """(id, scheme, host, domain, path, path_depth, has_query) — parsed
    URL fields per document.  path_depth counts non-empty segments."""
    p = url_parts(url_col)
    path = p["path"]
    depth = F.when(
        path.isNull() | (path == "/"), F.lit(0)
    ).otherwise(
        F.size(F.filter(F.split(path, "/"), lambda s: s != ""))
    )
    return df.select(
        F.col(id_col),
        p["scheme"].alias("scheme"),
        p["host"].alias("host"),
        p["domain"].alias("domain"),
        path.alias("path"),
        depth.cast("int").alias("path_depth"),
        p["has_query"].alias("has_query"),
    )


def domain_stats(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    url_col: str = "url",
    text_col: str | None = "text",
) -> DataFrame:
    """(domain, n_docs, share, avg_chars) — per-registered-domain
    corpus profile: the relation a per-domain budget/blocklist decision
    reads.  One partial+final aggregation on the parsed domain; NULL
    domains (unparseable URLs) group under NULL so they stay visible
    rather than silently dropping."""
    parsed = url_profile(df, id_col=id_col, url_col=url_col)
    if text_col is not None:
        parsed = parsed.join(
            df.select(F.col(id_col), F.length(F.col(text_col)).alias("_chars")),
            id_col,
        )
    else:
        parsed = parsed.withColumn("_chars", F.lit(None).cast("int"))
    counts = parsed.groupBy("domain").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("_chars"), 6).alias("avg_chars"),
    )
    total = counts.agg(F.sum("n_docs").alias("_t"))
    return counts.crossJoin(F.broadcast(total)).select(
        "domain",
        "n_docs",
        F.round(F.col("n_docs") / F.col("_t"), 9).alias("share"),
        "avg_chars",
    )
