"""Text-analysis column functions for the training-data pipeline.

Everything here is a pure Column expression built from
``pyspark.sql.functions`` higher-order functions — JVM-side, inside
whole-stage codegen, zero Python in the hot path. That is the property
that lets these run over 100 TB of documents: each is a narrow
projection over one string column with no shuffle at all.

Each helper documents its DuckDB-SQL mirror so plans/extensions.py can
keep the oracle byte-identical in semantics.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# Tokenization regexes shared by every consumer (and mirrored in oracle
# SQL): whitespace tokens, and a BPE-ish "word or single punctuation"
# pattern for token-count estimation.
WS_SPLIT = r"\s+"
BPE_ISH = r"\w+|[^\w\s]"


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def normalize_text(col: str | Column) -> Column:
    """Canonical form for fingerprinting: lowercase, non-alphanumerics
    to spaces, whitespace collapsed, trimmed.
    Mirror: LOWER -> REGEXP_REPLACE(...,'[^a-z0-9 ]',' ','g') ->
    REGEXP_REPLACE(...,'\\s+',' ','g') -> TRIM."""
    c = F.lower(_c(col))
    c = F.regexp_replace(c, "[^a-z0-9 ]", " ")
    c = F.regexp_replace(c, WS_SPLIT, " ")
    return F.trim(c)


def tokens(col: str | Column) -> Column:
    """Whitespace tokens. Mirror: STRING_SPLIT_REGEX(TRIM(x),'\\s+')."""
    return F.split(F.trim(_c(col)), WS_SPLIT)


def token_count(col: str | Column, toks: Column | None = None) -> Column:
    """Whitespace token count; 0 for empty/blank strings.
    Mirror: CASE WHEN TRIM(x)='' THEN 0 ELSE LEN(STRING_SPLIT_REGEX(...)) END.

    ``toks`` (here and in every tokenized metric below): optionally pass
    a pre-materialized ``tokens(col)`` column. When one projection
    computes many tokenized metrics, materializing the token array ONCE
    in a preceding select keeps the final projection's expression tree
    small — inlining the split into a dozen codegen-fallback
    higher-order functions re-tokenizes per metric per row and (measured
    at sf0.1) collapses the whole stage out of codegen, ~20x slower."""
    c = _c(col)
    t = tokens(c) if toks is None else toks
    return F.when(F.length(F.trim(c)) == 0, F.lit(0)).otherwise(F.size(t))


def bpe_ish_token_count(col: str | Column) -> Column:
    """Sub-word-ish token estimate: words + individual punctuation marks
    (the cheap proxy for an LLM tokenizer's token count).
    Mirror: LEN(REGEXP_EXTRACT_ALL(x, '\\w+|[^\\w\\s]'))."""
    return F.size(F.regexp_extract_all(_c(col), F.lit(BPE_ISH), F.lit(0)))


def word_shingles(
    col: str | Column, n: int = 3, toks: Column | None = None
) -> Column:
    """Array of word n-grams (the dedup shingle unit); inputs with < n
    tokens yield an EMPTY array. The explicit emptiness guard matters:
    ``sequence(1, 0)`` is DESCENDING in Spark ([1, 0]), so the
    greatest(...,0) upper bound alone would emit starts 1 and 0 —
    a duplicate first shingle plus an invalid slice(_, 0, n).
    Mirror (DuckDB): positional self-join of unnested tokens."""
    t = tokens(col) if toks is None else toks
    starts = F.when(
        F.size(t) >= n, F.sequence(F.lit(1), F.size(t) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(starts, lambda i: F.concat_ws(" ", F.slice(t, i, n)))


def char_shingles(col: str | Column, n: int = 5) -> Column:
    """Array of character n-grams; strings shorter than n yield an
    EMPTY array (same descending-sequence guard as word_shingles)."""
    c = _c(col)
    starts = F.when(
        F.length(c) >= n, F.sequence(F.lit(1), F.length(c) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(starts, lambda i: F.substring(c, i, n))


def punct_ratio(col: str | Column) -> Column:
    """Punctuation chars / total chars.
    Mirror: LEN(REGEXP_REPLACE(x,'[^.!?,;:]','','g')) * 1.0 / LEN(x)."""
    c = _c(col)
    return F.length(F.regexp_replace(c, "[^.!?,;:]", "")) / F.length(c)


def stopword_ratio(
    col: str | Column,
    stopwords: tuple[str, ...],
    toks: Column | None = None,
    hits: Column | None = None,
) -> Column:
    """Fraction of tokens that are stopwords (token instances, not
    distinct). Mirror: LEN(LIST_FILTER(toks, t -> t IN (...)))/LEN(toks).
    ``hits`` optionally reuses a pre-materialized stopword-hit count."""
    t = tokens(col) if toks is None else toks
    if hits is None:
        hits = F.size(F.filter(t, lambda x: x.isin(*stopwords)))
    return hits / F.size(t)


def avg_word_len(col: str | Column, toks: Column | None = None) -> Column:
    """Mean token length. Mirror: LEN(REGEXP_REPLACE(x,'\\s','','g')) * 1.0
    / LEN(STRING_SPLIT_REGEX(TRIM(x),'\\s+'))."""
    c = _c(col)
    t = tokens(c) if toks is None else toks
    return F.length(F.regexp_replace(c, r"\s", "")) / F.size(t)


#: English-ish stopwords used by the quality score (mirrored verbatim
#: in oracle SQL — keep sorted & frozen).
QUALITY_STOPWORDS = ("a", "and", "in", "is", "of", "on", "the", "to")


def quality_score(
    col: str | Column,
    toks: Column | None = None,
    stop_hits: Column | None = None,
    punct: Column | None = None,
) -> Column:
    """Composite document-quality heuristic in [0,1]: rewards stopword
    presence (natural prose) and penalizes punctuation soup. The exact
    formula is arbitrary but FROZEN — the oracle mirrors it term by
    term."""
    stop = stopword_ratio(col, QUALITY_STOPWORDS, toks=toks, hits=stop_hits)
    p = punct_ratio(col) if punct is None else punct
    return F.least(F.lit(1.0), stop * 2) * 0.5 + (1 - p) * 0.5


#: Marker-token lists for the n-gram/stopword language-ID heuristic.
#: Disjoint across languages; mirrored verbatim in the oracle.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "with"),
    "de": ("der", "und", "das", "nicht"),
    "fr": ("le", "et", "les", "dans"),
    "es": ("el", "los", "que", "para"),
    "zh": ("的", "是", "在", "了"),
}

#: Priority order for argmax ties (first wins).
LANG_PRIORITY = ("en", "de", "fr", "es", "zh")


def lang_scores(col: str | Column, toks: Column | None = None) -> dict[str, Column]:
    """Marker-occurrence count per language (token instances)."""
    t = tokens(col) if toks is None else toks
    return {
        lang: F.size(F.filter(t, lambda x: x.isin(*markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def predict_lang(
    col: str | Column, scores: dict[str, Column] | None = None
) -> Column:
    """Argmax of marker scores with fixed priority tie-break; 'und'
    when no marker occurs at all. ``scores`` optionally reuses
    pre-materialized ``lang_scores`` columns (each score is referenced
    twice here — materializing keeps the CASE tree attribute-cheap)."""
    if scores is None:
        scores = lang_scores(col)
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    # Build CASE from lowest to highest priority so the highest-priority
    # language ends up as the outermost WHEN.
    for lang in reversed(LANG_PRIORITY):
        expr = F.when(scores[lang] == best, F.lit(lang)).otherwise(expr)
    return F.when(best == 0, F.lit("und")).otherwise(expr)


def fingerprint_md5(col: str | Column) -> Column:
    """Document fingerprint: md5 of the normalized text.
    Mirror: MD5(<normalize_text mirror>)."""
    return F.md5(normalize_text(col))


# Polynomial (Karp-Rabin) winnowing parameters — frozen, mirrored in
# oracle SQL. The rolling hash is h = fold(h * BASE + codepoint) mod
# MOD over each window: every intermediate stays below 2^38, so the
# arithmetic is exact int64 in numpy, BIGINT in Spark/DuckDB, and a
# plain int in Python — four independent engines, identical values.
POLY_BASE = 131
POLY_MOD = (1 << 31) - 1


def poly_winnow_py(text: str | None, window: int = 8, stride: int = 4) -> list[int] | None:
    """Pure-Python reference of the polynomial winnowing fingerprint
    (test oracle for the Arrow tier)."""
    if text is None:
        return None
    codes = [ord(c) for c in text]
    n = len(codes) - window + 1
    if n <= 0:
        return []
    hs = []
    for i in range(n):
        h = 0
        for j in range(window):
            h = (h * POLY_BASE + codes[i + j]) % POLY_MOD
        hs.append(h)
    return [min(hs[b : b + stride]) for b in range(0, n, stride)]


def winnowing_fingerprint_poly(
    col: str | Column, window: int = 8, stride: int = 4
) -> Column:
    """Arrow-batched winnowing fingerprint over a codepoint rolling
    hash (Karp-Rabin, the hash family of the original winnowing
    paper): min hash per ``stride`` block, windows of ``window``
    chars. The one deliberate non-Column function in this module — a
    vectorized numpy pass (8 shifted multiply-add-mod sweeps per
    batch) replaces ~chars interpreted Catalyst lambda steps per row
    (measured 1.6s -> ~0.2s for the sf0.1 text-analysis pass), and
    because every value is exact modular int64 arithmetic the SAME
    fingerprint is computable in DuckDB SQL — which upgrades the
    text-analysis oracle from structure-only to value-level. Still a
    narrow per-row projection: zero shuffle, batch-local, scales with
    the scan."""
    from pyspark.sql.types import ArrayType, LongType

    sentinel = np.iinfo(np.int64).max

    @F.pandas_udf(ArrayType(LongType()))
    def _win(s: pd.Series) -> pd.Series:
        out = []
        for text in s:
            if text is None:
                out.append(None)
                continue
            codes = np.frombuffer(
                text.encode("utf-32-le"), dtype=np.uint32
            ).astype(np.int64)
            n = len(codes) - window + 1
            if n <= 0:
                out.append([])
                continue
            h = np.zeros(n, dtype=np.int64)
            for j in range(window):
                h = (h * POLY_BASE + codes[j : j + n]) % POLY_MOD
            pad = (-n) % stride
            if pad:
                h = np.concatenate([h, np.full(pad, sentinel, dtype=np.int64)])
            out.append(h.reshape(-1, stride).min(axis=1).tolist())
        return pd.Series(out)

    return _win(_c(col))


def poly_winnow_oracle_exprs(
    text: str = "text", window: int = 8, stride: int = 4
) -> tuple[str, str, str]:
    """DuckDB mirror of ``winnowing_fingerprint_poly``: returns
    (codes_expr, hashes_expr, mins_expr) to be staged as chained CTE
    columns ``codes`` -> ``wh`` -> mins (staging mirrors the same
    re-evaluation hazard the Spark side avoids: an inline hash list
    would be recomputed per block). The per-window hash is the same
    fold with the mod applied at every step — exact BIGINT, so the
    mirror is bit-identical to the numpy tier."""
    codes = (
        f"LIST_TRANSFORM(GENERATE_SERIES(1, LENGTH({text})), "
        f"i -> CAST(UNICODE({text}[i]) AS BIGINT))"
    )
    h = "codes[i]"
    for j in range(1, window):
        h = f"(({h}) * {POLY_BASE} + codes[i+{j}]) % {POLY_MOD}"
    hashes = (
        f"LIST_TRANSFORM(GENERATE_SERIES(1, LENGTH({text}) - {window - 1}), "
        f"i -> {h})"
    )
    mins = (
        f"LIST_TRANSFORM(GENERATE_SERIES(0, "
        f"CAST(CEIL(LEN(wh) / {stride}.0) AS INT) - 1), "
        f"b -> LIST_MIN(LIST_SLICE(wh, b * {stride} + 1, b * {stride} + {stride})))"
    )
    return codes, hashes, mins


# ---------------------------------------------------------------------
# PII redaction (curation scrub pass)
# ---------------------------------------------------------------------

#: Frozen, ordered PII patterns (Java regex on the Spark side; each also
#: valid RE2 for a DuckDB REGEXP_REPLACE(..., 'g') mirror). Order
#: matters: emails first so their digits never half-match as phones.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b"),
    ("phone", r"\+?\d[\d\s().-]{7,}\d"),
)


def redact_pii(col: str | Column, token: str = "[PII]") -> Column:
    """Replace every PII match with ``token`` — the scrub pass a
    training corpus runs before anything else sees the text. A chain of
    four codegen'd regexp_replace ops over one column: zero shuffle,
    scales with the scan. Mirror: the same chain of
    REGEXP_REPLACE(..., 'g') in DuckDB."""
    c = _c(col)
    for _, pat in PII_PATTERNS:
        c = F.regexp_replace(c, pat, token)
    return c


def pii_counts(col: str | Column) -> dict[str, Column]:
    """Per-kind PII match counts (the audit metric next to the scrub).
    Mirror: LEN(REGEXP_EXTRACT_ALL(x, pattern)) per kind."""
    return {
        kind: F.size(F.regexp_extract_all(_c(col), F.lit(pat), F.lit(0)))
        for kind, pat in PII_PATTERNS
    }


# ---------------------------------------------------------------------
# Repetition signals (Gopher-style quality filters)
# ---------------------------------------------------------------------

def dup_line_ratio(col: str | Column) -> Column:
    """Fraction of lines that are duplicates of another line — the
    boilerplate detector (headers, nav bars, templated pages repeat
    lines; prose does not). 0.0 for single-line text.
    Mirror: 1 - LEN(LIST_DISTINCT(...))/LEN(STRING_SPLIT(x, chr(10)))."""
    lines = F.split(_c(col), "\n")
    return F.lit(1.0) - F.size(F.array_distinct(lines)) / F.size(lines)


def dup_ngram_ratio(
    col: str | Column, n: int = 3, shingles: Column | None = None
) -> Column:
    """Fraction of word n-grams that are repeats of an earlier n-gram —
    the Gopher-style duplicate-n-gram filter (templated/spun text
    repeats phrases; prose rarely does). 0.0 when the text has < n+1
    tokens (0 or 1 n-grams cannot repeat). Pure array math on one row:
    1 - distinct/total over the shingle array.
    Mirror: positional n-gram list in DuckDB, 1 -
    LEN(LIST_DISTINCT(g))/LEN(g) with the same short-input guard.
    ``shingles`` optionally reuses a pre-materialized
    ``word_shingles(col, n)`` column."""
    g = word_shingles(col, n) if shingles is None else shingles
    return F.when(F.size(g) <= 1, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.size(F.array_distinct(g)) / F.size(g)
    )


def top_token_ratio(col: str | Column, toks: Column | None = None) -> Column:
    """Fraction of tokens equal to the single most frequent token —
    high values flag degenerate/repetitive text (keyword stuffing,
    filler loops). Computed as the longest equal-run over the SORTED
    token array via one ``aggregate`` HOF: O(n log n) per row, no
    shuffle, no per-distinct rescan. NULL (propagated) on empty
    input."""
    t0 = tokens(col) if toks is None else toks
    t = F.array_sort(t0)
    run = F.aggregate(
        t,
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc.best,
                F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )
    return run / F.size(t0)


#: HTML -> text extraction steps, applied IN ORDER. One shared table
#: drives both engines (`html_text` compiles it to a Spark
#: regexp_replace chain, `html_text_sql` to the DuckDB mirror), so the
#: two implementations cannot drift. Patterns stay inside the
#: Java-regex/RE2 COMMON dialect (inline (?is) flags, non-greedy
#: repetition, explicit whitespace class — no lookaround, no
#: backreferences, no \s whose definition differs between engines);
#: replacements contain no $ or backslash, which are the two escape
#: characters the engines treat differently.
_HTML_STEPS: list[tuple[str, str]] = [
    # script/style elements go first, WITH their content
    (r"(?is)<script\b[^>]*>.*?</script>", " "),
    (r"(?is)<style\b[^>]*>.*?</style>", " "),
    (r"(?s)<!--.*?-->", " "),
    # then every remaining tag; a space preserves word boundaries
    (r"(?s)<[^>]+>", " "),
    # minimal entity decode; &amp; LAST so '&amp;lt;' -> '&lt;' (one
    # decoding pass, not two)
    (r"&nbsp;", " "),
    (r"&lt;", "<"),
    (r"&gt;", ">"),
    (r"&quot;", "\""),
    (r"&#39;", "'"),
    (r"&amp;", "&"),
    (r"[ \t\r\n\f]+", " "),
]


def html_text(col: str | Column) -> Column:
    """Dependency-free HTML -> text extraction as a whole-stage-codegen
    ``regexp_replace`` chain (zero Python in the hot path): drop
    script/style/comment blocks with their content, strip remaining
    tags (space-preserving), decode the six common entities, collapse
    whitespace, trim. The regex-level contract is deliberately simple
    and DETERMINISTIC rather than a browser-grade parser: attribute
    values containing a literal '>' end the tag early, and an unclosed
    <script> block (no matching close tag) falls through to tag
    stripping — both behaviors are identical in the DuckDB mirror
    (``html_text_sql``), which is what makes the operator
    oracle-checkable. For a 100 TB web corpus this is the ingestion
    step between `binaryFile`/WARC bytes and every text operator in
    this package."""
    out = _c(col)
    for pat, rep in _HTML_STEPS:
        out = F.regexp_replace(out, pat, rep)
    return F.trim(out)


def html_text_sql(expr: str) -> str:
    """DuckDB mirror of ``html_text`` over an SQL expression, generated
    from the same ``_HTML_STEPS`` table (term-for-term, same order)."""
    out = expr
    for pat, rep in _HTML_STEPS:
        p = pat.replace("'", "''")
        r = rep.replace("'", "''")
        out = f"REGEXP_REPLACE({out}, '{p}', '{r}', 'g')"
    return f"TRIM({out})"


#: URL component patterns — ONE extraction regex per component, shared
#: by the Spark and DuckDB faces (same common-dialect discipline as
#: ``_HTML_STEPS``). Group 1 is the component. Spark's builtin
#: ``parse_url`` is deliberately NOT used: it is java.net.URI behavior,
#: which no oracle engine reproduces; these regexes are the portable
#: contract.
_URL_PARTS: dict[str, str] = {
    # scheme://  (lowercased by the caller for canonical grouping)
    "scheme": r"^([A-Za-z][A-Za-z0-9+.-]*)://",
    # host = authority minus userinfo/port
    "host": r"^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]*)",
    "port": r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*:([0-9]+)",
    "path": r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)",
    "query": r"\?([^#]*)",
}


def url_parts(col: str | Column) -> dict[str, Column]:
    """Portable URL decomposition: scheme/host/port/path/query columns
    (empty string when absent — ``regexp_extract``'s no-match value,
    identical in the DuckDB mirror). All JVM-side, codegen-friendly."""
    c = _c(col)
    return {
        name: F.regexp_extract(c, pat, 1) for name, pat in _URL_PARTS.items()
    }


def url_features(col: str | Column) -> dict[str, Column]:
    """Per-URL curation features for domain-level corpus policy
    (per-domain sampling caps, TLD quality priors, spam-pattern
    screens): lowercased host, registrable-domain heuristic (last two
    host labels — a documented approximation of the public-suffix
    list, exact for .com/.org/... and one level short for ccSLDs like
    .co.uk), path depth, query-parameter count, and a
    host-is-IPv4-literal flag."""
    p = url_parts(col)
    host = F.lower(p["host"])
    labels = F.split(host, r"\.")
    n = F.size(labels)
    reg_domain = F.when(
        n >= 2,
        F.concat_ws(".", F.element_at(labels, -2), F.element_at(labels, -1)),
    ).otherwise(host)
    path = p["path"]
    path_depth = F.when(
        (path == "") | (path == "/"), F.lit(0)
    ).otherwise(F.size(F.split(F.regexp_replace(path, "^/|/$", ""), "/")))
    query = p["query"]
    n_params = F.when(query == "", F.lit(0)).otherwise(
        F.size(F.split(query, "&"))
    )
    is_ip = host.rlike(r"^[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}$")
    return {
        "host": host,
        "reg_domain": reg_domain,
        "path_depth": path_depth,
        "n_params": n_params,
        "is_ip_host": is_ip,
    }


def url_parts_sql(expr: str) -> dict[str, str]:
    """DuckDB mirror of ``url_parts`` from the same ``_URL_PARTS``
    table (``REGEXP_EXTRACT(x, pat, 1)`` returns '' on no-match,
    matching Spark)."""
    out = {}
    for name, pat in _URL_PARTS.items():
        p = pat.replace("'", "''")
        out[name] = f"REGEXP_EXTRACT({expr}, '{p}', 1)"
    return out
