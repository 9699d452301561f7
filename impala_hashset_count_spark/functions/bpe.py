"""Real byte-pair-encoding tokenizer, Spark-first.

The reference has no tokenizer (`/root/reference/` is a single
distinct-count UDA); this is part of the LLM-pipeline extension
surface: train-data token accounting needs a REAL subword tokenizer,
not just the whitespace/regex estimates in ``functions.text``.

Two halves, each shaped for 100 TB:

- **Training** (``learn_bpe``): the only corpus-sized pass is ONE
  word-frequency aggregation (explode words -> groupBy -> count, with
  map-side partial agg). BPE merge learning then runs driver-side over
  the compact (word, freq) vocabulary — the textbook formulation
  operates on the word-frequency dict, never the corpus, so per-merge
  Spark jobs would be pure overhead. A ``top_n_words`` cap bounds the
  collect (frequency mass concentrates in the head; the tail
  contributes negligible pair counts).

- **Encoding** (``bpe_encode_expr`` etc.): merges apply as a chain of
  plain ``replace`` calls over a boundary-safe wrap encoding, entirely
  JVM-side whole-stage-codegen string ops — zero Python, zero shuffle,
  and mirrorable TERM BY TERM in DuckDB SQL for the driver's hash
  signal.

Wrap encoding: every symbol is wrapped as ``<sym>`` and words are
joined with ``|`` (tokens are [a-z]+ only, so the marker chars never
occur inside symbols). A merge (a, b) -> ab is then the literal string
replacement ``<a><b>`` -> ``<ab>``, which is

- prefix-safe: ``<a>`` cannot match inside ``<xa>`` (no ``<`` before
  the ``a``),
- suffix-safe: ``<a><b>`` cannot match ``<a><bc>`` (needs ``>`` right
  after the ``b``),
- adjacency-exact: consecutive matches share no characters, so one
  left-to-right ``replace`` pass merges ALL occurrences exactly like
  the classic left-to-right BPE merge step (space-separated encodings
  break here — adjacent pairs share the boundary space, and the first
  replacement consumes it).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Frozen merge table learned from the synthetic sf0.001 documents
#: corpus via ``learn_bpe`` (seedless — the corpus itself is the
#: artifact's provenance), shipped the way production tokenizers ship
#: a fixed vocab file. Rank order IS application order.
DEFAULT_MERGES: list[tuple[str, str]] = [
    ("e", "r"), ("o", "r"), ("i", "n"), ("o", "w"), ("s", "t"),
    ("l", "u"), ("a", "r"), ("p", "ar"), ("m", "er"), ("a", "t"),
    ("a", "n"), ("c", "an"), ("s", "can"), ("c", "o"), ("co", "lu"),
    ("colu", "m"), ("colum", "n"), ("d", "ow"), ("in", "dow"),
    ("w", "indow"), ("d", "er"), ("or", "der"), ("or", "t"),
    ("s", "ort"), ("par", "t"), ("u", "p"), ("a", "g"), ("ag", "g"),
    ("a", "lu"), ("alu", "e"), ("v", "alue"), ("in", "e"),
    ("l", "ine"), ("e", "y"), ("k", "ey"), ("j", "o"), ("jo", "in"),
    ("g", "e"), ("mer", "ge"), ("er", "y"), ("g", "r"), ("gr", "o"),
    ("gro", "up"), ("q", "u"), ("qu", "ery"), ("c", "t"),
    ("ct", "or"), ("e", "ctor"),
]


def _word_regex() -> str:
    return "[a-z]+"


def bpe_wrap_expr(col: str | Column) -> Column:
    """Lowercased [a-z]+ words of ``col`` in wrap encoding:
    ``"Hello, world"`` -> ``"<h><e><l><l><o>|<w><o><r><l><d>"``.
    Mirror (DuckDB): REGEXP_REPLACE(ARRAY_TO_STRING(
    REGEXP_EXTRACT_ALL(LOWER(x), '[a-z]+'), '|'), '([a-z])', '<\\1>',
    'g')."""
    c = F.col(col) if isinstance(col, str) else col
    joined = F.array_join(
        F.regexp_extract_all(F.lower(c), F.lit(_word_regex()), F.lit(0)), "|"
    )
    return F.regexp_replace(joined, "([a-z])", "<$1>")


def bpe_encode_expr(
    col: str | Column, merges: list[tuple[str, str]] | None = None
) -> Column:
    """Wrap-encoded BPE symbol string after applying ``merges`` in rank
    order — each merge is one codegen'd ``replace``. The whole chain is
    a static expression tree; Catalyst constant-folds the patterns."""
    merges = DEFAULT_MERGES if merges is None else merges
    s = bpe_wrap_expr(col)
    for a, b in merges:
        s = F.replace(s, F.lit(f"<{a}><{b}>"), F.lit(f"<{a}{b}>"))
    return s


def bpe_token_count_expr(
    col: str | Column, merges: list[tuple[str, str]] | None = None
) -> Column:
    """Exact BPE token count of ``col`` under ``merges``: the number of
    ``<`` markers in the encoded string (every token is wrapped exactly
    once; word separators contribute none). NULL text -> NULL; no
    [a-z] words -> 0."""
    s = bpe_encode_expr(col, merges)
    return (F.length(s) - F.length(F.replace(s, F.lit("<")))).cast("int")


def bpe_tokens_expr(
    col: str | Column, merges: list[tuple[str, str]] | None = None
) -> Column:
    """The BPE token sequence as an array<string> (word boundaries
    dropped). Mirror: REGEXP_EXTRACT_ALL(encoded, '<([a-z]+)>', 1)."""
    s = bpe_encode_expr(col, merges)
    return F.regexp_extract_all(s, F.lit("<([a-z]+)>"), F.lit(1))


def bpe_encode_sql(expr: str, merges: list[tuple[str, str]] | None = None) -> str:
    """DuckDB mirror of ``bpe_encode_expr`` over SQL expression
    ``expr`` — the oracle half of the hash signal."""
    merges = DEFAULT_MERGES if merges is None else merges
    # DuckDB's ARRAY_TO_STRING([], '|') is NULL where Spark's
    # array_join is '' — coalesce, but keep NULL text NULL
    joined = (
        f"CASE WHEN ({expr}) IS NULL THEN NULL ELSE "
        f"COALESCE(ARRAY_TO_STRING(REGEXP_EXTRACT_ALL(LOWER({expr}), "
        f"'[a-z]+'), '|'), '') END"
    )
    s = f"REGEXP_REPLACE({joined}, '([a-z])', '<\\1>', 'g')"
    for a, b in merges:
        s = f"REPLACE({s}, '<{a}><{b}>', '<{a}{b}>')"
    return s


# ---------------------------------------------------------------------
# Pure-Python reference encoder (test oracle + driver-side use)
# ---------------------------------------------------------------------

def encode_word(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Classic BPE encode of one lowercase word: start from characters,
    apply each merge rank in order with ONE left-to-right greedy pass
    (the exact semantics of the wrap-encoded ``replace`` chain —
    property-tested equal in tests/test_bpe.py)."""
    syms = list(word)
    for a, b in merges:
        if len(syms) < 2:
            break
        out: list[str] = []
        i = 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def learn_bpe_from_counts(
    word_counts: dict[str, int], n_merges: int, min_freq: int = 2
) -> list[tuple[str, str]]:
    """Driver-side BPE merge learning over a (word -> frequency) dict —
    the textbook algorithm: repeatedly merge the most frequent adjacent
    symbol pair (weighted by word frequency). Fully deterministic: ties
    break on the lexicographically smallest pair. Stops early when no
    pair reaches ``min_freq``."""
    vocab = {tuple(w): c for w, c in word_counts.items() if w}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pairs[p] = pairs.get(p, 0) + c
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_freq:
            break
        a, b = best[0]
        merges.append((a, b))
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, c in vocab.items():
            merged: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    merged.append(a + b)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            key = tuple(merged)
            new_vocab[key] = new_vocab.get(key, 0) + c
        vocab = new_vocab
    return merges


def learn_bpe(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 40,
    min_freq: int = 2,
    top_n_words: int = 50_000,
) -> list[tuple[str, str]]:
    """Distributed BPE training: ONE Spark aggregation computes the
    word-frequency table (the only pass that touches the corpus — at
    100 TB this is an explode + map-side-combined count, the same
    shape as ``corpus_stats.term_doc_stats``), capped to the
    ``top_n_words`` most frequent words (deterministic tie-break on the
    word) before the driver-side merge loop. The merge loop itself is
    O(vocab), not O(corpus) — running it as Spark jobs would re-shuffle
    a tiny table per merge for nothing."""
    wc = (
        df.select(
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col(text_col)), F.lit(_word_regex()), F.lit(0)
                )
            ).alias("w")
        )
        .groupBy("w")
        .count()
        .orderBy(F.desc("count"), "w")
        .limit(top_n_words)
    )
    counts = {r["w"]: r["count"] for r in wc.collect()}
    return learn_bpe_from_counts(counts, n_merges, min_freq)
