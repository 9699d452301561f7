"""Eval-set decontamination: flag / remove corpus documents that
overlap a benchmark (eval) set by exact word-n-gram collision.

Distinct from dedup: dedup compares the corpus against ITSELF
(symmetric, similarity-thresholded); decontamination compares it
against a small external eval set (asymmetric, any overlap is a hit —
the standard n-gram decontamination used for LLM training corpora,
e.g. 8-13-gram collision against benchmark questions/answers).

Scale design (the part that matters at 100 TB):

- The eval side is SMALL by construction (benchmarks are MBs). Its
  distinct-shingle index is explicitly ``broadcast()`` — the corpus is
  NEVER shuffled to meet it (BroadcastHashJoin, map-side,
  plan-asserted in tests/test_plans.py).
- The only aggregation is over the HITS (rare by construction), so the
  one shuffle in ``contamination_stats`` moves O(contaminated
  shingles) rows, not O(corpus).
- ``decontaminate`` removes docs via a broadcast LEFT ANTI join on the
  contaminated-id set — zero corpus shuffle end to end.

Shingles are built on ``normalize_text`` (lowercase, punctuation
stripped, whitespace collapsed) so cosmetic formatting differences
between a corpus copy and the benchmark original still collide — the
same canonicalization the exact-dedup fingerprint uses.

The reference has no analogue (it is a single aggregate —
/root/reference/hashset-count.cc); this operator belongs to the
repo's LLM-pipeline extension surface (SURVEY.md §2.12).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import normalize_text


def _norm_tokens(text_col: str | Column) -> Column:
    """Tokens of the NORMALIZED text; blank-after-normalization yields
    an empty array."""
    norm = normalize_text(text_col)
    return F.when(F.length(norm) == 0, F.array().cast("array<string>")).otherwise(
        F.split(norm, " ")
    )


def _shingles_from_tokens(toks: Column, n: int) -> Column:
    """Distinct word n-grams from a token-array column; < n tokens
    yields an empty array (the same descending-sequence guard as
    functions.text.word_shingles). ``toks`` must be an ATTRIBUTE (a
    materialized column), not an inline expression: it is referenced
    inside the per-shingle lambda, and an inline normalize+split there
    would be re-evaluated per shingle — O(tokens x chars) per row
    (Catalyst inlines a non-attribute into every lambda reference)."""
    starts = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.array_distinct(
        F.transform(starts, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    )


def _shingled(
    df: DataFrame, id_cols: list[str], text_col: str, n: int
) -> DataFrame:
    """(ids..., __shs) with the normalized text AND the token array
    each staged as their own projection, so every downstream lambda
    (and the blank-guard's double reference to the normalization)
    reads an attribute instead of re-running the regex chain.

    SCALE WARNING (measured in round 5): do NOT ``explode(__shs)``
    over this frame — the optimizer collapses the token staging into
    the shingle lambda under a Generate, and the normalize+split chain
    re-evaluates PER SHINGLE (O(shingles x tokens) per document;
    observed 45x at sf0.1). Corpus-sized pipelines must use
    ``_shingle_pairs`` (explode-first, no array lambda on the hot
    path) instead; this array form remains for per-document outputs."""
    norm = df.select(*id_cols, normalize_text(text_col).alias("__norm"))
    toks = norm.select(
        *id_cols,
        F.when(
            F.length("__norm") == 0, F.array().cast("array<string>")
        ).otherwise(F.split("__norm", " ")).alias("__toks"),
    )
    return toks.select(
        *id_cols, _shingles_from_tokens(F.col("__toks"), n).alias("__shs")
    )


def _shingle_pairs(
    df: DataFrame, id_cols: list[str], text_col: str, n: int
) -> DataFrame:
    """(ids..., sh) — one row per shingle INSTANCE (not distinct),
    plus one (ids..., NULL) row for documents too short to form any
    shingle (so per-doc accounting can still see them; filter
    ``sh IS NOT NULL`` when only real shingles matter).

    This is the corpus-hot-path formulation: explode the START INDICES
    first (a Generate over a cheap int sequence whose child row
    materializes the token array ONCE per document), then build each
    shingle as a plain ``concat_ws(slice(...))`` projection over the
    Generate's materialized output — per-shingle cost is O(n), and no
    higher-order-function lambda exists for the optimizer to inline
    the tokenization into (the collapse that made the array form
    re-normalize per shingle; see ``_shingled``'s warning)."""
    toks = df.select(
        *id_cols, _norm_tokens(text_col).alias("__toks")
    )
    starts = toks.select(
        *id_cols,
        "__toks",
        F.explode_outer(
            F.when(
                F.size("__toks") >= n,
                F.sequence(F.lit(1), F.size("__toks") - (n - 1)),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("__i"),
    )
    sh = F.when(
        F.col("__i").isNotNull(),
        F.concat_ws(" ", F.slice(F.col("__toks"), F.col("__i"), n)),
    )
    return starts.select(*id_cols, sh.alias("sh"))


def eval_shingle_index(
    eval_df: DataFrame, text_col: str = "text", n: int = 8
) -> DataFrame:
    """Distinct normalized n-grams of the eval set — the broadcast
    side. One tiny input => one tiny index; the ``distinct()`` runs on
    the eval set's own partitions, never touching the corpus."""
    return (
        _shingle_pairs(eval_df, [], text_col, n)
        .filter(F.col("sh").isNotNull())
        .distinct()
    )


def contamination_stats(
    docs: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Per-document contamination audit: ``(id, n_shingles, n_hits,
    contamination_ratio, contaminated)``.

    ``n_hits`` counts the doc's DISTINCT shingles that appear anywhere
    in the eval set; ``contaminated`` is any-hit (the standard
    decontamination policy — a single 8-gram collision with a benchmark
    is disqualifying). Docs too short to form a shingle have
    ratio 0.0, not NULL (ANSI-safe: the division is guarded).

    ONE explode-first shingle pass over the corpus (round-5 rework —
    arm timing caught the previous array formulation at 38 s
    standalone for sf0.1: the shingle projection ran three times, and
    the optimizer additionally inlined the tokenization into the
    shingle lambda under the explode, re-normalizing PER SHINGLE; see
    ``_shingle_pairs``): shingle instances stream out of one Generate,
    dedup to per-doc DISTINCT shingles in a map-side-combining
    (id, sh) aggregate, LEFT-join the broadcast eval index with a hit
    indicator, and reduce per doc. Shuffle account: one exchange of
    the DISTINCT (id, shingle) pairs plus one of the per-doc partials
    — the same shingle-stream budget ``minhash_lsh_pairs`` runs on."""
    idx = eval_shingle_index(eval_df, eval_text_col, n).withColumn(
        "__inx", F.lit(True)
    )
    pairs = _shingle_pairs(docs, [id_col], text_col, n).groupBy(
        id_col, "sh"
    ).agg(F.lit(1).alias("__one"))
    return (
        pairs.join(F.broadcast(idx), "sh", "left")
        .groupBy(id_col)
        .agg(
            F.count("sh").cast("int").alias("n_shingles"),
            F.sum(
                F.when(F.col("__inx").isNotNull(), 1).otherwise(0)
            ).cast("long").alias("n_hits"),
        )
        .select(
            F.col(id_col),
            "n_shingles",
            "n_hits",
            F.round(
                F.when(F.col("n_shingles") == 0, F.lit(0.0)).otherwise(
                    F.col("n_hits") / F.col("n_shingles")
                ),
                4,
            ).alias("contamination_ratio"),
            (F.col("n_hits") > 0).alias("contaminated"),
        )
    )


def decontaminate(
    docs: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """The corpus minus every document sharing >= 1 normalized n-gram
    with the eval set. Broadcast LEFT ANTI on the contaminated-id set:
    the corpus is filtered in place, never shuffled."""
    idx = eval_shingle_index(eval_df, eval_text_col, n)
    contaminated_ids = (
        _shingle_pairs(docs, [id_col], text_col, n)
        .join(F.broadcast(idx), "sh")
        .select(id_col)
        .distinct()
    )
    return docs.join(F.broadcast(contaminated_ids), id_col, "left_anti")


def semantic_decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """The SEMANTIC tier of eval-set decontamination: drop every corpus
    row whose embedding is cosine-close (>= ``threshold`` on the
    6dp-rounded cosine, the engine-deterministic boundary the dedup
    tiers use) to ANY eval embedding — catching paraphrased/reworded
    eval leakage the n-gram tier (``decontaminate``) cannot see. The
    two tiers compose: run the n-gram screen first (cheap, exact), the
    semantic screen on survivors.

    Scale shape: the EVAL side is small by nature (benchmarks, not
    corpora) — it broadcasts, the corpus is scanned once and NEVER
    shuffled (a broadcast nested-loop over eval rows per corpus
    partition, then a broadcast anti join of the tiny contaminated-id
    set). For very large eval sets, pre-restrict candidates with the
    ANN machinery (`operators/similarity.py`) and exact-verify only
    candidates, exactly as the dedup tiers do."""
    from ..functions.vectors import cosine

    ev = F.broadcast(eval_df.select(F.col(vec_col).alias("__ev")))
    contaminated = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .join(ev)
        .withColumn("__cos", F.round(cosine(vec_col, "__ev"), 6))
        .filter(F.col("__cos") >= threshold)
        .select(id_col)
        .distinct()
    )
    return corpus.join(F.broadcast(contaminated), id_col, "left_anti")
