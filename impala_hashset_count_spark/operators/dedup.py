"""Deduplication operators for the training-data pipeline.

Five tiers, from exact to semantic, each a composition of built-in
DataFrame ops (no Python in any hot path):

1. exact            — hash groupBy on the column (or its fingerprint)
2. n-gram Jaccard   — exact set similarity via a shared-shingle
                      self-join (the candidate generator is the inverted
                      index the join builds implicitly)
3. MinHash + LSH    — probabilistic candidates via banded signatures,
                      then EXACT Jaccard verification of candidates only
4. SimHash          — 64-bit near-dup signature; Hamming-ball pairing
                      via pigeonhole band join
5. embedding cosine — semantic near-dup over array<float> vectors

Scale analysis (100 TB, ~10^10 docs):
- The all-pairs Jaccard join (tier 2) is quadratic in docs-per-shingle;
  it exists as the EXACT oracle-checkable tier and for verification of
  candidates. ``max_shingle_docs`` drops ultra-common shingles (the
  classic inverted-index skew guard).
- MinHash/LSH (tier 3) is the production tier: signature size is
  constant (k hashes), band join is equi-join on (band_id, band_hash) —
  shuffle size O(docs * bands), independent of document length; AQE
  handles banding skew. Verification touches only candidate pairs.
- SimHash (tier 4): one 64-bit signature per doc; pigeonhole on c
  chunks (equi-join on every (c-d)-subset key) guarantees recall for
  Hamming distance <= d at any c >= d+1 — c is the submit-time
  candidate-volume knob, derived from corpus size by
  ``simhash_n_chunks`` (c=4 to ~65k docs, c=5 to ~13M, ...).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.vectors import cosine
from ..sources.tables import plan_bytes, spread_small


#: Inputs at or above this estimated size flip the LOCAL checkpoint
#: blocks (and the shingle-array persist) to serialized DISK_ONLY
#: storage. ``localCheckpoint``'s default keeps deserialized partition
#: blocks on the executor heap — at the third data decade that is a
#: memory cliff, not a tuning knob: the r9 sf100 sweep OOMed a 24 GiB
#: heap at the candidates checkpoint (SF100_SWEEP_r09.json), because a
#: deserialized block must be BUILT in memory before it can spill.
#: DISK_ONLY streams each block serialized to local disk instead (the
#: optimization guide §5 posture for large reused intermediates). The
#: gate reads the INPUT's optimizer size estimate (``plan_bytes``; for
#: a parquet scan: file bytes), so bench-SF behavior is byte-identical
#: and only genuinely large runs pay the serialization.
_CKPT_DISK_MIN_BYTES = 1 << 29


def _eager_checkpoint(
    df: DataFrame, mode: str, spill_safe: bool = False
) -> DataFrame:
    """Eager lineage-truncating checkpoint — the shared submit-time
    fault-tolerance knob (``checkpoint_mode``) of the iterative /
    multi-consumer dedup operators.

    ``mode='local'`` (default): ``localCheckpoint`` — blocks live on
    executor local storage. Fastest, but a lost executor's blocks
    cannot be recomputed (lineage is truncated) and the RUN fails.
    Right for bench/parity surfaces and short jobs where re-running is
    cheaper than replicating.

    ``mode='reliable'``: ``checkpoint(eager=True)`` against the
    session's configured checkpoint directory
    (``sc.setCheckpointDir`` — an object-store path on a real
    cluster). Survives executor loss — the 100 TB posture for
    long-running dedup jobs, where losing hour N-1's banding to one
    preempted executor is not acceptable. Requires the dir to be set;
    raises immediately (not mid-job) if it is not.

    ``spill_safe=True`` (callers set it above ``_CKPT_DISK_MIN_BYTES``
    of input) stores local-checkpoint blocks serialized DISK_ONLY —
    identical results, no deserialized-block heap cliff at scale."""
    if mode == "local":
        if spill_safe:
            return df.localCheckpoint(
                eager=True, storageLevel=StorageLevel.DISK_ONLY
            )
        return df.localCheckpoint()
    if mode == "reliable":
        sc = df.sparkSession.sparkContext
        if sc._jsc.sc().getCheckpointDir().isEmpty():
            raise ValueError(
                "checkpoint_mode='reliable' needs a checkpoint dir: call "
                "spark.sparkContext.setCheckpointDir('<object-store path>') first"
            )
        return df.checkpoint(eager=True)
    raise ValueError(
        f"checkpoint_mode must be 'local' or 'reliable', got {mode!r}"
    )


# ---------------------------------------------------------------------
# 1. Exact dedup
# ---------------------------------------------------------------------

def exact_dedup(df: DataFrame, cols: list[str], order_col: str) -> DataFrame:
    """Keep exactly one row per distinct ``cols`` — deterministically the
    lowest ``order_col`` (``dropDuplicates`` keeps an arbitrary row,
    which can differ run-to-run; never acceptable in a data pipeline).
    One shuffle on the dedup key."""
    w = Window.partitionBy(*cols).orderBy(F.col(order_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def exact_dedup_incremental(
    new_df: DataFrame,
    seen_keys: DataFrame,
    cols: list[str],
    order_col: str,
) -> DataFrame:
    """Incremental exact dedup for a continuously-ingesting corpus:
    dedup the NEW batch within itself (keep-lowest, as ``exact_dedup``),
    then drop rows whose key already exists in ``seen_keys`` (the
    historical key table, e.g. stored fingerprints of everything
    ingested so far) via LEFT ANTI join.

    Scale shape: the new batch is small relative to history, so both
    the window and the anti-join shuffle only the batch — history is
    shuffled once on its key (or not at all if ``seen_keys`` is stored
    bucketed by the key, `operators.skew.bucketed_table`). This is the
    standard "don't re-ingest what the corpus already has" pass; the
    caller appends the survivors' keys to ``seen_keys`` afterwards."""
    fresh = exact_dedup(new_df, cols, order_col)
    return fresh.join(seen_keys.select(*cols).distinct(), cols, "left_anti")


# ---------------------------------------------------------------------
# 2. Exact n-gram Jaccard
# ---------------------------------------------------------------------

def _shingle_expr(n: int, hashed: bool):
    def build(i):
        sh = F.concat_ws(" ", F.slice("__toks", i, n))
        return F.xxhash64(sh) if hashed else sh

    # Guard short docs: Spark's sequence(1, 0) is DESCENDING ([1, 0]),
    # and slice(_, 0, n) then throws INVALID_PARAMETER_VALUE — a doc
    # with < n tokens must yield zero shingles, not an error.
    seq = F.when(
        F.size("__toks") >= n,
        F.sequence(F.lit(1), F.size("__toks") - (n - 1)),
    ).otherwise(F.array().cast("array<int>"))
    return F.explode(F.transform(seq, build))


def shingle_sets(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, shingle) exploded distinct word-n-gram rows — the inverted
    index both the exact and MinHash tiers build on.

    Tokenization is materialized as a column BEFORE the shingle lambda:
    inlining ``split()`` into the transform re-evaluates the split per
    shingle (O(tokens^2) measured 4.7x slower at sf0.1)."""
    toks = spread_small(df).select(
        F.col(id_col), F.split(F.trim(F.col(text_col)), r"\s+").alias("__toks")
    )
    return toks.select(F.col(id_col), _shingle_expr(n, hashed=False).alias("sh")).distinct()


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_docs: int | None = None,
) -> DataFrame:
    """Exact Jaccard over word-n-gram sets for every pair sharing >= 1
    shingle. Returns (id_1, id_2, jaccard) with id_1 < id_2.

    ``max_shingle_docs`` drops shingles appearing in more than that many
    docs before pairing — a skew guard: one 10M-doc boilerplate shingle
    would otherwise create 10^13 join rows. Leave None for oracle-exact
    parity runs; set it in production."""
    scored = ngram_jaccard_scored_pairs(
        df, id_col, text_col, n, threshold, max_shingle_docs
    )
    return scored.select(
        "id_1", "id_2", F.round("jaccard", 4).alias("jaccard")
    )


def ngram_jaccard_scored_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_docs: int | None = None,
) -> DataFrame:
    """``ngram_jaccard_pairs`` with the UNROUNDED jaccard column — the
    shareable form: one inverted-index pass at a loose threshold can
    serve several consumers that re-filter on the exact (unrounded)
    jaccard at their own tighter thresholds, because per-pair Jaccard
    depends only on the two documents' shingle sets (adding or removing
    OTHER documents from ``df`` never changes a surviving pair's
    value). The threshold here filters the unrounded value, exactly as
    the public wrapper always did."""
    sd = shingle_sets(df, id_col, text_col, n).cache()
    sizes = sd.groupBy(id_col).agg(F.count("*").alias("sz"))
    pairs_src = sd
    if max_shingle_docs is not None:
        rare = (
            sd.groupBy("sh")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") <= max_shingle_docs)
            .select("sh")
        )
        pairs_src = sd.join(rare, "sh")
    a = pairs_src.select(F.col(id_col).alias("id_1"), "sh")
    b = pairs_src.select(F.col(id_col).alias("id_2"), "sh")
    common = (
        a.join(b, "sh")
        .filter(F.col("id_1") < F.col("id_2"))
        .groupBy("id_1", "id_2")
        .agg(F.count("*").alias("common"))
    )
    s1 = sizes.select(F.col(id_col).alias("id_1"), F.col("sz").alias("sz_1"))
    s2 = sizes.select(F.col(id_col).alias("id_2"), F.col("sz").alias("sz_2"))
    jac = F.col("common") / (F.col("sz_1") + F.col("sz_2") - F.col("common"))
    return (
        common.join(s1, "id_1")
        .join(s2, "id_2")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_1", "id_2", "jaccard")
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    candidate_threshold: float = 0.3,
    prefix: int = 256,
    min_sim: float = 0.4,
    max_shingle_docs: int | None = None,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Fuzzy near-dup pairs by EDIT DISTANCE: candidates from the
    shared-shingle inverted index at a LOOSE Jaccard threshold
    (``candidate_threshold``), each verified with JVM-side
    ``levenshtein`` over a bounded ``prefix`` of both texts. Returns
    (id_1, id_2, edit_sim) with id_1 < id_2 and
    ``edit_sim = 1 - lev/max(len)`` >= ``min_sim``.

    Scale notes: candidate generation is the same O(shared-shingles)
    join the exact tier uses (``max_shingle_docs`` skew guard applies);
    the O(prefix^2) DP runs ONLY on candidate pairs and is bounded by
    the prefix regardless of document length — at 100 TB the cost is
    candidates x a constant, never corpus x corpus. edit_sim is two
    IEEE ops on exact ints (division + subtraction), so the value is
    engine-bit-stable for the oracle hash.

    ``candidates`` (id_1, id_2 superset of the loose-Jaccard pairs over
    ``df``) skips the internal candidate pass — callers that already
    ran the inverted index at ``candidate_threshold`` over a SUPERSET
    corpus pass it here, so one shingle self-join serves both tiers.
    The inner prefix joins below restrict to ids present in ``df``,
    and pairs' Jaccard values are corpus-independent, so the verified
    output is identical. ``n``, ``candidate_threshold`` and
    ``max_shingle_docs`` shape only the internal candidate pass, so
    passing a non-default value of any of them together with
    ``candidates`` raises ``ValueError``."""
    if candidates is not None:
        if (n, candidate_threshold, max_shingle_docs) != (3, 0.3, None):
            raise ValueError(
                "n, candidate_threshold and max_shingle_docs have no "
                "effect when candidates is given"
            )
        cand = candidates.select("id_1", "id_2")
    else:
        cand = ngram_jaccard_pairs(
            df, id_col, text_col, n, candidate_threshold, max_shingle_docs
        ).select("id_1", "id_2")
    t = df.select(
        F.col(id_col).alias("_eid"),
        F.substring(F.col(text_col), 1, prefix).alias("_pfx"),
    )
    p = cand.join(
        t.select(F.col("_eid").alias("id_1"), F.col("_pfx").alias("p1")), "id_1"
    ).join(t.select(F.col("_eid").alias("id_2"), F.col("_pfx").alias("p2")), "id_2")
    mx = F.greatest(F.length("p1"), F.length("p2"))
    sim = F.when(mx == 0, F.lit(1.0)).otherwise(
        F.lit(1.0) - F.levenshtein("p1", "p2") / mx
    )
    return (
        p.select("id_1", "id_2", sim.alias("edit_sim"))
        .filter(F.col("edit_sim") >= min_sim)
    )


# ---------------------------------------------------------------------
# 3. MinHash + banded LSH
# ---------------------------------------------------------------------

def doc_shingle_arrays(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, hash_fn: str = "xxhash64"
) -> DataFrame:
    """(id, shs: array<long>) — each doc's distinct hashed-shingle set as
    ONE array row, computed as a PURE per-row array expression:
    tokenize -> transform over shingle start positions -> hash ->
    array_distinct. No explode, no shuffle, no Python — 4.7x faster
    than explode+collect_set at sf0.1 and embarrassingly parallel at
    any scale.

    ``hash_fn='xxhash64'`` (production) hashes the token n-tuple with
    the n-ary xxhash64 — no concatenated shingle string materializes
    (tokens contain no whitespace, so (t1,t2,t3) is injective where
    't1 t2 t3' concat would be too). ``hash_fn='md5'`` (the
    oracle-checkable tier, same pattern as ``simhash_signatures``)
    derives a 60-bit id from md5 of the space-joined shingle — exactly
    ``CAST('0x' || SUBSTRING(MD5(w1||' '||w2||' '||w3), 1, 15) AS
    BIGINT)`` in any engine with md5.

    SQL-text lambda (not Python) per the HOF canonicalization pitfall
    documented at ``_lsh_band_rows``."""
    toks = spread_small(df).select(
        F.col(id_col), F.split(F.trim(F.col(text_col)), r"\s+").alias("__toks")
    )
    elts = ", ".join(f"element_at(__toks, i + {j})" for j in range(n))
    if hash_fn == "xxhash64":
        h = f"xxhash64({elts})"
    elif hash_fn == "md5":
        h = (
            f"CAST(conv(substring(md5(concat_ws(' ', {elts})), 1, 15), 16, 10) "
            f"AS BIGINT)"
        )
    else:
        raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")
    expr = (
        f"CASE WHEN size(__toks) >= {n} THEN "
        f"array_distinct(transform(sequence(1, size(__toks) - {n - 1}), "
        f"i -> {h})) "
        f"ELSE CAST(array() AS array<bigint>) END"
    )
    return toks.select(F.col(id_col), F.expr(expr).alias("shs"))


def _lsh_band_rows(
    docs: DataFrame,
    id_col: str,
    k: int,
    bands: int,
    hash_fn: str,
) -> DataFrame:
    """(id, band_id, band_hash) rows from per-doc shingle arrays — the
    shared banding step of the batch and incremental LSH faces.

    Two SQL lambdas build the whole step: the signature maps each
    permutation index ``i`` in ``sequence(0, k-1)`` to the min of the
    permuted shingle hashes, and the bands map each ``b`` in
    ``sequence(0, bands-1)`` to a (band_id, band_hash) struct over the
    signature slice, exploded by ``inline``. ``i`` and ``b`` are INT,
    so the hashes equal the groupBy-min formulation with integer
    permutation keys. The md5 tier derives permutation i's hash of a
    shingle id x as the 60-bit md5 of '{i}:{x}' — mirrorable as
    MIN(CAST('0x' || SUBSTRING(MD5(CONCAT('{i}:', CAST(x AS
    VARCHAR))), 1, 15) AS BIGINT)) per doc in any md5-bearing engine —
    and a band value is the slice's decimal strings joined by '_'
    (equality of the string IS equality of the tuple).

    SQL text, not Python lambdas: PySpark canonicalizes the lambda
    variables of Python-callable HOFs such that transforms differing
    only in a captured literal collapse into ONE expression (k
    per-permutation mins built that way all came out identical on
    4.1.2)."""
    rows = k // bands
    sl = f"slice(__sig, b * {rows} + 1, {rows})"
    if hash_fn == "xxhash64":
        perm = "xxhash64(i, x)"
        band = f"xxhash64(b, {sl})"
    else:
        perm = (
            "CAST(conv(substring(md5(concat(CAST(i AS STRING), ':', "
            "CAST(x AS STRING))), 1, 15), 16, 10) AS BIGINT)"
        )
        band = f"concat_ws('_', transform({sl}, v -> CAST(v AS STRING)))"
    # shs is bound once, as the outer lambda's s: CollapseProject inlines
    # a producer that is referenced once, so a bare shs inside the
    # i-lambda would re-derive an unmaterialized shs (as
    # minhash_lsh_index passes it) k times per doc — 3.5x slower at sf0.1
    sig = docs.select(
        F.col(id_col),
        F.expr(
            f"transform(array(shs), s -> transform(sequence(0, {k - 1}), "
            f"i -> array_min(transform(s, x -> {perm}))))[0]"
        ).alias("__sig"),
    )
    return sig.select(
        F.col(id_col),
        F.inline(
            F.expr(
                f"transform(sequence(0, {bands - 1}), "
                f"b -> named_struct('band_id', b, 'band_hash', {band}))"
            )
        ),
    )


def _verified_jaccard_pairs(
    candidates: DataFrame,
    docs: DataFrame,
    id_col: str,
    threshold: float,
    hot_shingle_docs: int,
    checkpoint_mode: str,
    spill_safe: bool = False,
) -> DataFrame:
    """Shared exact-Jaccard verification tail of the batch and
    incremental MinHash-LSH faces, over the checkpointed ``candidates``
    and the (id, shs) ``docs`` holding every candidate's shingle set:
    the narrow guarded inverted-index common-shingle count over ``ex``
    (the checkpointed exploded (id, __sz, __h) stream of candidate docs
    only) and the threshold filter. See ``minhash_lsh_pairs`` for the
    full semantics (hot/cold vocabulary split, exactness argument).

    Each stream row carries its doc's set size: ``shs`` is
    ``array_distinct``, so ``size(shs)`` equals the doc's posting
    count, and the pair counts carry both sizes to the Jaccard."""
    cand_ids = candidates.select(
        F.explode(F.array("id_1", "id_2")).alias(id_col)
    ).distinct()
    # cand_ids / hot_h are usually tiny but UNBOUNDED on adversarial
    # corpora, so no forced broadcast hints — AQE converts these
    # joins to broadcast at runtime when the built side is actually
    # small, which is the safe 100 TB default.
    ex = _eager_checkpoint(
        docs.join(cand_ids, id_col, "left_semi").select(
            F.col(id_col),
            F.size("shs").alias("__sz"),
            F.explode("shs").alias("__h"),
        ),
        checkpoint_mode,
        spill_safe,
    )
    # Materialized ONCE: without it the aggregate subtree is re-embedded
    # per consumer (the cold anti-join and the hot semi-join) and
    # static planning/AQE do NOT reuse the stage (measured r9: the
    # entry's executed plan carried the ``__df`` aggregate 4x). It is
    # small by construction (bounded by |stream| / cap). A grouped
    # aggregate, not a window count over ``__h``: the window would send
    # every posting of a boilerplate shingle to one task — the skew
    # this guard exists for.
    hot_h = _eager_checkpoint(
        ex.groupBy("__h")
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") > hot_shingle_docs)
        .select("__h"),
        checkpoint_mode,
        spill_safe,
    )

    def side(stream: DataFrame, j: int) -> DataFrame:
        return stream.select(
            F.col(id_col).alias(f"id_{j}"), F.col("__sz").alias(f"sz_{j}"), "__h"
        )

    def counted(pairs: DataFrame, common) -> DataFrame:
        # sz_j is a function of id_j, so max() only carries it; keying
        # on (id_1, id_2) alone keeps the aggregate hash-partitioned
        # the way the candidates join below needs (keying on all four
        # columns re-shuffles the pair counts before that join)
        return pairs.groupBy("id_1", "id_2").agg(
            common.alias("__common"), F.max("sz_1").alias("sz_1"),
            F.max("sz_2").alias("sz_2"),
        )

    ex_cold = ex.join(hot_h, "__h", "left_anti")
    pc_cold = counted(
        side(ex_cold, 1)
        .join(side(ex_cold, 2), "__h")
        .filter(F.col("id_1") < F.col("id_2")),
        F.count("*"),
    )
    ex_hot = ex.join(hot_h, "__h", "left_semi")
    pc_hot = counted(
        candidates.join(side(ex_hot, 1), "id_1")
        .join(side(ex_hot, 2), ["id_2", "__h"]),
        F.count("*"),
    )
    pair_common = counted(pc_cold.unionByName(pc_hot), F.sum("__common"))
    jac = F.col("__common") / (
        F.col("sz_1") + F.col("sz_2") - F.col("__common")
    )
    return (
        candidates.join(pair_common, ["id_1", "id_2"])
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_1", "id_2", F.round("jaccard", 4).alias("jaccard"))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 64,
    bands: int = 32,
    threshold: float = 0.5,
    max_bucket_docs: int | None = None,
    hash_fn: str = "xxhash64",
    hot_shingle_docs: int = 256,
    checkpoint_mode: str = "local",
) -> DataFrame:
    """Near-dup pairs via banded MinHash-LSH, verified with EXACT
    Jaccard so the output contains no false positives. With k=64 and
    bands=32 (rows r=2), detection probability at j=0.5 is
    1-(1-0.25)^32 ~ 0.99996 — recall misses are possible in principle
    but vanishingly rare above the threshold. Returns
    (id_1, id_2, jaccard).

    ``hash_fn='md5'`` selects the oracle-checkable tier (the
    ``simhash_signatures`` pattern): md5-derived 60-bit shingle ids
    and permutation hashes, band values as joined decimal strings —
    every step recomputable in SQL, so the registry entry carries a
    full DuckDB oracle. GIVEN the hash the pair set is deterministic
    (LSH is probabilistic only over the hash choice). Production
    stays on xxhash64 (n-ary hash, no shingle string materialized).

    Shuffle budget (the 100 TB accounting): ONE shuffle of the hashed
    shingle stream builds the per-doc arrays; signatures and band hashes
    are columnar on top of it; the band equi-join shuffles O(docs*bands)
    16-byte rows; verification explodes ONLY the candidate docs'
    shingle arrays (semi-join to the candidate id set — broadcast) and
    counts common shingles with an inverted-index self-join of narrow
    (id, hash) rows, so the corpus-wide shingle index is never
    re-shuffled and nothing wide crosses an exchange.

    ``hot_shingle_docs`` guards the verification self-join the way
    ``max_bucket_docs`` guards banding, but WITHOUT changing results
    (distinct from ``ngram_jaccard_pairs``'s recall-trading
    ``max_shingle_docs``, which DROPS ultra-common shingles):
    a shingle posted in B candidate docs does O(B^2) self-join work,
    so shingles above the cap are counted through a candidate-driven
    membership probe (linear in candidates) instead. The hot/cold
    split partitions the shingle vocabulary, so the summed counts are
    bit-identical at every cap — this guard is always on.

    ``max_bucket_docs`` is the quadratic-blowup guard: a band bucket
    holding B docs emits B^2/2 candidate pairs, and at corpus scale one
    boilerplate cluster (license headers, templated pages) can put
    millions of docs in one bucket. Buckets larger than the cap are
    dropped BEFORE pairing; the member docs still pair through their
    other (bands-1) buckets, so recall for genuinely-similar pairs
    degrades only slightly while the worst case goes from O(B^2) to
    O(cap * B). None (default) keeps exact LSH semantics for parity
    runs; always set it in production.

    Fault tolerance: three eager checkpoints (the candidate pairs, the
    candidate docs' shingle stream and its hot-shingle set) truncate
    lineage at call time; ``checkpoint_mode`` picks where the blocks
    live — ``'local'`` (default: executor-local, fastest, executor loss fails
    the run — right for bench/parity surfaces where re-running is
    cheap) or ``'reliable'`` (the configured ``sc.setCheckpointDir``
    path, survives executor loss — the long-job 100 TB posture). Both
    modes produce identical results (equality-tested); see
    ``_eager_checkpoint``."""
    # Above the gate (large inputs only — see _CKPT_DISK_MIN_BYTES) the
    # reused intermediates store serialized on disk instead of as
    # deserialized heap blocks: identical results, no sf100 heap cliff.
    spill_safe = plan_bytes(df) >= _CKPT_DISK_MIN_BYTES
    docs = doc_shingle_arrays(df, id_col, text_col, n, hash_fn=hash_fn)
    docs = docs.persist(
        StorageLevel.DISK_ONLY if spill_safe else StorageLevel.MEMORY_AND_DISK_DESER
    )
    band_rows = _lsh_band_rows(docs, id_col, k, bands, hash_fn)
    if max_bucket_docs is not None:
        small = (
            band_rows.groupBy("band_id", "band_hash")
            .agg(F.count("*").alias("__bucket_docs"))
            .filter(F.col("__bucket_docs") <= max_bucket_docs)
            .drop("__bucket_docs")
        )
        band_rows = band_rows.join(small, ["band_id", "band_hash"])
    a = band_rows.select(F.col(id_col).alias("id_1"), "band_id", "band_hash")
    b = band_rows.select(F.col(id_col).alias("id_2"), "band_id", "band_hash")
    candidates = (
        a.join(b, ["band_id", "band_hash"])
        .filter(F.col("id_1") < F.col("id_2"))
        .select("id_1", "id_2")
        .distinct()
    )
    # Exact verification via the INVERTED-INDEX pair count, not by
    # joining each candidate pair to both per-doc arrays: the r7 sf10
    # sweep showed the array form ships every pair's two shingle-hash
    # arrays (~1.5 KB each) through the second join's exchange —
    # ~37 GB of shuffle for 2.5e7 within-cluster candidates, a
    # disk-filling cost the narrow form does not have. Here the
    # exploded (id, h) stream self-joins on h with the map-side
    # partial count collapsing each task's output to distinct (id_1,
    # id_2) partials (24-byte rows), and candidates inner-join the
    # counts — a candidate sharing zero shingles (possible only via a
    # permutation-hash collision) has jaccard 0 and was dropped by the
    # threshold before, so the inner join preserves the output
    # exactly. This is the mcommon shape of the entry's own DuckDB
    # oracle, so plan and mirror now agree structurally too.
    #
    # Two exact-preserving scale guards on top of that shape (r7
    # verdict: one boilerplate shingle in 1e6 docs is 5e11 join rows
    # with no cap):
    #  1. the exploded stream is SEMI-JOINED to the candidate id set
    #     first — only docs that survived banding can contribute to a
    #     verified pair (_verified_jaccard_pairs inner-joins the
    #     counts with candidates), so counting shingles of non-candidate docs is pure
    #     waste. Candidate ids are O(pairs), tiny after banding; AQE
    #     broadcasts the semi-join and the corpus-wide stream never
    #     shuffles.
    #  2. shingles shared by more than ``hot_shingle_docs`` candidate
    #     docs are split out of the self-join (which does O(B^2) work
    #     per shingle) and counted via the candidate-driven membership
    #     probe instead — candidates join postings on id_1, then
    #     equi-join on (id_2, __h): O(|candidates| * hot shingles per
    #     doc), linear in candidates. Same shape as the verification
    #     stage of ``ngram_jaccard_pairs_prefix``. Each common shingle
    #     of a pair is counted in exactly one branch (hot/cold
    #     partition the shingle vocabulary by document frequency), so
    #     summing the branch partials is bit-identical to the unguarded
    #     count at every cap setting — the guard defaults ON.
    # candidates is reused by three consumers (the id semi-join, the
    # hot-branch probe, the final inner join): eager checkpoint (the
    # near_dup_components convention) computes the banding ONCE
    # and truncates the lineage so the plan doesn't re-embed the band
    # self-join per consumer. It is O(pairs) — tiny after banding.
    candidates = _eager_checkpoint(candidates, checkpoint_mode, spill_safe)
    pairs = _verified_jaccard_pairs(
        candidates, docs, id_col, threshold, hot_shingle_docs,
        checkpoint_mode, spill_safe,
    )
    # docs fed banding (inside the candidates checkpoint) and the
    # checkpointed shingle stream — nothing in pairs scans it again;
    # release the executors' cache.
    docs.unpersist()
    return pairs


def minhash_lsh_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 64,
    bands: int = 32,
    hash_fn: str = "xxhash64",
) -> tuple[DataFrame, DataFrame]:
    """The STORED artifacts of a MinHash-LSH index over a corpus:
    ``(docs, bands)`` where docs = (id, shs: array<long>) per-doc
    hashed-shingle arrays and bands = (id, band_id, band_hash) rows.
    Persist both (parquet, bucketed by band_hash for the join) and a
    continuously-ingesting corpus never re-hashes history — see
    ``minhash_lsh_pairs_incremental``."""
    docs = doc_shingle_arrays(df, id_col, text_col, n, hash_fn=hash_fn)
    return docs, _lsh_band_rows(docs, id_col, k, bands, hash_fn)


def minhash_lsh_pairs_incremental(
    new_df: DataFrame,
    stored_docs: DataFrame,
    stored_bands: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 64,
    bands: int = 32,
    threshold: float = 0.5,
    max_bucket_docs: int | None = None,
    hash_fn: str = "xxhash64",
    hot_shingle_docs: int = 256,
    checkpoint_mode: str = "local",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """INCREMENTAL near-dup detection: find every near-dup pair the new
    batch introduces — new x stored AND new x new — WITHOUT re-hashing,
    re-signing, or re-banding the stored corpus (the production shape:
    a daily crawl lands against a 100 TB history; re-LSHing history per
    batch would dwarf the batch itself). Exact-key incremental dedup is
    ``exact_dedup_incremental``/``bloom_dedup_incremental``; this is
    the NEAR-dup tier of the same story.

    ``hot_shingle_docs`` mirrors the batch face's parameter (same
    default, same exact-preserving semantics — see
    ``minhash_lsh_pairs``), so a cap tuned on the batch path can be
    matched here.

    Id contract: the stored index is append-maintained, so ids are
    expected to be batch-unique over time. If a batch DOES re-ingest a
    stored id, verification takes the NEW batch's shingle set for that
    id (stored rows with re-ingested ids are anti-joined out before
    the exploded stream is built — double-counting a doc's shingles
    would inflate ``__common``/``__sz`` asymmetrically and corrupt the
    jaccard); the caller remains responsible for compacting the stored
    docs/bands tables if re-ingestion is routine.

    Returns ``(pairs, new_docs, new_bands)``: pairs as
    (id_1, id_2, jaccard) with id_1 < id_2 (every pair touches >= 1 new
    doc; stored x stored pairs were already found when those docs were
    new), plus the new batch's index artifacts for the caller to APPEND
    to the stored tables — the index is maintained by pure appends, no
    rewrite.

    Shuffle budget: signature/band work is O(new batch); the candidate
    join probes new band rows against stored+new band rows (equi-join
    on (band_id, band_hash) — with stored bands bucketed on band_hash,
    history does not shuffle); exact verification uses the batch
    face's narrow guarded inverted-index count over the candidate
    docs' shingles only (never the wide per-pair array join, never the
    non-candidate history). ``max_bucket_docs`` caps combined-bucket
    blow-ups as in the batch face. The pair set equals the batch face's
    output restricted to pairs touching the new ids (tested — same
    deterministic hashes, same verification)."""
    # Gate on new batch + stored index size (see _CKPT_DISK_MIN_BYTES).
    spill_safe = (
        max(plan_bytes(new_df), plan_bytes(stored_docs))
        >= _CKPT_DISK_MIN_BYTES
    )
    new_docs = doc_shingle_arrays(new_df, id_col, text_col, n, hash_fn=hash_fn)
    new_docs = new_docs.persist(
        StorageLevel.DISK_ONLY if spill_safe else StorageLevel.MEMORY_AND_DISK_DESER
    )
    new_bands = _lsh_band_rows(new_docs, id_col, k, bands, hash_fn)
    all_bands = stored_bands.unionByName(new_bands)
    if max_bucket_docs is not None:
        small = (
            all_bands.groupBy("band_id", "band_hash")
            .agg(F.count("*").alias("__bucket_docs"))
            .filter(F.col("__bucket_docs") <= max_bucket_docs)
            .drop("__bucket_docs")
        )
        probe = new_bands.join(small, ["band_id", "band_hash"])
        build = all_bands.join(small, ["band_id", "band_hash"])
    else:
        probe, build = new_bands, all_bands
    a = probe.select(F.col(id_col).alias("id_1"), "band_id", "band_hash")
    b = build.select(F.col(id_col).alias("id_2"), "band_id", "band_hash")
    candidates = (
        a.join(b, ["band_id", "band_hash"])
        .filter(F.col("id_1") != F.col("id_2"))
        .select(
            F.least("id_1", "id_2").alias("id_1"),
            F.greatest("id_1", "id_2").alias("id_2"),
        )
        .distinct()
    )
    # Verification: the same narrow guarded inverted-index count the
    # batch face uses (`minhash_lsh_pairs`), NOT the array_intersect
    # join of each candidate pair to both per-doc arrays — the r7 sf10
    # sweep measured that wide form shipping ~1.5 KB of shingle arrays
    # per candidate through the exchanges (37 GB at 2.5e7 candidates).
    # The stream is restricted to candidate ids first (only they can
    # reach the final inner join) and shingles hotter than
    # `hot_shingle_docs` candidate docs route through the
    # candidate-driven membership probe, so one boilerplate shingle in
    # the history can't make the daily batch's verification quadratic.
    # Hot/cold partition the vocabulary — counts are bit-identical to
    # the unguarded form at every cap (the batch-face invariant,
    # equality-tested against it in tests/test_dedup_similarity.py).
    # checkpoint_mode as in the batch face (see _eager_checkpoint).
    candidates = _eager_checkpoint(candidates, checkpoint_mode, spill_safe)
    # Re-ingested ids: prefer the NEW batch's row (see the id contract
    # in the docstring) — a plain union would explode BOTH copies'
    # shingles and inflate __common/__sz asymmetrically.
    all_docs = stored_docs.join(
        new_docs.select(id_col), id_col, "left_anti"
    ).unionByName(new_docs)
    pairs = _verified_jaccard_pairs(
        candidates, all_docs, id_col, threshold, hot_shingle_docs,
        checkpoint_mode, spill_safe,
    )
    return pairs, new_docs, new_bands


def near_dup_components(
    pairs: DataFrame,
    id_1: str = "id_1",
    id_2: str = "id_2",
    max_iter: int = 20,
    checkpoint_mode: str = "local",
) -> DataFrame:
    """Connected components over a near-dup pair list: returns
    (id, rep) for every id appearing in ``pairs``, where ``rep`` is the
    MINIMUM id of the id's component — the canonical representative.

    Near-dup similarity is not transitive, but dedup policy must be
    (A~B and B~C means keeping both A and C still leaves a near-dup
    chain in the corpus), so pairs get closed into components first.

    Algorithm: min-label propagation — each iteration every node takes
    the min of its own label and its neighbors' labels; converges in
    O(max cluster diameter) iterations. Near-dup clusters are
    near-cliques (boilerplate families), so this is 1–3 iterations in
    practice; ``max_iter`` bounds pathological chains. Each iteration is
    one equi-join + groupBy-min (shuffles O(edges)) plus a fixpoint
    count; the per-iteration eager checkpoint truncates the growing
    lineage so iteration N does not replan iterations 1..N-1.
    ``checkpoint_mode='local'`` (default) is executor-local — executor
    loss fails the run; ``'reliable'`` writes to the configured
    ``sc.setCheckpointDir`` and survives it (see
    ``_eager_checkpoint``)."""
    edges = (
        pairs.select(F.col(id_1).alias("src"), F.col(id_2).alias("dst"))
        .union(pairs.select(F.col(id_2).alias("src"), F.col(id_1).alias("dst")))
        .distinct()
        .persist()
    )
    labels = _eager_checkpoint(
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("rep")),
        checkpoint_mode,
    )
    for _ in range(max_iter):
        nb_min = (
            edges.join(
                labels.select(F.col("id").alias("dst"), F.col("rep").alias("dst_rep")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("dst_rep").alias("nb_rep"))
            .select(F.col("src").alias("id"), "nb_rep")
        )
        new_labels = _eager_checkpoint(
            labels.select("id", F.col("rep").alias("old_rep"))
            .join(nb_min, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("old_rep"), F.coalesce("nb_rep", F.col("old_rep"))
                ).alias("rep"),
                "old_rep",
            ),
            checkpoint_mode,
        )
        n_changed = new_labels.filter(F.col("rep") != F.col("old_rep")).count()
        labels = new_labels.select("id", "rep")
        if n_changed == 0:
            break
    edges.unpersist()
    return labels


def _symmetrize(edges: DataFrame) -> DataFrame:
    return edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(Γ(u) ∪ {u})."""
    nbrs = _symmetrize(edges)
    mins = nbrs.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("u", "mn").alias("m"))
    return (
        nbrs.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Connect u and its smaller neighbors to the minimum among them."""
    nbrs = _symmetrize(edges).filter(F.col("v") < F.col("u"))
    mins = nbrs.groupBy("u").agg(F.min("v").alias("m"))
    own = mins.select(F.col("u"), F.col("m").alias("v"))
    smaller = (
        nbrs.join(mins, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    return own.union(smaller).distinct()


def near_dup_components_star(
    pairs: DataFrame,
    id_1: str = "id_1",
    id_2: str = "id_2",
    max_iter: int = 25,
    checkpoint_mode: str = "local",
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SOCC'14) — same (id, rep) contract as ``near_dup_components``
    (rep = MINIMUM id of the component), different convergence regime:
    O(log^2 n) rounds REGARDLESS of component diameter, vs min-label
    propagation's O(diameter) rounds.

    This is the 100 TB scale path when components are NOT near-cliques:
    a chain of gradually-drifting template revisions (A~B, B~C, ... with
    A !~ C) forms a path-shaped component whose diameter grows with the
    corpus, and each propagation round is a full O(edges) shuffle — a
    10^4-long chain means 10^4 shuffles for min-label but ~10 for the
    star algorithm. Per round: large-star hangs every larger neighbor of
    u below min(Γ(u) ∪ {u}) (cuts long chains in half and flattens hubs
    without ever growing the edge count); small-star re-points u and its
    smaller neighbors at their common minimum. The fixed point is stars
    rooted at each component's minimum.

    Each half-round is one groupBy-min plus one equi-join, both keyed on
    node id (AQE handles degree skew); edge tables shrink monotonically
    toward n-1 star edges. Convergence is detected by exact edge-set
    equality (count + exceptAll — tiny at the fixed point since the
    table is already star-shaped; a checksum aggregate would do at
    extreme scale). The per-round eager checkpoint truncates lineage
    exactly as in ``near_dup_components``, and ``checkpoint_mode``
    picks local vs reliable blocks the same way (see
    ``_eager_checkpoint``)."""
    edges = _eager_checkpoint(
        pairs.select(F.col(id_1).alias("u"), F.col(id_2).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct(),
        checkpoint_mode,
    )
    nodes = _symmetrize(edges).select(F.col("u").alias("id")).distinct()
    cur = edges
    converged = False
    # Carry each round's edge count forward: cur.count() is always the
    # previous round's after_small.count(), so re-running it was one
    # whole extra job per round (the fixpoint loop is job-latency-bound
    # — every round is already two checkpoints plus the convergence
    # actions).
    cur_count = cur.count()
    for _ in range(max_iter):
        after_large = _eager_checkpoint(_large_star(cur), checkpoint_mode)
        after_small = _eager_checkpoint(_small_star(after_large), checkpoint_mode)
        after_count = after_small.count()
        unchanged = (
            after_count == cur_count
            and after_small.exceptAll(cur).isEmpty()
        )
        cur, cur_count = after_small, after_count
        if unchanged:
            converged = True
            break
    if not converged:
        # A non-fixed-point edge set yields component reps that are
        # NOT the component minimum, indistinguishable from correct
        # labels downstream — fail loudly rather than mislabel.
        raise RuntimeError(
            f"near_dup_components_star did not reach a fixed point in "
            f"{max_iter} rounds; raise max_iter (O(log^2 n) rounds "
            f"suffice — 25 covers any realistic corpus)"
        )
    # At the fixed point every edge is (child, component-min); roots
    # appear only on the right-hand side.
    parents = cur.groupBy("u").agg(F.min("v").alias("rep"))
    return nodes.join(
        parents.select(F.col("u").alias("id"), "rep"), "id", "left"
    ).select("id", F.coalesce("rep", F.col("id")).alias("rep"))


def near_dup_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 64,
    bands: int = 32,
    threshold: float = 0.5,
    max_bucket_docs: int | None = None,
    checkpoint_mode: str = "local",
) -> DataFrame:
    """Remove near-duplicates TRANSITIVELY: MinHash-LSH pairs are closed
    into connected components and only each component's minimum-id
    representative survives. This is the dedup a training corpus needs —
    pair-level removal alone leaves near-dup chains (keep A, drop B,
    keep C with A~B~C). Returns ``df`` minus non-representative rows;
    rows in no near-dup pair are untouched. ``checkpoint_mode`` flows
    to both stages (see ``_eager_checkpoint``)."""
    pairs = minhash_lsh_pairs(
        df, id_col, text_col, n, k, bands, threshold, max_bucket_docs,
        checkpoint_mode=checkpoint_mode,
    )
    comp = near_dup_components(pairs, checkpoint_mode=checkpoint_mode)
    drop = comp.filter(F.col("id") != F.col("rep")).select(
        F.col("id").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


def semantic_dedup_components(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_cells: int = 16,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup-style semantic dedup plan: k-means cells as the blocking
    key, exact cosine within each cell, transitive closure of the pairs.
    Returns (id, rep) for every id in at least one near-dup pair, where
    ``rep`` is the component's minimum id.

    This is the published SemDeDup recipe (Abbas et al. 2023, "SemDeDup:
    Data-efficient learning at web-scale through semantic deduplication"):
    cluster the embedding space coarsely, then treat ONLY within-cluster
    pairs as dedup candidates. Cross-cluster near-dup pairs are missed by
    design — with near-identical vectors landing in the same cell almost
    surely, the recall loss is concentrated exactly at the threshold
    boundary, which is the region where "duplicate" is a judgement call
    anyway.

    Scale shape: the quantizer fit samples the corpus (see
    ``assign_ivf_cells``); assignment is one JVM-side projection; the
    within-cell pair join shuffles on ``cell`` so each task handles one
    cell's quadratic locally — pick ``n_cells`` so corpus/n_cells rows of
    (id, vec) fit a task (at 10^9 docs and 1024-dim float32, n_cells ~
    50k keeps cells ~80 MB). Components close in O(cluster diameter)
    iterations (`near_dup_components`)."""
    from .similarity import assign_ivf_cells

    assigned, _ = assign_ivf_cells(df, vec_col, n_cells, seed)
    pairs = embedding_near_dup_pairs(
        assigned, id_col, vec_col, threshold, block_col="cell"
    )
    return near_dup_components(pairs, "id_1", "id_2")


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_cells: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Remove semantic near-duplicates: of every transitive component of
    within-cell cosine>=threshold pairs, only the minimum-id row
    survives. Rows in no pair are untouched. The embedding column rides
    along — callers dedup the embedding table and join survivors back to
    the document table by id."""
    comp = semantic_dedup_components(df, id_col, vec_col, threshold, n_cells, seed)
    drop = comp.filter(F.col("id") != F.col("rep")).select(F.col("id").alias(id_col))
    return df.join(drop, id_col, "left_anti")


# ---------------------------------------------------------------------
# 4. SimHash
# ---------------------------------------------------------------------

def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, hash_fn: str = "xxhash64"
) -> DataFrame:
    """64-bit SimHash over whitespace tokens: bit i of the signature is
    the sign of sum over tokens of (+1 if bit i of hash(token) else
    -1).

    ``hash_fn='xxhash64'`` is the production token hash;
    ``hash_fn='md5'`` derives a 60-bit hash from the first 15 hex
    digits of md5 — strictly weaker bits-per-token but exactly
    mirrorable in any engine with md5 (DuckDB:
    ``CAST('0x' || SUBSTRING(MD5(t), 1, 15) AS BIGINT)``), which is
    what makes the registry's ``dedup_simhash`` oracle-checkable
    end-to-end (same tiering pattern as
    ``multimodal.frame_sample_hashes``). Bits 60..63 of the md5 tier
    are constantly 0, so those signature bits always settle to 0 on
    BOTH sides — the pigeonhole recall guarantee in ``simhash_pairs``
    is unaffected (agreeing chunks stay agreeing).

    COLUMNAR formulation: token hashes are one per-row array, and each
    bit sum is an ``aggregate`` HOF over it — the whole signature is a
    pure per-row projection. Zero shuffle (the former explode +
    groupBy(doc) formulation shuffled the entire O(total tokens) token
    stream — at 100 TB that shuffle IS the job; this computes the same
    64 sums embarrassingly parallel inside the scan). Same per-token
    work (64 bit tests per hash), same result bit-for-bit
    (tests/test_dedup_similarity.py asserts equality with the grouped
    formulation; tests/test_plans.py asserts the no-Exchange plan).

    SQL-text lambdas per the HOF canonicalization pitfall at
    ``_lsh_band_rows`` (64 aggregates differing only in a captured literal
    would collapse as Python lambdas)."""
    if hash_fn == "xxhash64":
        tok_hash = F.xxhash64
    elif hash_fn == "md5":
        def tok_hash(t):
            return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
    else:
        raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")
    toks = spread_small(df).select(
        F.col(id_col),
        F.transform(
            F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: tok_hash(t)
        ).alias("__th"),
    )
    sig = None
    for i in range(64):
        bit_sum = F.expr(
            f"aggregate(__th, 0, (acc, h) -> acc + "
            f"(CASE WHEN (shiftright(h, {i}) & 1) = 1 THEN 1 ELSE -1 END))"
        )
        bit = F.when(bit_sum > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, i)
        sig = term if sig is None else sig.bitwiseOR(term)
    return toks.select(F.col(id_col), sig.alias("simhash"))


def simhash_chunk_widths(n_chunks: int) -> list[int]:
    """Bit widths of the ``n_chunks`` chunks covering the 64 signature
    bits: the first ``64 % n_chunks`` chunks carry ``ceil(64/c)`` bits,
    the rest ``floor(64/c)`` (c=4 -> [16,16,16,16], c=5 ->
    [13,13,13,13,12], c=6 -> [11,11,11,11,10,10])."""
    base, rem = divmod(64, n_chunks)
    return [base + 1] * rem + [base] * (n_chunks - rem)


def simhash_key_specs(
    n_chunks: int, max_hamming: int
) -> list[tuple[tuple[int, ...], int]]:
    """The candidate-join key plan for a (chunks=c, distance=d) split:
    one spec per (c-d)-subset of chunks, as (chunk indices, key bits).

    Pigeonhole: a pair within Hamming d disagrees on at most d chunks,
    so it AGREES on >= c-d chunks — and therefore matches exactly on at
    least one (c-d)-subset of them. Equi-joining every subset key gives
    recall 1.0 for the distance bound at ANY c >= d+1; growing c is
    pure candidate-volume control (key bits grow from 64/c to
    (c-d)*~64/c, shrinking random collisions from n^2/2^16 at the
    c=4 default exponentially). This is the multi-block probing design
    of Manku/Jain/Sarma, "Detecting Near-Duplicates for Web Crawling"
    (WWW'07) — re-expressed as one exploded equi-join instead of their
    sorted probe tables.
    """
    import itertools

    widths = simhash_chunk_widths(n_chunks)
    # c < d+1 can't guarantee recall at ANY subset size; clamp to
    # single-chunk keys — the historical c=4 best-effort contract for
    # d > 3 (any pair agreeing on no whole chunk is missed)
    subset = max(1, n_chunks - max_hamming)
    return [
        (combo, sum(widths[j] for j in combo))
        for combo in itertools.combinations(range(n_chunks), subset)
    ]


def simhash_n_chunks(
    n_docs: int, max_hamming: int = 3, collisions_per_doc: float = 4.0
) -> int:
    """The submit-time chunk-count knob, derived from corpus size: the
    smallest c >= d+1 whose expected RANDOM-collision candidate volume
    stays linear — C(c,d) join keys per doc, each colliding with
    ~n/2^key_bits others, capped at ``collisions_per_doc``. For d=3:
    c=4 to ~65k docs, c=5 to ~13M, c=6 to ~430M, then on up; the r8
    sf100 run (5M docs) that went quadratic at the fixed c=4 sizes to
    c=5 here. True near-dup pairs are output either way — this bounds
    only the wasted candidates."""
    for c in range(max_hamming + 1, 17):
        specs = simhash_key_specs(c, max_hamming)
        min_bits = min(bits for _, bits in specs)
        if len(specs) * n_docs <= collisions_per_doc * (1 << min_bits):
            return c
    return 16


def _simhash_keyed(
    sig: DataFrame, id_col: str, max_hamming: int, n_chunks: int,
    sig_col: str = "simhash",
) -> DataFrame:
    """(id, sig, key_id, key_val) — one row per subset key of
    ``simhash_key_specs``, every key a pure shift/mask fold of the
    64-bit signature (whole-stage codegen, no Python)."""
    specs = simhash_key_specs(n_chunks, max_hamming)
    widths = simhash_chunk_widths(n_chunks)
    offsets = [sum(widths[:j]) for j in range(n_chunks)]

    def key_expr(combo: tuple[int, ...]):
        key = F.lit(0).cast("long")
        for j in combo:
            chunk = F.shiftright(F.col(sig_col), offsets[j]).bitwiseAND(
                F.lit((1 << widths[j]) - 1)
            )
            key = F.shiftleft(key, widths[j]).bitwiseOR(chunk)
        return key

    return sig.select(
        F.col(id_col),
        F.col(sig_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("key_id"), key_expr(combo).alias("key_val")
                    )
                    for i, (combo, _bits) in enumerate(specs)
                ]
            )
        ).alias("k"),
    ).select(id_col, sig_col, "k.key_id", "k.key_val")


def simhash_pairs_from_signatures(
    sig: DataFrame,
    id_col: str,
    max_hamming: int = 3,
    n_chunks: int = 4,
    sig_col: str = "simhash",
) -> DataFrame:
    """Near-dup pairs with Hamming(sig) <= max_hamming from a
    precomputed signature frame, via the pigeonhole key join of
    ``simhash_key_specs`` (exact recall at any c >= d+1; see there).
    One shuffle on (key_id, key)."""
    keyed = _simhash_keyed(sig, id_col, max_hamming, n_chunks, sig_col)
    a = keyed.select(
        F.col(id_col).alias("id_1"), F.col(sig_col).alias("sig_1"), "key_id", "key_val"
    )
    b = keyed.select(
        F.col(id_col).alias("id_2"), F.col(sig_col).alias("sig_2"), "key_id", "key_val"
    )
    return (
        a.join(b, ["key_id", "key_val"])
        .filter(F.col("id_1") < F.col("id_2"))
        .select("id_1", "id_2", "sig_1", "sig_2")
        .distinct()
        .withColumn(
            "hamming", F.bit_count(F.col("sig_1").bitwiseXOR(F.col("sig_2")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_1", "id_2", "hamming")
    )


def simhash_pairs_incremental(
    new_df: DataFrame,
    stored_sigs: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    hash_fn: str = "xxhash64",
    n_chunks: int | str = 4,
) -> tuple[DataFrame, DataFrame]:
    """INCREMENTAL SimHash near-dup detection — the simhash twin of
    ``minhash_lsh_pairs_incremental``: find every Hamming <= d pair
    the new batch introduces (new x stored AND new x new) WITHOUT
    re-signing or re-keying the stored corpus. The stored index is one
    8-byte signature per doc (``stored_sigs``: (id, simhash) — the
    output of ``simhash_signatures``, appended batch after batch), so
    a 10^10-doc history is an 80 GB table.

    Probe shape: only the NEW batch's subset keys probe the
    stored+new key stream — history shuffles O(history) key rows but
    computes no signatures; with the stored side persisted bucketed on
    its key columns even that shuffle amortizes away. Id contract as
    in the minhash face: a re-ingested id takes the NEW batch's row
    (stored rows with re-ingested ids are anti-joined out first).

    ``n_chunks``: as in ``simhash_pairs`` — pass ``"auto"`` to derive
    from the COMBINED corpus size (stored + new; the collision math
    sees the whole key stream). Returns ``(pairs, new_sigs)`` — pairs
    as (id_1, id_2, hamming) with every pair touching >= 1 new doc,
    plus the new batch's signatures for the caller to APPEND."""
    new_sigs = simhash_signatures(new_df, id_col, text_col, hash_fn=hash_fn)
    stored = stored_sigs.join(new_sigs.select(id_col), id_col, "left_anti")
    if n_chunks == "auto":
        n_chunks = simhash_n_chunks(
            stored.count() + new_df.count(), max_hamming
        )
    probe = _simhash_keyed(new_sigs, id_col, max_hamming, int(n_chunks)).select(
        F.col(id_col).alias("id_1"), F.col("simhash").alias("sig_1"),
        "key_id", "key_val",
    )
    build = _simhash_keyed(
        stored.unionByName(new_sigs), id_col, max_hamming, int(n_chunks)
    ).select(
        F.col(id_col).alias("id_2"), F.col("simhash").alias("sig_2"),
        "key_id", "key_val",
    )
    pairs = (
        probe.join(build, ["key_id", "key_val"])
        .filter(F.col("id_1") != F.col("id_2"))
        .select(
            F.least("id_1", "id_2").alias("id_1"),
            F.greatest("id_1", "id_2").alias("id_2"),
            F.when(F.col("id_1") < F.col("id_2"), F.col("sig_1"))
            .otherwise(F.col("sig_2")).alias("sig_1"),
            F.when(F.col("id_1") < F.col("id_2"), F.col("sig_2"))
            .otherwise(F.col("sig_1")).alias("sig_2"),
        )
        .distinct()
        .withColumn(
            "hamming", F.bit_count(F.col("sig_1").bitwiseXOR(F.col("sig_2")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_1", "id_2", "hamming")
    )
    return pairs, new_sigs


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    hash_fn: str = "xxhash64",
    n_chunks: int | str = 4,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming. Pigeonhole:
    split the 64-bit signature into ``n_chunks`` chunks; any pair
    within the bound agrees on >= c-d chunks, so equi-joining every
    (c-d)-subset key finds ALL such pairs (recall 1.0 — see
    ``simhash_key_specs``), then bit_count(xor) filters exactly.

    ``n_chunks`` is the submit-time scale knob the r8 sf100 run showed
    the fixed c=4 needed: at 5M docs every 16-bit chunk value collides
    ~76 docs deep and the candidate join goes quadratic; c=5 keys carry
    25+ bits and collapse that to ~1 random collision per doc. Pass an
    int, or ``"auto"`` to derive it from the corpus size via
    ``simhash_n_chunks`` (one count job on the input — a production
    catalog serves this row count for free, the
    ``auto_given_stats`` router pattern). The RESULT is invariant in
    c; only candidate volume changes. ``hash_fn`` selects the token
    hash tier (see ``simhash_signatures``)."""
    if n_chunks == "auto":
        n_chunks = simhash_n_chunks(df.count(), max_hamming)
    sig = simhash_signatures(df, id_col, text_col, hash_fn=hash_fn)
    return simhash_pairs_from_signatures(
        sig, id_col, max_hamming=max_hamming, n_chunks=int(n_chunks)
    )


# ---------------------------------------------------------------------
# 5. Embedding-cosine near-dup
# ---------------------------------------------------------------------

def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    block_col: str | None = None,
    lsh_bands: int | None = None,
    lsh_rows: int = 8,
    lsh_dim: int = 64,
    lsh_seed: int = 42,
) -> DataFrame:
    """Pairs with round(cosine,6) >= threshold. ``block_col`` restricts
    pairing to equal blocking keys (label, LSH bucket, IVF cell...).
    Thresholding on the ROUNDED cosine keeps the boundary decision
    engine-deterministic.

    ``lsh_bands``: REQUIRED for scale when the block key's cardinality
    is bounded (a label/language/source column). A bounded key means
    block SIZE grows linearly with the corpus, so within-block
    all-pairs candidates grow QUADRATICALLY — measured at the r7 sf10
    sweep: 2e9 candidate pairs, each evaluating an interpreted 64-dim
    ``aggregate`` cosine inside the join condition, wedging 32 cores
    for an hour on data that takes 50 s at sf1. With ``lsh_bands``
    set, each vector gets ``lsh_bands`` sign-bit band values from
    integer-quantized fixed hyperplanes (the SAME deterministic
    machinery as ``similarity.lsh_topk`` — Arrow numpy matmul,
    bit-identical to the SQL mirror), candidates are pairs agreeing
    on ANY band within the block, and only candidates pay the exact
    cosine. The pair DEFINITION becomes "banded-LSH candidate AND
    cosine >= threshold" — the standard sub-quadratic semantics of
    production semantic dedup (candidates come from the index; the
    minhash-LSH text tier works the same way), deterministic and
    exactly SQL-mirrorable. Recall for genuine near-dups is high and
    rises with bands (cos 0.95 -> ~0.93/bit, ~0.43/8-bit band,
    ~0.99 for >=1 of 8 bands); candidate volume per block falls
    ~2^rows-fold. Size ``lsh_rows`` so blocks/2^rows stays O(100)
    at the target corpus."""
    blk = [F.col(block_col).alias("__blk")] if block_col is not None else []
    base = df.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"), *blk
    )
    if lsh_bands is not None:
        from .similarity import _int_hyperplanes, _signature_bands_arrow

        planes = _int_hyperplanes(lsh_dim, lsh_bands * lsh_rows, lsh_seed)
        sig = _signature_bands_arrow(base, "__v", planes, lsh_bands, lsh_rows)
        a = sig.select(
            F.col("__id").alias("id_1"), F.col("__v").alias("v1"),
            *[F.col("__blk").alias("blk_1")] if block_col else [],
            F.col("band_id").alias("bid_1"), F.col("band_val").alias("bv_1"),
        )
        b = sig.select(
            F.col("__id").alias("id_2"), F.col("__v").alias("v2"),
            *[F.col("__blk").alias("blk_2")] if block_col else [],
            F.col("band_id").alias("bid_2"), F.col("band_val").alias("bv_2"),
        )
        cond = (
            (F.col("id_1") < F.col("id_2"))
            & (F.col("bid_1") == F.col("bid_2"))
            & (F.col("bv_1") == F.col("bv_2"))
        )
        if block_col is not None:
            cond = cond & (F.col("blk_1") == F.col("blk_2"))
        # Score AT the band match and dedup AFTER the threshold: a
        # pair matching in k bands is scored k times (k <= bands, and
        # the rounded cosine is identical each time, so the pair-dedup
        # is value-stable) — but the dropDuplicates SHUFFLE then
        # carries only the SURVIVING (id, id, cos) rows. The first
        # r7 form deduped candidates BEFORE scoring, which shipped
        # both 64-double vectors with every candidate pair through
        # the exchange: ~60 GB of shuffle at sf10 (6e7 candidates x
        # ~1 KB) — it filled the disk. Order of operations is the
        # scale decision here, not the operator set.
        return (
            a.join(b, cond)
            .withColumn("cos_sim", F.round(cosine("v1", "v2"), 6))
            .filter(F.col("cos_sim") >= threshold)
            .select("id_1", "id_2", "cos_sim")
            .dropDuplicates(["id_1", "id_2"])
        )
    else:
        cols = [F.col("__id").alias("id_1"), F.col("__v").alias("v1")]
        cols2 = [F.col("__id").alias("id_2"), F.col("__v").alias("v2")]
        on = [F.col("id_1") < F.col("id_2")]
        if block_col is not None:
            cols.append(F.col("__blk").alias("blk_1"))
            cols2.append(F.col("__blk").alias("blk_2"))
            on.append(F.col("blk_1") == F.col("blk_2"))
        aa, bb = base.select(*cols), base.select(*cols2)
        cond = on[0]
        for extra in on[1:]:
            cond = cond & extra
        cand = aa.join(bb, cond).select("id_1", "id_2", "v1", "v2")
    return (
        cand.withColumn("cos_sim", F.round(cosine("v1", "v2"), 6))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_1", "id_2", "cos_sim")
    )


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """PREFIX-FILTERED exact set-similarity join (the PPJoin/AllPairs
    family): identical output to ``ngram_jaccard_pairs`` — every pair
    with Jaccard >= ``threshold`` and its exact score — but the
    inverted index holds only each document's PREFIX.

    Why it's exact: order every document's shingles canonically
    (rarest-first by global document frequency, shingle as tie-break)
    and take the first ``|s| - ceil(t*|s|) + 1`` as its prefix. Two
    sets with Jaccard >= t must overlap in >= ceil(t*max(|a|,|b|))
    elements, so skipping that many of either set's rarest shingles
    cannot skip ALL shared ones — any qualifying pair collides on at
    least one prefix shingle (pigeonhole). Candidates are then verified
    with the full exact intersection count.

    Why it scales: at t=0.5 the index holds ~half of every document's
    shingles, and they are each document's RAREST half — the frequent
    (boilerplate) shingles that cause quadratic candidate blow-ups are
    exactly the ones prefixes exclude. One extra global DF aggregate
    (vocabulary-sized) buys a candidate set orders of magnitude
    smaller on skewed corpora; pair counts are asserted <= the full
    inverted-index candidate count in tests, with output equality."""
    sd = shingle_sets(df, id_col, text_col, n).cache()
    sizes = sd.groupBy(id_col).agg(F.count("*").alias("sz"))
    dfreq = sd.groupBy("sh").agg(F.count("*").alias("gdf"))
    w = Window.partitionBy(id_col).orderBy(F.col("gdf"), F.col("sh"))
    ranked = (
        sd.join(dfreq, "sh")
        .withColumn("__rk", F.row_number().over(w))
        .join(sizes, id_col)
    )
    # prefix length: sz - ceil(t*sz) + 1, computed in exact integer
    # arithmetic (ceil(t*sz) == floor((t*sz*10^6 + 10^6 - 1)/10^6) for
    # a 6dp threshold — avoids float boundary wobble on engine mirrors)
    t6 = int(round(threshold * 10**6))
    prefix = ranked.filter(
        F.col("__rk")
        <= F.col("sz") - F.expr(f"cast(ceil(sz * {t6} / 1000000.0) as int)") + 1
    ).select(F.col(id_col), "sh")
    cand = (
        prefix.select(F.col(id_col).alias("id_1"), "sh")
        .join(prefix.select(F.col(id_col).alias("id_2"), "sh"), "sh")
        .filter(F.col("id_1") < F.col("id_2"))
        .select("id_1", "id_2")
        .distinct()
    )
    a = sd.select(F.col(id_col).alias("id_1"), "sh")
    b = sd.select(F.col(id_col).alias("id_2"), "sh")
    common = (
        cand.join(a, "id_1")
        .join(b, ["id_2", "sh"])
        .groupBy("id_1", "id_2")
        .agg(F.count("*").alias("common"))
    )
    s1 = sizes.select(F.col(id_col).alias("id_1"), F.col("sz").alias("sz_1"))
    s2 = sizes.select(F.col(id_col).alias("id_2"), F.col("sz").alias("sz_2"))
    jac = F.col("common") / (F.col("sz_1") + F.col("sz_2") - F.col("common"))
    return (
        common.join(s1, "id_1")
        .join(s2, "id_2")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_1", "id_2", F.round("jaccard", 4).alias("jaccard"))
    )


# ---------------------------------------------------------------------
# 8. Cross-document shared-passage detection (winnowing fingerprints)
# ---------------------------------------------------------------------

def winnow_shared_passages(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
    stride: int = 4,
    min_shared: int = 3,
    max_fp_docs: int | None = None,
) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` DISTINCT winnowing
    fingerprint values — the MOSS-style LOCAL-match dedup tier.

    Whole-document measures (n-gram Jaccard, MinHash, SimHash) only
    fire when a large fraction of the two documents agrees; a shared
    PASSAGE — a license header, templated paragraph, quoted chunk —
    inside two otherwise-different documents stays invisible to them.
    Winnowing (Schleimer et al., SIGMOD'03) guarantees any shared
    substring of length >= window + stride - 1 contributes at least
    one common fingerprint, so counting common fingerprints per pair
    detects passage-level duplication with per-doc signature size
    O(chars / stride).

    Returns (id_1, id_2, n_shared, sz_1, sz_2) with id_1 < id_2 —
    n_shared = |fp(d1) ∩ fp(d2)| and sz_i = |fp(d_i)| (all exact
    integers: containment/overlap scores are derivable without any
    float reaching a hash gate). Under ``max_fp_docs`` the sizes stay
    FULL signature sizes while n_shared counts only surviving
    fingerprints — the guard prunes the pairing universe, not the
    per-document signature (so containment ratios keep their true
    denominator; tested against the python model).

    Scale shape: the fingerprint projection rides the one corpus scan
    (Arrow-batched numpy, zero shuffle); the DISTINCT (id, fp)
    inverted index shuffles once on fp; pairs come from the index
    self-join with map-side partial counting — exactly the LSH band
    join's shape, so the same quadratic hazard applies: a fingerprint
    present in B docs emits B^2/2 pairs. ``max_fp_docs`` is that
    guard (drop ubiquitous fingerprints BEFORE pairing — they are, by
    construction, corpus-wide boilerplate hashes carrying no pair
    signal; the docs still pair through their rarer fingerprints).
    None keeps exact semantics for parity runs; set it in production.

    The polynomial (Karp-Rabin mod 2^31-1) hash tier is used, so every
    fingerprint value is exact int64 arithmetic reproducible in SQL —
    the registry arm's DuckDB oracle recomputes the whole pipeline
    value-for-value (`functions/text.py::poly_winnow_oracle_exprs`)."""
    from ..functions.text import winnowing_fingerprint_poly

    if min_shared < 1:
        raise ValueError("min_shared must be >= 1")
    # persist the inverted index: it feeds BOTH join sides, the sizes
    # aggregate, and (under the guard) the rare-fp filter — without
    # this Catalyst re-derives the Arrow fingerprint projection (the
    # dominant per-row cost: one corpus scan through Python per
    # consumer) up to four times, visible as four ArrowEvalPython
    # scans in the physical plan
    fps = df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(
                winnowing_fingerprint_poly(text_col, window, stride)
            )
        ).alias("fp"),
    ).distinct().persist()
    sizes = fps.groupBy(id_col).agg(F.count("*").alias("sz"))
    if max_fp_docs is not None:
        rare = (
            fps.groupBy("fp")
            .agg(F.count("*").alias("__n_docs"))
            .filter(F.col("__n_docs") <= max_fp_docs)
            .select("fp")
        )
        fps = fps.join(rare, "fp")
    a = fps.select(F.col(id_col).alias("id_1"), "fp")
    b = fps.select(F.col(id_col).alias("id_2"), "fp")
    pairs = (
        a.join(b, "fp")
        .filter(F.col("id_1") < F.col("id_2"))
        .groupBy("id_1", "id_2")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    s1 = sizes.select(F.col(id_col).alias("id_1"), F.col("sz").alias("sz_1"))
    s2 = sizes.select(F.col(id_col).alias("id_2"), F.col("sz").alias("sz_2"))
    return pairs.join(s1, "id_1").join(s2, "id_2").select(
        "id_1", "id_2", "n_shared", "sz_1", "sz_2"
    )
