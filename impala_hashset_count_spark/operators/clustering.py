"""Deterministic quantized k-means (distributed Lloyd) and the
SemDeDup-style cluster-then-dedup composition.

The reference engine stops at exact distinct counting
(`hashset-count.cc:82-524`); a 100 TB training-data pipeline also
needs SEMANTIC dedup — "cluster the embedding space, then prune
near-duplicates within each cluster" (SemDeDup, Abbas et al. 2023).
The pruning half already exists (`dedup.embedding_near_dup_pairs`,
banded hyperplane-LSH candidates + exact rounded cosine); this module
supplies the clustering half in the repo's oracle-certifiable style:

- every arithmetic step is EXACT INTEGER math on the same
  ``floor(x * 8192 + 0.5)``-quantized vectors the LSH signatures use
  (`similarity.VEC_QUANT_SCALE`), so Spark and DuckDB compute
  bit-identical centroids, assignments and distances — the clustering
  DECISION itself can sit under the driver hash, not just its
  row counts;
- seeding is data-derived and deterministic (the k vectors with the
  smallest ``md5(CAST(id AS VARCHAR))``, id tie-break — the repo's
  standard seedless-determinism device, `operators/kmv.py:68`);
- the iteration count is FIXED (the `pagerank_fixed` convention,
  `operators/graph.py`): a bounded unrollable recurrence, not a
  convergence loop, so the DuckDB mirror is ``iters`` chained CTEs.

Scale shape (the 100 TB story): classic distributed Lloyd.
Assignment is a map-only whole-stage-codegen projection against a
k x dim literal array over the `quantized_vec` attribute (zero
shuffle, zero join); the centroid update is ONE groupBy(cluster)
with map-side partial aggregation down to k rows; the
per-iteration driver sync collects exactly k rows (bounded metadata,
the `plans/parity.py:789` 3-row-anchor convention). Nothing grows
with the corpus except the two linear passes per iteration.

Exactness of the floor-divided centroid update: component sums stay
below 2^53 (|q| < 2^17, cluster sizes < 2^35 would be needed to
overflow), so ``CAST(FLOOR(CAST(s AS DOUBLE) / n) AS BIGINT)`` on the
DuckDB side and Python ``s // n`` on the Spark side both land on the
true floor: when s/n is an integer the IEEE quotient is exact, and
when it is not, the quotient's distance to the nearest integer is at
least 1/n >= 2^-35 while the rounding error is below 2^-30 of one ulp
scale (~1e-11 at these magnitudes). DuckDB's ``//`` is NOT used — it
truncates toward zero, which disagrees with floor on negative sums.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .similarity import VEC_QUANT_SCALE


def quantized_vec(vec_col: str) -> Column:
    """``array<bigint>`` quantization of a float/double vector column —
    the `similarity.VEC_QUANT_SCALE` rounding the LSH signature pass
    and its SQL mirror apply, staged as a reusable array attribute.
    Takes a column NAME, not a Column: the expression goes through SQL
    text, and ``Column._jc.toString()`` is a debug string, not
    round-trippable SQL (the r5 advisor's jvm_udaf finding)."""
    return F.expr(
        f"transform({vec_col}, x -> CAST(floor(CAST(x AS DOUBLE) "
        f"* {VEC_QUANT_SCALE!r}D + 0.5D) AS BIGINT))"
    )


def _dist_expr(q_attr: str, centroids: list[list[int]]) -> str:
    """SQL text for the k squared-L2 distances from ``q_attr`` to the
    centroid literals: one flat k*dim literal array, the diff computed
    once per component (transform), then an integer fold."""
    k = len(centroids)
    dim = len(centroids[0])
    flat = ", ".join(f"{int(v)}L" for row in centroids for v in row)
    return (
        f"transform(sequence(0, {k - 1}), c -> "
        f"aggregate(transform(sequence(1, {dim}), i -> "
        f"element_at({q_attr}, i) - element_at(array({flat}), c * {dim} + i)), "
        f"CAST(0 AS BIGINT), (acc, x) -> acc + x * x))"
    )


def kmeans_seeds(
    df: DataFrame, id_col: str, q_col: str, k: int
) -> list[list[int]]:
    """The k quantized vectors with the smallest
    ``md5(CAST(id AS VARCHAR))`` (id tie-break), in that order —
    cluster c's seed is rank c. Deterministic on both engines: md5 hex
    is lowercase on both, and the collect is k rows (bounded)."""
    rows = (
        df.select(F.col(id_col).alias("__id"), F.col(q_col).alias("__q"))
        .orderBy(F.md5(F.col("__id").cast("string")), F.col("__id"))
        .limit(k)
        .collect()
    )
    return [[int(v) for v in r["__q"]] for r in rows]


def kmeans_assign(
    df: DataFrame, q_col: str, centroids: list[list[int]]
) -> DataFrame:
    """Attach ``cluster`` (bigint, argmin with smallest-index
    tie-break) and ``dist`` (exact integer squared L2) — a pure
    codegen projection, no shuffle, no join. The distance array is
    staged as an attribute so argmin and min don't re-evaluate the
    fold (the HOF-inlining hazard, `functions/text.py` winnowing)."""
    staged = df.withColumn("__dists", F.expr(_dist_expr(q_col, centroids)))
    return (
        staged.withColumn("dist", F.array_min("__dists"))
        .withColumn(
            "cluster",
            (F.array_position("__dists", F.col("dist")) - F.lit(1)).cast(
                "bigint"
            ),
        )
        .drop("__dists")
    )


def kmeans_quantized(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 3,
) -> tuple[DataFrame, list[list[int]]]:
    """Distributed Lloyd over the quantized vectors: ``iters`` rounds
    of (assign, floor-div centroid update), then a final assignment
    against the last centroids. Returns (assignment DataFrame with
    ``id_col``/``cluster``/``dist``, final centroids).

    A cluster that loses every member keeps its previous centroid
    (mirrored by the oracle's LEFT JOIN + COALESCE); distance ties
    assign to the SMALLEST cluster index (``array_position`` finds the
    first occurrence; the oracle's ``ORDER BY dist, c`` row_number
    does the same)."""
    qdf = df.select(
        F.col(id_col).alias("__id"), quantized_vec(vec_col).alias("__q")
    )
    # The seed job and every update iteration re-execute qdf's lineage
    # (scan + quantization) — iters+2 full corpus passes at any scale.
    # Persist it for the duration of the driver-side training loop
    # (guide §5: reused AND expensive to recompute); unpersisted below
    # before the lazily-returned final assignment, so nothing leaks
    # into the caller's CacheManager and the final execution costs the
    # same single scan it always did. dim comes from the seed rows
    # (the seeds ARE quantized vectors) — the former F.size probe was
    # a whole extra job that only fetched the array length.
    qdf.persist()
    try:
        cents = kmeans_seeds(qdf, "__id", "__q", k)
        if not cents:
            raise ValueError("kmeans_quantized: input has no rows")
        if len(cents) < k:
            # fewer rows than clusters: kmeans_seeds returns what exists
            # and cents[c] below would IndexError mid-iteration — fail
            # loudly at the boundary instead (r6 advisor finding).
            raise ValueError(
                f"kmeans_quantized: k={k} clusters need at least k input "
                f"rows, got {len(cents)}"
            )
        dim = len(cents[0])
        for _ in range(iters):
            assigned = kmeans_assign(qdf, "__q", cents)
            aggs = [F.count(F.lit(1)).alias("__n")] + [
                F.sum(F.element_at("__q", i + 1)).alias(f"__s{i}")
                for i in range(dim)
            ]
            rows = {
                int(r["cluster"]): r
                for r in assigned.groupBy("cluster").agg(*aggs).collect()
            }
            cents = [
                [int(rows[c][f"__s{i}"]) // int(rows[c]["__n"]) for i in range(dim)]
                if c in rows
                else cents[c]
                for c in range(k)
            ]
    finally:
        qdf.unpersist()
    final = kmeans_assign(qdf, "__q", cents).select(
        F.col("__id").alias(id_col), "cluster", "dist"
    )
    return final, cents


def kmeans_oracle_ctes(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 3,
    dim: int = 64,
    materialized: bool = False,
) -> tuple[str, str]:
    """DuckDB CTE chain recomputing `kmeans_quantized` value-for-value
    in exploded (id, d, component) form: seeds by md5 rank, ``iters``
    unrolled (distance -> argmin -> floor-div update with
    keep-previous-on-empty) rounds, and a final assignment CTE.

    Returns ``(cte_text, final_cte)`` where ``final_cte`` exposes
    ``({id_col}, c, dist)``. CTE names are ``__km_``-prefixed so the
    text composes with other generated oracles in one WITH clause.

    ``materialized=True`` marks the chain's reused nodes (the exploded
    component stream, each round's assignments and centroids, the
    final assignment) ``AS MATERIALIZED``: DuckDB otherwise
    re-evaluates an inlined CTE once per reference, and the sf10
    sweep's branch-split executor additionally exports MATERIALIZED
    CTEs to parquet once per entry so its branches stop re-deriving
    the Lloyd chain (tools/sf1_oracle_sweep._SequentialBranches). The
    marker changes execution strategy only — values are identical.

    Distances are CAST to BIGINT at the source: SUM(BIGINT) is a
    DuckDB HUGEINT (pandas-lossy, and parquet silently rewrites it to
    DOUBLE on export); the true values are bounded by
    dim * (2*2^17)^2 < 2^43, so the cast is value-exact."""
    mz = " MATERIALIZED" if materialized else ""
    quant = (
        f"LIST_TRANSFORM(CAST({vec_col} AS DOUBLE[]), "
        f"x -> CAST(FLOOR(x * {VEC_QUANT_SCALE!r} + 0.5) AS BIGINT))"
    )
    # the dim guard: kmeans_quantized derives dim from the data while
    # this mirror takes it as a parameter; on a mismatch DuckDB's
    # zipped UNNEST(q)/UNNEST(RANGE(...)) would NULL-pad and compute a
    # plausible-but-wrong mirror over a truncated/padded component set
    # (r6 advisor finding) — so __km_eq fails loudly instead.
    parts = [
        (
            f"__km_eq AS (SELECT {id_col}, CASE WHEN LEN(__q0) = {dim} "
            f"THEN __q0 ELSE ERROR('kmeans_oracle_ctes: dim=' || "
            f"{dim} || ' but vector has ' || LEN(__q0) || "
            f"' components') END AS q FROM "
            f"(SELECT {id_col}, {quant} AS __q0 FROM {table}))"
        ),
        (
            f"__km_eqe AS{mz} (SELECT {id_col}, UNNEST(q) AS qv, "
            f"UNNEST(RANGE(1, {dim + 1})) AS d FROM __km_eq)"
        ),
        (
            f"__km_seed AS (SELECT {id_col}, ROW_NUMBER() OVER (ORDER BY "
            f"md5(CAST({id_col} AS VARCHAR)), {id_col}) - 1 AS c "
            f"FROM __km_eq QUALIFY c < {k})"
        ),
        (
            f"__km_cent0 AS (SELECT s.c, e.d, e.qv AS v "
            f"FROM __km_seed s JOIN __km_eqe e USING ({id_col}))"
        ),
    ]
    prev = "__km_cent0"
    for t in range(1, iters + 1):
        parts += [
            (
                f"__km_dist{t} AS (SELECT e.{id_col}, c.c, "
                f"CAST(SUM((e.qv - c.v) * (e.qv - c.v)) AS BIGINT) AS dist "
                f"FROM __km_eqe e JOIN {prev} c ON e.d = c.d "
                f"GROUP BY e.{id_col}, c.c)"
            ),
            (
                f"__km_asg{t} AS{mz} (SELECT {id_col}, c, dist FROM __km_dist{t} "
                f"QUALIFY ROW_NUMBER() OVER (PARTITION BY {id_col} "
                f"ORDER BY dist, c) = 1)"
            ),
            (
                f"__km_upd{t} AS (SELECT a.c, e.d, "
                f"CAST(FLOOR(CAST(SUM(e.qv) AS DOUBLE) / COUNT(*)) AS BIGINT)"
                f" AS v FROM __km_asg{t} a JOIN __km_eqe e USING ({id_col}) "
                f"GROUP BY a.c, e.d)"
            ),
            (
                f"__km_cent{t} AS{mz} (SELECT p.c, p.d, COALESCE(u.v, p.v) AS v "
                f"FROM {prev} p LEFT JOIN __km_upd{t} u "
                f"ON p.c = u.c AND p.d = u.d)"
            ),
        ]
        prev = f"__km_cent{t}"
    parts += [
        (
            f"__km_distF AS (SELECT e.{id_col}, c.c, "
            f"CAST(SUM((e.qv - c.v) * (e.qv - c.v)) AS BIGINT) AS dist "
            f"FROM __km_eqe e JOIN {prev} c ON e.d = c.d "
            f"GROUP BY e.{id_col}, c.c)"
        ),
        (
            f"__km_asgF AS{mz} (SELECT {id_col}, c, dist FROM __km_distF "
            f"QUALIFY ROW_NUMBER() OVER (PARTITION BY {id_col} "
            f"ORDER BY dist, c) = 1)"
        ),
    ]
    return ",\n    ".join(parts), "__km_asgF"


def semdedup_drops(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[int]],
    threshold: float = 0.9,
    lsh_bands: int = 8,
    lsh_rows: int = 10,
    lsh_dim: int = 64,
) -> DataFrame:
    """SemDeDup pruning rule over a k-means clustering: within each
    cluster, a document is DROPPED iff some smaller-id document in the
    same cluster has round(cosine, 6) >= ``threshold`` with it (the
    greedy keep-first-id rule — one survivor per duplicate chain
    head). Candidates come from the banded hyperplane-LSH index
    (`dedup.embedding_near_dup_pairs`), so nothing is all-pairs; the
    k-means cluster plays the block-key role the bounded `label`
    column plays in the `pairs` arm.

    Takes the final CENTROIDS, not an assignment frame: assignment is
    a zero-shuffle codegen projection (`kmeans_assign`), so computing
    the cluster inline on the pairing input costs nothing, where
    joining a corpus-sized assignment table back would be a full extra
    shuffle (or, worse, a corpus-sized broadcast — what Catalyst
    actually picked at test SF before this was restructured).
    Returns DISTINCT dropped ids."""
    from .dedup import embedding_near_dup_pairs

    withc = kmeans_assign(
        df.withColumn("__q", quantized_vec(vec_col)), "__q", centroids
    ).drop("__q", "dist")
    pairs = embedding_near_dup_pairs(
        withc, id_col, vec_col, threshold=threshold, block_col="cluster",
        lsh_bands=lsh_bands, lsh_rows=lsh_rows, lsh_dim=lsh_dim,
    )
    return pairs.select(F.col("id_2").alias(id_col)).distinct()
