"""Similarity search (ANN) over an embedding column.

Five top-k faces, all returning (query_id, neighbor_id, cos_sim, rank):

- ``brute_force_topk`` — exact top-k by cosine: broadcast the (small)
  query set against the (huge) corpus, one narrow projection + a
  per-query top-k window. The corpus is never shuffled: the only
  shuffle carries candidate rows already cut down by the rank limit.
  This is the exactness baseline and the oracle-checkable tier.

- ``lsh_topk`` — random-hyperplane LSH: each vector gets a b-bit sign
  signature; candidates are corpus vectors sharing a signature band
  with the query (equi-join on (band_id, band_val)), exact cosine is
  computed for candidates only, then per-query top-k. Sub-linear
  candidate sets at the cost of probabilistic recall. The signature
  pass is INTEGER-QUANTIZED (vectors and hyperplanes quantized to
  int64), so every sign-bit dot product is an exact integer sum —
  order-independent — and the Arrow-batched numpy matmul is
  bit-identical to a SQL mirror; given the seed the whole pipeline is
  deterministic and oracle-checkable.

- ``ivf_topk`` — inverted-file index (IVF-flat): a seeded k-means
  coarse quantizer partitions the corpus into cells; each query probes
  only its ``nprobe`` nearest cells. Candidate count ~ corpus *
  nprobe / n_cells, and the cell assignment doubles as the PHYSICAL
  partitioning key at scale (write the corpus bucketed by cell and a
  probe reads only matching partitions).

- ``pq_topk`` / ``ivfpq_topk`` — product quantization: the scan reads
  m-code rows only (asymmetric distance computation), over the whole
  corpus or over the probed IVF cells.

The faces share three building blocks: ``_exact_top_k`` (the exact
cosine re-rank every face ends in), ``_probe_cells`` (IVF probe
planning) and ``_adc_topk`` (the PQ scan).

The hyperplanes / k-means seed are fixed => deterministic plans,
reproducible runs.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

from ..functions.vectors import cosine
from ..session import fanout


def _exact_top_k(pairs: DataFrame, k: int) -> DataFrame:
    """The exact re-rank every top-k face ends in: ``pairs`` holds
    candidate (query_id, qv, neighbor_id, cv) rows; returns
    (query_id, neighbor_id, cos_sim, rank) with rank 1..k by
    (round(cos,6) desc, neighbor_id) — rounding before ranking keeps
    order ties engine-deterministic."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("cos_sim", F.round(cosine("cv", "qv"), 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k neighbors per query vector."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    return _exact_top_k(
        c.crossJoin(F.broadcast(q)).filter(F.col("neighbor_id") != F.col("query_id")),
        k,
    )


# Embedding components are quantized to int64 at this scale before the
# signature dot products. floor(x * 8192 + 0.5) is a single
# deterministic IEEE-double expression (float->double widening is
# exact), so Spark SQL, numpy, and DuckDB all produce the identical
# integer — and integer sums are order-independent, so the fold order
# / matmul blocking no longer matters. Quantization step ~1.2e-4 flips
# a sign bit only when the true dot is within ~dim*step of zero — a
# vector essentially ON the hyperplane, where either bit is an equally
# good LSH decision.
VEC_QUANT_SCALE = 8192.0


def _int_hyperplanes(
    dim: int, n_planes: int, seed: int = 42, scale: int = 1024
) -> list[list[int]]:
    """Integer-quantized gaussian hyperplanes: floor(g * scale + 0.5).
    Quantized normals keep the spherical symmetry random-hyperplane
    LSH needs, while integer coefficients make every signature dot an
    exact int64 sum (|q_vec| < 2^17, |plane| < 2^14, dim <= 2^12 keeps
    the sum far below 2^63)."""
    rng = np.random.default_rng(seed)
    g = rng.standard_normal((n_planes, dim))
    return [[int(v) for v in row] for row in np.floor(g * scale + 0.5).astype(np.int64)]


def _signature_bands_arrow(df: DataFrame, vec_col: str, planes, bands: int, rows: int):
    """Sign-bit signature split into bands — one (band_id, band_val)
    row per band, band_val packing ``rows`` sign bits. All the
    hyperplane dots are ONE numpy int64 matmul per Arrow batch —
    (batch x dim) @ (dim x n_planes); a Catalyst fold of the same dots
    (2048 interpreted lambda steps per row) measured ~5x slower
    wall-clock on the sf0.1 headline query. Integer arithmetic makes
    the matmul bit-identical to the SQL mirror regardless of BLAS
    blocking/summation order — which is exactly why the quantization
    exists: a float32/float64 matmul's summation order is NOT
    mirrorable in SQL, so a float signature pass could never carry the
    oracle hash signal this one does.

    Still a narrow per-row projection: zero shuffle, and the band
    explosion stays JVM-side (``posexplode`` of the returned
    ``array<bigint>``)."""
    P = np.asarray(planes, dtype=np.int64)  # (n_planes, dim)
    weights = np.int64(1) << np.arange(rows, dtype=np.int64)
    n = bands * rows
    assert P.shape[0] == n

    @F.pandas_udf(ArrayType(LongType()))
    def _sig(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        arrs = v.to_numpy()
        # NULL vectors (filtered upstream by lsh_topk, but this UDF
        # must not crash a whole job if one slips through another
        # call site) -> NULL band array; posexplode then emits no rows
        mask = np.array([a is not None for a in arrs])
        out = np.full(len(arrs), None, dtype=object)
        if mask.any():
            m = np.vstack(arrs[mask]).astype(np.float64)
            q = np.floor(m * VEC_QUANT_SCALE + 0.5).astype(np.int64)
            bits = (q @ P.T > 0).astype(np.int64)  # (batch, n_planes)
            vals = bits.reshape(int(mask.sum()), bands, rows) @ weights
            for j, row in zip(np.flatnonzero(mask), vals):
                out[j] = row.tolist()
        return pd.Series(out)

    # The UDF is perfectly deterministic; the marker is an optimizer
    # BARRIER, not a semantic claim: Generate(posexplode) implies a
    # `size(__bands) > 0` predicate, and Catalyst duplicates a
    # deterministic Python UDF below both the Filter and the Generate
    # — the whole signature pass (Arrow transfer + matmul) ran TWICE
    # per side (4 ArrowEvalPython nodes, measured 1.09s vs 0.59s at
    # sf0.1). Nondeterministic expressions are never duplicated, so
    # the plan keeps exactly one evaluation per side.
    _sig = _sig.asNondeterministic()

    return (
        df.withColumn("__bands", _sig(F.col(vec_col)))
        .select("*", F.posexplode("__bands").alias("band_id", "band_val"))
        .drop("__bands")
    )


def assign_ivf_cells(
    corpus: DataFrame,
    vec_col: str,
    n_cells: int = 16,
    seed: int = 42,
) -> tuple[DataFrame, list[list[float]]]:
    """Fit the seeded k-means coarse quantizer and attach each row's
    ``cell`` id. Training and assignment are JVM-side (``pyspark.ml``
    KMeans over Vector columns); at 100 TB, fit on a sample
    (``df.sample``) — the quantizer only needs the coarse geometry.

    Returns (corpus_with_cell, centroids) — centroids are tiny
    (n_cells x dim floats) and intended for driver-side probe planning.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = corpus.withColumn("__v", array_to_vector(F.col(vec_col).cast("array<double>")))
    model = KMeans(k=n_cells, seed=seed, featuresCol="__v", predictionCol="cell").fit(
        vecs.select("__v")
    )
    assigned = model.transform(vecs).drop("__v")
    centroids = [c.tolist() for c in model.clusterCenters()]
    return assigned, centroids


def assign_ivf_cells_frozen(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
) -> DataFrame:
    """Assign rows to FROZEN centroids — the incremental-index append
    face: a stored IVF index grows by assigning each new batch against
    the coarse quantizer fitted once (``assign_ivf_cells``), with no
    re-fit, no ml model object, and no history re-read (the same
    append-maintenance convention as ``minhash_lsh_pairs_incremental``
    and ``update_gram_index``).

    The assignment rule is the fitted k-means transform's own
    (Euclidean argmin, ties to the lowest cell id), but the plan is a
    pure whole-stage-codegen PROJECTION: the n_cells x dim centroid
    matrix is inlined as literals and the argmin is
    ``array_min`` over (distance², cell) structs — zero shuffle, zero
    join, the map-only shape batch assignment should have at 100 TB.
    Keep ``n_cells x dim`` to literal-friendly sizes (coarse
    quantizers are; a 4096x1024 fine quantizer belongs in a broadcast
    join instead)."""
    v = F.col(vec_col).cast("array<double>")
    opts = []
    for ci, c in enumerate(centroids):
        carr = F.array(*[F.lit(float(x)) for x in c])
        d2 = F.aggregate(
            F.zip_with(v, carr, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        opts.append(F.struct(d2.alias("d2"), F.lit(ci).alias("cell")))
    return df.withColumn("cell", F.array_min(F.array(*opts))["cell"])


def _probe_cells(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    nprobe: int,
) -> DataFrame:
    """IVF probe planning, DISTRIBUTED: the tiny centroid table
    (n_cells x dim floats) is broadcast against the query set and each
    query's ``nprobe`` most cosine-similar cells (ties to the lowest
    cell id) come from a rank-limited window — no driver ``collect()``
    of the queries, so the query side may itself be a full table.
    Returns (query_id, qv, cell), one row per probed cell."""
    cent = queries.sparkSession.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cell int, cent_v array<double>",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cell_sim").desc(), F.col("cell")
    )
    return (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
        .crossJoin(F.broadcast(cent))
        .withColumn("cell_sim", cosine("qv", "cent_v"))
        .withColumn("__cr", F.row_number().over(w))
        .filter(F.col("__cr") <= nprobe)
        .select("query_id", "qv", "cell")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """IVF-flat ANN: search only the ``nprobe`` k-means cells nearest
    each query (``_probe_cells``). The corpus side is filtered to
    probed cells before any distance math."""
    assigned, centroids = assign_ivf_cells(corpus, vec_col, n_cells, seed)
    c = assigned.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"), "cell"
    )
    candidates = (
        c.join(_probe_cells(queries, id_col, vec_col, centroids, nprobe), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "qv", "neighbor_id", "cv")
    )
    return _exact_top_k(candidates, k)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    bands: int = 8,
    rows: int = 4,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: candidates = corpus rows sharing >= 1
    signature band with the query; exact cosine on candidates only.

    bands x rows hyperplanes; recall rises with bands (OR over bands),
    precision of the candidate set with rows (AND within a band). The
    signature pass is ``_signature_bands_arrow``, mirrored term for
    term by the ``similarity_topk_bruteforce`` SQL oracle.

    ``dim`` (the embedding dimensionality) is required — array columns
    do not carry their length in the schema, and inferring it with
    ``corpus.first()`` would run an avoidable extra job per call."""
    if dim is None:
        raise ValueError(
            "lsh_topk requires dim= (embedding dimensionality); array "
            "columns do not carry a length in the schema and a "
            "first()-probe would cost an extra job per call"
        )
    planes = _int_hyperplanes(dim, bands * rows, seed)
    # NULL vectors have no angle: drop them before the signature pass
    # rather than ship them across the Arrow boundary for no bands
    c = corpus.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    q = queries.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    cb = _signature_bands_arrow(c, "cv", planes, bands, rows)
    qb = _signature_bands_arrow(q, "qv", planes, bands, rows)
    candidates = (
        cb.join(F.broadcast(qb), ["band_id", "band_val"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "qv", "neighbor_id", "cv")
        .distinct()
    )
    return _exact_top_k(candidates, k)


# ---------------------------------------------------------------------
# Product quantization (PQ): the memory-compression half of a
# production ANN index (FAISS-style IVF-PQ = assign_ivf_cells for the
# coarse partitioning x the codes below for in-cell compression).
# ---------------------------------------------------------------------

def train_pq(
    corpus: DataFrame,
    vec_col: str,
    dim: int,
    m: int = 8,
    k_codes: int = 32,
    seed: int = 42,
) -> list[list[list[float]]]:
    """Train per-subspace codebooks: the vector is split into ``m``
    contiguous subvectors and each subspace gets its own seeded k-means
    (``k_codes`` centroids). Returns ``codebooks[s][j]`` = centroid j
    of subspace s (a tiny m x k x (dim/m) float table — driver/broadcast
    material). Training touches the corpus m times via pyspark.ml
    KMeans; at 100 TB fit on a sample — PQ codebooks only need the
    marginal geometry of each subspace.

    The ``m`` fits are INDEPENDENT seeded models over disjoint vector
    slices, so they run through ``fanout`` and their (internally
    serial, iterative) job chains overlap on the cluster (guide §2.6
    idle-capacity pattern — a fit's tail tasks leave cores free for the
    next subspace's jobs). Each codebook is unchanged: seed, input
    slice, and partitioning are per-subspace."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m

    def _fit(s: int) -> list[list[float]]:
        sub = corpus.select(
            array_to_vector(
                F.slice(F.col(vec_col).cast("array<double>"), s * dsub + 1, dsub)
            ).alias("__v")
        )
        model = KMeans(
            k=k_codes, seed=seed + s, featuresCol="__v", predictionCol="__c"
        ).fit(sub)
        return [[float(x) for x in c] for c in model.clusterCenters()]

    return fanout(*(partial(_fit, s) for s in range(m)))


def pq_encode(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[list[float]]],
) -> DataFrame:
    """Encode each vector to ``m`` small codes (nearest centroid per
    subspace, L2, ties to the lowest index): 64 float32 dims become
    m=4 bytes — a 64x memory cut, which is what lets a 100 TB corpus'
    index live in RAM for the ADC scan. Arrow-batched numpy argmin per
    partition (the codebook rides the closure — m*k*dsub floats)."""
    books = np.asarray(codebooks, dtype=np.float64)  # (m, k, dsub)
    m, _k_codes, dsub = books.shape

    def batches(it):
        for pdf in it:
            n = len(pdf)
            if n == 0:
                yield pd.DataFrame(
                    {"__id": pd.Series([], dtype="int64"), "codes": []}
                )
                continue
            vecs = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["__vec"]]
            )
            sub = vecs.reshape(n, m, dsub)
            # squared distance to every centroid: (n, m, k)
            d2 = ((sub[:, :, None, :] - books[None, :, :, :]) ** 2).sum(axis=3)
            codes = d2.argmin(axis=2).astype("int32")  # first min wins
            yield pd.DataFrame({"__id": pdf["__id"].values, "codes": list(codes)})

    return (
        corpus.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec"))
        .mapInPandas(batches, schema="__id bigint, codes array<int>")
        .withColumnRenamed("__id", id_col)
    )


def _adc_topk(
    code_rows: DataFrame,
    q: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[list[float]]],
    k: int,
    adc_factor: int,
    on: str | None = None,
) -> DataFrame:
    """The PQ scan — asymmetric distance computation (ADC) + exact
    re-rank, FAISS-style but Spark-first. ``code_rows`` is
    (neighbor_id, codes[, on]), ``q`` is (query_id, qv[, on]):

    1. per query row, precompute the ADC lookup table ``tab[s*k+j] =
       dot(q_s, c_sj)`` and ``|q|`` (one Arrow-batched einsum; tiny,
       broadcast);
    2. pair every query with the code rows — a cross join, or an
       equi-join on ``on`` (the probed cell for IVF-PQ) — and score
       each pair with m array lookups: an approximate cosine
       ``sum_s tab / (|q| * sqrt(sum_s |c|^2))``, all JVM-side HOF
       folds, no Python in the scan;
    3. keep the top ``k * adc_factor`` per query by ADC score, join
       back ONLY those candidates' true vectors and ``_exact_top_k``
       (the standard refine step, so the emitted ``cos_sim`` is exact
       and directly comparable to the other tiers)."""
    books = np.asarray(codebooks, dtype=np.float64)  # (m, k, dsub)
    m, kc, dsub = books.shape

    def qbatches(it):
        for pdf in it:
            n = len(pdf)
            qv = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["qv"]]
            ).reshape(n, m * dsub)
            # tab[n, s, j] = dot(q_s, c_sj)
            tab = np.einsum("nsd,skd->nsk", qv.reshape(n, m, dsub), books)
            yield pdf.assign(
                tab=list(tab.reshape(n, m * kc)), qnorm=np.sqrt((qv**2).sum(axis=1))
            )

    # a fresh StructType: q.schema.add() would mutate q's cached schema
    schema = StructType(
        [StructField(f.name, f.dataType) for f in q.schema.fields]
        + [StructField("tab", ArrayType(DoubleType())), StructField("qnorm", DoubleType())]
    )
    qtab = F.broadcast(q.mapInPandas(qbatches, schema=schema))

    def lookup(table):
        # sum_s table[s*kc + codes[s]]: m element_at lookups, pure JVM
        return F.aggregate(
            F.sequence(F.lit(0), F.lit(m - 1)),
            F.lit(0.0),
            lambda acc, s: acc
            + F.element_at(
                table, (s * kc + F.element_at(F.col("codes"), s + 1) + 1).cast("int")
            ),
        )

    norms = F.array(*[F.lit(float(x)) for x in (books**2).sum(axis=2).reshape(m * kc)])
    pairs = code_rows.join(qtab, on) if on else code_rows.crossJoin(qtab)
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("__adc").desc(), F.col("neighbor_id")
    )
    cand = (
        pairs.filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "__adc",
            lookup(F.col("tab")) / (F.col("qnorm") * F.sqrt(lookup(norms)) + F.lit(1e-12)),
        )
        .withColumn("__ar", F.row_number().over(w_adc))
        .filter(F.col("__ar") <= k * adc_factor)
        .select("query_id", "qv", "neighbor_id")
    )
    cv = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    return _exact_top_k(cand.join(cv, "neighbor_id"), k)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 10,
    m: int = 8,
    k_codes: int = 32,
    adc_factor: int = 8,
    seed: int = 42,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """PQ ANN over the whole corpus: encode it to m-code rows
    (``pq_encode``; at 100 TB the code table is the only thing the ADC
    stage reads — 4 bytes/row here vs 256 for the raw float32 vector)
    and run the ``_adc_topk`` scan against every query."""
    if codebooks is None:
        codebooks = train_pq(corpus, vec_col, dim, m, k_codes, seed)
    code_rows = pq_encode(corpus, id_col, vec_col, codebooks).withColumnRenamed(
        id_col, "neighbor_id"
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    return _adc_topk(code_rows, q, corpus, id_col, vec_col, codebooks, k, adc_factor)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 8,
    k_codes: int = 32,
    adc_factor: int = 8,
    seed: int = 42,
) -> DataFrame:
    """IVF-PQ: the two halves composed the way a production index is —
    the k-means coarse quantizer restricts each query to its ``nprobe``
    cells (``_probe_cells``, candidate count ~ corpus * nprobe /
    n_cells), and within the probed cells the ``_adc_topk`` scan reads
    only the m-byte PQ codes. At 100 TB: corpus written bucketed by
    ``cell`` with the code column; a probe touches nprobe buckets and
    never deserializes a raw vector until the re-rank join."""
    assigned, centroids = assign_ivf_cells(corpus, vec_col, n_cells, seed)
    codebooks = train_pq(corpus, vec_col, dim, m, k_codes, seed)
    codes = pq_encode(assigned, id_col, vec_col, codebooks)
    cells = assigned.select(F.col(id_col).alias("__cid"), "cell")
    code_rows = codes.join(
        cells, codes[id_col] == cells["__cid"]
    ).select(F.col(id_col).alias("neighbor_id"), "codes", "cell")
    probe_q = _probe_cells(queries, id_col, vec_col, centroids, nprobe)
    return _adc_topk(
        code_rows, probe_q, corpus, id_col, vec_col, codebooks, k, adc_factor, on="cell"
    )
