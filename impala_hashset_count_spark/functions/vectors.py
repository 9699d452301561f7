"""Vector column functions over ``array<float>`` embeddings.

All JVM-side higher-order functions (zip_with/aggregate) — dot products
and norms run inside codegen, no Python, no UDF. At 100 TB the dominant
cost is the pairing strategy (see operators/similarity.py), never these
per-row expressions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: str | Column, b: str | Column) -> Column:
    """Sum of elementwise products, accumulated in double.
    DuckDB mirror: LIST_SUM(LIST_TRANSFORM(LIST_ZIP(CAST(a AS DOUBLE[]),
    CAST(b AS DOUBLE[])), x -> x[1] * x[2]))."""
    prods = F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def squared_norm(a: str | Column) -> Column:
    """Mirror: LIST_SUM(LIST_TRANSFORM(CAST(a AS DOUBLE[]), x -> x*x))."""
    return F.aggregate(
        _c(a), F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )


def l2_norm(a: str | Column) -> Column:
    return F.sqrt(squared_norm(a))


def cosine(a: str | Column, b: str | Column) -> Column:
    """cos = dot / (||a|| * ||b||) — the oracle mirrors this exact
    association (sqrt(ss_a)*sqrt(ss_b), NOT sqrt(ss_a*ss_b), so the
    floating-point result is bit-comparable).

    A zero vector yields a 0/0 division (engine-defined NULL/NaN,
    identical on Spark and DuckDB since both mirror the expression);
    filter zero vectors upstream if they can occur — no silent guard
    here, because a guard would have to be mirrored in every oracle."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def l2_normalize(a: str | Column) -> Column:
    """Unit-length copy of the vector (as array<double>). Pre-normalizing
    once turns every later cosine into a plain dot product — the right
    trade at scale (one pass now, cheaper pairwise math forever).

    Shaped as ONE ``aggregate`` whose finish lambda receives the squared
    norm as a lambda VARIABLE: placing ``l2_norm(a)`` inline inside the
    per-element transform would re-reduce the whole vector per element —
    O(d^2) per row (a lambda re-evaluates an inline subexpression on
    every call)."""
    v = _c(a)
    return F.aggregate(
        v,
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
        lambda ss: F.transform(v, lambda x: x.cast("double") / F.sqrt(ss)),
    )


# ---------------------------------------------------------------------
# int8 quantization (embedding compression for the 100 TB store)
# ---------------------------------------------------------------------

def quantize_int8(a: str | Column) -> Column:
    """Symmetric per-vector int8 quantization:
    ``struct(scale double, q array<tinyint>)`` with
    ``q[i] = round(x[i] / scale)``, ``scale = max|x| / 127``.

    4x smaller than float32 at ~0.4% max per-component error — the
    standard storage/shuffle-bandwidth cut for a petabyte embedding
    store. Pure column math (no UDF); an all-zero vector gets
    scale 0 and an all-zero q (dequantizes exactly).

    One ``aggregate`` whose finish lambda gets ``amax`` as a lambda
    VARIABLE — an inline ``amax`` inside the per-element transform
    would re-reduce the vector per element, O(d^2) per row."""
    v = _c(a)
    return F.aggregate(
        v,
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
        lambda amax: F.struct(
            (amax / F.lit(127.0)).alias("scale"),
            F.when(
                amax == 0.0, F.transform(v, lambda x: F.lit(0).cast("tinyint"))
            )
            .otherwise(
                F.transform(
                    v,
                    lambda x: F.round(
                        x.cast("double") / (amax / F.lit(127.0))
                    ).cast("tinyint"),
                )
            )
            .alias("q"),
        ),
    )


def dequantize_int8(qs: str | Column) -> Column:
    """Inverse of ``quantize_int8``: ``array<double>`` reconstruction
    with per-component error <= scale/2 (= max|x|/254).

    Pass a STORED struct column (the natural usage — quantize once,
    store, dequantize on read): ``s`` is referenced per element, so an
    inline ``quantize_int8(...)`` argument would be re-evaluated per
    element."""
    s = _c(qs)
    return F.transform(s["q"], lambda x: x.cast("double") * s["scale"])


def cosine_int8(qa: str | Column, qb: str | Column) -> Column:
    """Cosine directly on two quantized structs. The per-vector scales
    cancel in cosine, so this is integer dot / integer norms — the
    cheap scoring path when both sides of a similarity join are stored
    quantized. NULL/NaN on zero vectors, same contract as ``cosine``."""
    a, b = _c(qa), _c(qb)
    return cosine(
        F.transform(a["q"], lambda x: x.cast("double")),
        F.transform(b["q"], lambda x: x.cast("double")),
    )


def jl_sign_matrix(dim: int, k: int, seed: str = "jl") -> list[list[int]]:
    """Deterministic +-1 sign matrix for Johnson-Lindenstrauss-style
    random projection, derived from md5 so ANY engine (or an oracle
    SQL mirror) can inline the identical literals. Sign (j, i) is the
    low bit of md5(f"{seed}:{j}:{i}") — seed-keyed, reproducible, no
    RNG state to coordinate across 1000 executors."""
    import hashlib

    return [
        [
            1 if hashlib.md5(f"{seed}:{j}:{i}".encode()).digest()[0] & 1 else -1
            for i in range(dim)
        ]
        for j in range(k)
    ]


def sign_project(a: str | Column, signs: list[list[int]]) -> list[Column]:
    """k sign-random projections of an ``array<float>`` column —
    the JL dimensionality-reduction / feature-hashing primitive
    (projection j = sum_i v[i] * s[j][i]). Pure JVM higher-order
    functions (zip_with against a literal sign row + a sequential
    aggregate fold): zero Python, zero shuffle, embarrassingly
    parallel — the shape that survives 100 TB of vectors. The fold
    order is left-to-right on both Spark and DuckDB's LIST_SUM, so
    the unquantized double is engine-bit-identical (the same property
    the l2_norm oracle relies on)."""
    out = []
    for j, row in enumerate(signs):
        lit_row = F.array(*[F.lit(float(s)) for s in row])
        prod = F.zip_with(_c(a), lit_row, lambda x, s: x.cast("double") * s)
        out.append(
            F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x).alias(f"proj{j}")
        )
    return out
