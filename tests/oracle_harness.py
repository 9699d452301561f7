"""Local replica of the driver's correctness gate: run a registered
query on Spark and its oracle SQL on DuckDB over the same parquet,
compare row count, column names, and order-insensitive values.

Two comparison surfaces share ONE canonicalization:

- ``compare_query`` — exact row-by-row compare after a full collect of
  both sides. Pinpoints the first differing row; right for the driver
  SFs (sf0.001 / sf0.01) where results fit the driver comfortably.
- ``compare_query_folded`` — the volume-safe twin for the sf1+ sweeps:
  each Spark partition canonicalizes and hashes its own rows
  (order-insensitive 128-bit sum fold), the driver folds tiny
  per-partition partials, and the DuckDB side streams through
  ``fetchmany`` into the same fold. Same signal (row count + column
  names + order-insensitive value hash — exactly what the external
  driver records), O(1) driver memory on both sides. This replaced the
  r5 sweep's collect+sort path, which hit spark.driver.maxResultSize
  and then 51 GiB of driver RSS canonicalizing dedup_simhash's 10x
  pair output (SF1_SWEEP_r05.json).

The canonical cell encoding is built by ``_make_canon`` so the
executor-side fold closure and the driver-side compare use the SAME
function object — there is no second copy to drift."""

from __future__ import annotations

import duckdb

from impala_hashset_count_spark.sources.tables import TABLES, table_path


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{table_path(sf_dir, name)}')"
        )
    return con


def _make_canon():
    """Build the canonical-cell encoder as a self-contained closure:
    the partition fold ships it to executors by VALUE (cloudpickle
    serializes dynamically-created functions wholesale), so workers
    never need this test module importable, and driver/executor
    canonicalization cannot diverge."""
    import math

    def canon(v):
        # Floats are compared EXACTLY (via repr) — the external driver
        # gate hashes values with no tolerance, so a tolerant local
        # comparison would mask driver-only failures (it did, in round
        # 2, for corpus_stats_documents). Queries must emit
        # engine-bit-stable floats (exact integer arithmetic, or
        # fixed-point quantization of deterministic per-row
        # expressions — see corpus_stats._qfix).
        if v is None:
            return ("null",)
        if isinstance(v, float):
            if math.isnan(v):
                return ("nan",)
            return ("f", repr(v))
        if isinstance(v, bool):
            return ("b", v)
        if isinstance(v, (list, tuple)):
            return ("l", tuple(canon(x) for x in v))
        return (type(v).__name__[:1], str(v))

    return canon


_canon_cell = _make_canon()

_FOLD_MASK = (1 << 128) - 1


def _fold_partition_fn(order):
    """Per-partition fold: canonicalize each row, md5 it, sum the
    128-bit digests (mod 2^128 — commutative, so partition and row
    order never matter). Yields ONE tiny (count, hashsum) pair."""
    canon = _make_canon()

    def part(rows):
        import hashlib

        n = 0
        acc = 0
        for r in rows:
            t = tuple(canon(r[i]) for i in order)
            h = int.from_bytes(hashlib.md5(repr(t).encode()).digest(), "big")
            acc = (acc + h) & _FOLD_MASK
            n += 1
        yield (n, acc)

    return part


def _fold_spark(sdf):
    """Distributed fold of a DataFrame: (row_count, 128-bit hashsum).
    df.rdd rows arrive through the same pickle conversion as collect(),
    so canonical encodings match the driver-side DuckDB fold."""
    cols = [c.lower() for c in sdf.columns]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    parts = sdf.rdd.mapPartitions(_fold_partition_fn(order)).collect()
    n = sum(p[0] for p in parts)
    acc = 0
    for p in parts:
        acc = (acc + p[1]) & _FOLD_MASK
    return cols, n, acc


def _fold_duckdb(res, cols, batch=65536):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    fold = _fold_partition_fn(order)
    n = 0
    acc = 0
    while True:
        chunk = res.fetchmany(batch)
        if not chunk:
            break
        (cn, ch) = next(fold(iter(chunk)))
        n += cn
        acc = (acc + ch) & _FOLD_MASK
    return n, acc


def _canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon_cell(r[i]) for i in order) for r in rows)


def compare_query(spark, sf_dir: str, name: str, fn, oracle: str) -> None:
    sdf = fn(spark, sf_dir)
    s_cols = [c.lower() for c in sdf.columns]
    s_rows = [tuple(r) for r in sdf.collect()]

    con = duckdb_connection(sf_dir)
    try:
        res = con.execute(oracle)
        d_cols = [c[0].lower() for c in res.description]
        d_rows = res.fetchall()
    finally:
        con.close()

    assert sorted(s_cols) == sorted(d_cols), (
        f"{name}: column mismatch spark={sorted(s_cols)} duckdb={sorted(d_cols)}"
    )
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count spark={len(s_rows)} duckdb={len(d_rows)}"
    )
    cs, cd = _canon_rows(s_cols, s_rows), _canon_rows(d_cols, d_rows)
    for i, (a, b) in enumerate(zip(cs, cd)):
        assert a == b, f"{name}: first differing canonical row #{i}: spark={a} duckdb={b}"


def compare_query_folded(
    spark, sf_dir: str, name: str, fn, oracle: str, oracle_fn=None,
    timings: dict | None = None,
) -> None:
    """Volume-safe compare: same signal as ``compare_query`` (count +
    columns + order-insensitive value hash) with O(1) driver memory on
    both sides. ``oracle_fn(con) -> cursor/result`` optionally replaces
    ``con.execute(oracle)`` for entries whose sf0.01 oracle SQL does
    not scale (e.g. the recursive-CTE connected-components ground
    truth, swapped for an iterative min-label loop at sf1).

    ``timings``: pass a dict to receive per-phase wall-clock —
    ``spark_sec`` (plan + full execution + the partition-level
    canonicalize/hash fold, so an UPPER bound on the plan's own cost)
    and ``oracle_sec``. The sf100 certification reads ``spark_sec``
    against 1000x-linear budgets so one sweep pass yields both the
    correctness and the timing evidence."""
    import time as _time

    t0 = _time.perf_counter()
    sdf = fn(spark, sf_dir)
    s_fold = _fold_spark(sdf)
    if timings is not None:
        timings["spark_sec"] = round(_time.perf_counter() - t0, 1)

    # The Spark side is DONE — release its shuffle files BEFORE the
    # DuckDB side starts spilling, or the two sides' disk peaks stack
    # (r7 sf10 sweep: the Jaccard entry's ~40 GB of shuffle residue
    # was still on /tmp while its oracle needed ~30 GB of spill —
    # ENOSPC, then a poisoned JVM). Python gc first so py4j's object
    # registry drops the JVM-side plan references; then a JVM GC so
    # ContextCleaner actually deletes the files.
    import gc

    del sdf
    spark.catalog.clearCache()
    gc.collect()
    try:
        spark._jvm.System.gc()
    except Exception:  # pragma: no cover - non-py4j sessions
        pass

    compare_fold_with_oracle(sf_dir, name, s_fold, oracle, oracle_fn, timings)


def compare_fold_with_oracle(
    sf_dir: str, name: str, s_fold, oracle: str, oracle_fn=None,
    timings: dict | None = None,
) -> None:
    """The DuckDB half of ``compare_query_folded``: fold the oracle's
    result and assert columns, row count and value hash equal
    ``s_fold``, a ``_fold_spark`` result. Lets one Spark-side fold be
    checked against several oracle forms."""
    import time as _time

    s_cols, s_n, s_h = s_fold
    t1 = _time.perf_counter()
    con = duckdb_connection(sf_dir)
    try:
        res = oracle_fn(con) if oracle_fn is not None else con.execute(oracle)
        d_cols = [c[0].lower() for c in res.description]
        assert sorted(s_cols) == sorted(d_cols), (
            f"{name}: column mismatch spark={sorted(s_cols)} duckdb={sorted(d_cols)}"
        )
        d_n, d_h = _fold_duckdb(res, d_cols)
    finally:
        con.close()
    if timings is not None:
        timings["oracle_sec"] = round(_time.perf_counter() - t1, 1)

    assert s_n == d_n, f"{name}: row count spark={s_n} duckdb={d_n}"
    assert s_h == d_h, (
        f"{name}: value-hash mismatch over {s_n} rows "
        f"(spark={s_h:032x} duckdb={d_h:032x})"
    )


def compare_query_tolerant(
    spark, sf_dir: str, name: str, fn, oracle: str, rel: float = 1e-9
) -> None:
    """Documented-tolerance compare for the plain-SQL float-SUM class
    (tpch_q1 / join_star at sf1): float SUMs over millions of rows are
    summation-order dependent between engines by IEEE-754 nature
    (~1e-11 relative observed at sf1 — SF1_SWEEP_r05.json). Non-float
    cells compare exactly; rows pair by their non-float canonical key;
    floats must agree within ``rel`` relative tolerance. Only the
    sf1+ sweep uses this — the driver gate compares these entries
    exactly at sf0.01, where single-partition sums are bit-stable."""
    import math

    sdf = fn(spark, sf_dir)
    s_cols = [c.lower() for c in sdf.columns]
    s_rows = [tuple(r) for r in sdf.collect()]

    con = duckdb_connection(sf_dir)
    try:
        res = con.execute(oracle)
        d_cols = [c[0].lower() for c in res.description]
        d_rows = res.fetchall()
    finally:
        con.close()

    assert sorted(s_cols) == sorted(d_cols), (
        f"{name}: column mismatch spark={sorted(s_cols)} duckdb={sorted(d_cols)}"
    )
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count spark={len(s_rows)} duckdb={len(d_rows)}"
    )

    def keyed(cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        out = []
        for r in rows:
            cells = [r[i] for i in order]
            key = tuple(
                _canon_cell(c) for c in cells if not isinstance(c, float)
            )
            out.append((key, cells))
        out.sort(key=lambda kv: kv[0])
        return out

    sk, dk = keyed(s_cols, s_rows), keyed(d_cols, d_rows)
    for i, ((ka, ra), (kb, rb)) in enumerate(zip(sk, dk)):
        assert ka == kb, (
            f"{name}: non-float key mismatch at sorted row #{i}: {ka} vs {kb}"
        )
        for a, b in zip(ra, rb):
            if isinstance(a, float) and isinstance(b, float):
                if math.isnan(a) and math.isnan(b):
                    continue
                assert math.isclose(a, b, rel_tol=rel, abs_tol=1e-6), (
                    f"{name}: float beyond rel={rel} at sorted row #{i}: {a} vs {b}"
                )
            else:
                assert _canon_cell(a) == _canon_cell(b), (
                    f"{name}: cell mismatch at sorted row #{i}: {a!r} vs {b!r}"
                )
