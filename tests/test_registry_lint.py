"""Registry-wide contract lints — properties every entry must hold for
the external driver gate to be able to verify it at all.

Round-2 lesson: ``scalar_array_embeddings`` returned an ARRAY column
and the driver's canonicalizer (a pandas ``sort_values`` over the
result frame) crashed on the unhashable array cells, turning a locally
green query into an *unverifiable* driver row. These lints make the
whole class impossible to reintroduce.
"""

import pytest
from pyspark.sql.types import ArrayType, MapType, StructType

from impala_hashset_count_spark.plans import all_queries

QUERIES = all_queries()
WITH_ORACLE = sorted(n for n, q in QUERIES.items() if q.oracle is not None)


def test_registry_size_within_sweep_cap():
    """The driver's correctness sweep covers exactly 50 entries; more
    would silently go unproven (the round-1 failure mode)."""
    assert len(QUERIES) <= 50


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_oracle_query_outputs_atomic_columns_only(spark, sf_small, name):
    """Every oracle-checked query must return only atomic (sortable,
    hashable) columns: the driver canonicalizes via a pandas sort, which
    cannot sort array/map/struct cells. Schema-only — no job runs."""
    df = QUERIES[name].fn(spark, sf_small)
    bad = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not bad, (
        f"{name}: non-atomic output columns {bad} would crash the "
        f"driver's canonicalizer — emit a scalar rendering instead"
    )


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_oracle_query_has_no_unaliased_columns(spark, sf_small, name):
    """Column names must be stable identifiers on both sides — an
    unaliased aggregate like ``sum(l_quantity)`` or ``round(x, 2)``
    will never line up with the oracle's alias."""
    df = QUERIES[name].fn(spark, sf_small)
    bad = [c for c in df.columns if "(" in c or ")" in c or " " in c]
    assert not bad, f"{name}: suspicious auto-generated column names {bad}"


#: engine type -> pandas dtype "kind" the driver's canonicalizer sees.
#: Both engines must land on the SAME kind per column, or the value
#: hash diverges even when every value compares equal as a Python
#: object (round-3 lesson: DuckDB SUM(BIGINT) returns HUGEINT, whose
#: pandas conversion is float64, silently retyping the whole UNION
#: column while Spark's side stayed int64 — corpus_stats_documents
#: failed the driver hash two rounds running on exactly this).
_DUCK_KIND = {
    "TINYINT": "i", "SMALLINT": "i", "INTEGER": "i", "BIGINT": "i",
    "UTINYINT": "i", "USMALLINT": "i", "UINTEGER": "i",
    "FLOAT": "f", "DOUBLE": "f",
    "VARCHAR": "s", "BOOLEAN": "b", "DATE": "d",
}
#: types whose pandas conversion is lossy or engine-specific — never
#: allowed on an oracle's output surface (CAST them away in the SQL)
_DUCK_BANNED = ("HUGEINT", "UHUGEINT", "UBIGINT", "DECIMAL")


def _spark_kind(dt) -> str:
    from pyspark.sql import types as T

    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "i"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "f"
    if isinstance(dt, T.StringType):
        return "s"
    if isinstance(dt, T.BooleanType):
        return "b"
    if isinstance(dt, T.DateType):
        return "d"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "t"
    return f"?{dt.simpleString()}"


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_oracle_dtype_kinds_match_spark(spark, sf_small, name):
    """DuckDB ``DESCRIBE`` of the oracle (binding only, no execution)
    vs the Spark result schema: per column, both engines must convert
    to the same pandas dtype kind, and no pandas-lossy DuckDB type
    (HUGEINT & co) may appear at all. NULL-bearing integer columns
    widen to float64 identically on both sides, so kind-level equality
    here is exactly driver-level dtype equality."""
    import duckdb

    from impala_hashset_count_spark.sources.tables import TABLES, table_path

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{table_path(sf_small, t)}')"
            )
        desc = con.execute("DESCRIBE " + QUERIES[name].oracle).fetchall()
    finally:
        con.close()
    duck = {r[0].lower(): r[1].upper() for r in desc}
    banned = {c: t for c, t in duck.items() if t.startswith(_DUCK_BANNED)}
    assert not banned, (
        f"{name}: oracle emits pandas-lossy DuckDB types {banned} — "
        f"CAST the aggregate (DuckDB SUM(int) returns HUGEINT)"
    )
    sdf = QUERIES[name].fn(spark, sf_small)
    skinds = {f.name.lower(): _spark_kind(f.dataType) for f in sdf.schema.fields}
    dkinds = {
        c: _DUCK_KIND.get(t.split("(")[0], f"?{t}")
        if not t.startswith("TIMESTAMP") else "t"
        for c, t in duck.items()
    }
    assert skinds == dkinds, (
        f"{name}: engine dtype-kind mismatch spark={skinds} duckdb={dkinds}"
    )


@pytest.mark.parametrize(
    "name",
    [
        # every oracle query whose output carries a float derived from
        # an order-dependent aggregate (SUM/AVG/STDDEV over doubles) —
        # the class that hash-failed corpus_stats in round 2
        "corpus_stats_documents",
        "tpch_q1_pricing_summary",
        "join_star_revenue",
        "join_salted_skew",
        "percentile_stats_events",
        "funnel_view_click_purchase",
        "scalar_array_embeddings",
        "analytics_cohort_retention",
    ],
)
def test_float_query_partition_sweep_stability(spark, sf_small, monkeypatch, name):
    """Canonical output must be BIT-identical at 2/8/32 shuffle
    partitions: summation-order independence is a tested property for
    every float-emitting oracle query, not just the one that failed."""
    q = QUERIES[name]
    outs = []
    for n in ("2", "8", "32"):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", n)
        outs.append(sorted(map(tuple, q.fn(spark, sf_small).collect())))
    assert outs[0] == outs[1] == outs[2]


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_cartesian_product_in_any_entry_plan(spark, sf_small, name):
    """No registry entry may plan a CartesianProduct — the O(n*m)
    shuffle-everything join that silently works at sf0.001 and never
    finishes at 100 TB. Every intentional all-pairs composition in the
    repo routes through a broadcast of a provably tiny side
    (BroadcastNestedLoopJoin), which stays legal. Physical-plan string
    only — planning, not execution (entries with eager internal stages
    still run those, as in any construction)."""
    df = QUERIES[name].fn(spark, sf_small)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, (
        f"{name}: CartesianProduct in physical plan — broadcast the "
        f"small side or rewrite the join condition to an equi-join"
    )


def test_newest_floor_file_matches_registry():
    """The NEWEST BASELINE_LOCAL_r*.json must time the registry's
    CURRENT definitions: the same headline query set and the same arm
    keys. Adding or renaming an entry or arm FAILS this lint until
    floors are re-recorded (tools/record_floors.py)."""
    import glob
    import json
    import os
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = glob.glob(os.path.join(repo, "BASELINE_LOCAL_r*.json"))
    assert files, "no floor files recorded"
    newest = max(
        files, key=lambda p: int(re.search(r"_r(\d+)", p).group(1))
    )
    with open(newest) as f:
        floor = json.load(f)

    headline = {n for n, q in QUERIES.items() if q.headline}
    assert set(floor["floors"]) == headline, (
        f"{os.path.basename(newest)} floors don't match the current "
        f"headline set — re-record floors"
    )
    want_arms = {
        f"{n}/{a}" for n, q in QUERIES.items() for a in (q.arms or {})
    }
    assert set(floor.get("arms", {})) == want_arms, (
        f"{os.path.basename(newest)} arm lines don't match the current "
        f"registry arms — re-record floors"
    )


#: The only environment variables the package may read: deployment
#: settings (core count, data directory, driver heap), not tuning knobs.
_DEPLOYMENT_ENV = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR", "SPARK_DRIVER_MEM"}


def test_package_reads_only_deployment_env_vars():
    """Every ``os.environ`` / ``os.getenv`` read in the package must name
    one of ``_DEPLOYMENT_ENV`` by a string literal. A size gate or other
    tuning constant that an env var can override is a knob nothing sets
    and no test exercises — keep it a constant instead."""
    import os
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(repo, "impala_hashset_count_spark")
    read = re.compile(r"\b(?:environ|getenv)\b(?:\.get)?\s*[(\[]?\s*(?:['\"](\w+)['\"])?")
    bad = []
    for root, _dirs, files in os.walk(pkg):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            with open(path) as fh:
                text = fh.read()
            for m in read.finditer(text):
                if m.group(1) not in _DEPLOYMENT_ENV:
                    line = text.count("\n", 0, m.start()) + 1
                    bad.append(f"{os.path.relpath(path, repo)}:{line} {m.group(0)}")
    assert not bad, "environment knobs outside the deployment set: " + "; ".join(bad)


def test_driver_threads_only_through_fanout():
    """Only ``session.py`` may name ``ThreadPoolExecutor`` or
    ``threading``: every other driver-side concurrency goes through
    ``session.fanout``, which hands each thread the caller's job group.
    A pool of its own would submit jobs no per-entry accounting sees."""
    import os
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(repo, "impala_hashset_count_spark")
    pool = re.compile(r"\b(?:ThreadPoolExecutor|threading)\b")
    bad = []
    for root, _dirs, files in os.walk(pkg):
        for fname in files:
            path = os.path.join(root, fname)
            if not fname.endswith(".py") or path == os.path.join(pkg, "session.py"):
                continue
            with open(path) as fh:
                for lineno, line in enumerate(fh, 1):
                    if pool.search(line):
                        bad.append(f"{os.path.relpath(path, repo)}:{lineno}")
    assert not bad, "driver thread pools outside session.fanout: " + "; ".join(bad)


# Top-level package functions/classes that only tests call today. The
# list may only shrink: give an entry a production caller or delete it
# with its tests, then drop it here (ROADMAP item 7).
_TEST_ONLY_ALLOWLIST = frozenset({
    # functions/bpe.py
    "bpe_token_count_expr", "bpe_tokens_expr", "encode_word", "learn_bpe",
    # functions/text.py
    "char_shingles", "poly_winnow_py",
    # functions/vectors.py
    "cosine_int8", "dequantize_int8", "l2_normalize", "quantize_int8",
    # operators/aggstate.py
    "agg_state_finalize",
    # operators/bloom.py
    "bloom_dedup_incremental",
    # operators/checks.py
    "observe_constraints", "satisfies",
    # operators/cms.py
    "cms_merge",
    # operators/corpus_stats.py
    "top_tokens",
    # operators/decontaminate.py
    "_shingled", "semantic_decontaminate",
    # operators/dedup.py
    "exact_dedup_incremental", "minhash_lsh_index", "minhash_lsh_pairs_incremental",
    "ngram_jaccard_pairs_prefix", "semantic_dedup", "simhash_pairs_incremental",
    # operators/drift.py
    "drift_oracle_select",
    # operators/fileindex.py
    "build_rowgroup_index", "compact_small_files", "prune_rowgroups", "read_pruned",
    "read_pruned_rowgroups",
    # operators/hashset_count.py
    "distinct_sketch_table", "hashset_count_df", "hashset_count_windowed",
    "rollup_distinct_from_sketches",
    # operators/jvm_udaf.py
    "hashset_count_jvm_guarded",
    # operators/merge.py
    "merge_scd2",
    # operators/multimodal.py
    "decode_audio", "image_dhashes",
    # operators/quality_model.py
    "train_quality_model",
    # operators/quantiles.py
    "bottomk_accumulate", "bottomk_combine", "quantiles_from_sketch",
    # operators/similarity.py
    "assign_ivf_cells_frozen", "ivfpq_topk",
    # operators/substring_dedup.py
    "gram_count_index",
    # operators/zorder.py
    "cluster_write",
    # pipelines.py
    "corpus_token_histogram", "curate_corpus",
    # register.py
    "register_all",
    # sources/pydatasource.py
    "read_jsonl_manifested", "register_python_datasources",
    # sources/tables.py
    "read_source", "write_sink",
    # streaming/tws.py
    "hashset_count_tws", "rocksdb_conf",
    # streaming/windows.py
    "approx_distinct_stateful", "events_stream", "foreach_batch_parquet_sink",
    "hashset_count_stateful", "run_to_memory", "sessionize_stateful",
    "snapshot_changes", "stream_bitmap_distinct_maintenance", "stream_bloom_dedup",
    "stream_cdc_upsert", "stream_corpus_drift", "stream_dedup_within_watermark",
    "stream_index_maintenance", "stream_interval_join",
    "stream_interval_join_left_outer", "stream_quantiles_sketch",
    "stream_session_windows", "stream_span_dedup", "stream_summary_maintenance",
    "vacuum_snapshots",
})


def test_no_new_test_only_functions():
    """Every top-level package ``def``/``class`` needs a non-test use:
    a decorator, or its name as a Name, Attribute, import alias or
    string constant somewhere in the package, ``tools/``, ``bench.py``,
    ``__spark_entry__.py`` or ``perfbench/`` — outside its own body and
    outside the package ``__init__.py`` re-exports. Anything else is a
    second implementation only tests select; it must be deleted, not
    added to ``_TEST_ONLY_ALLOWLIST``. Allowlisted names that gained a
    caller or were deleted must leave the list."""
    import ast
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(repo, "impala_hashset_count_spark")

    def py_files(path):
        if path.endswith(".py"):
            return [path]
        return [os.path.join(root, f) for root, _dirs, files in os.walk(path)
                for f in files if f.endswith(".py")]

    defined, used = {}, set()
    for top in ("impala_hashset_count_spark", "tools", "bench.py",
                "__spark_entry__.py", "perfbench"):
        for path in py_files(os.path.join(repo, top)):
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            in_pkg = path.startswith(pkg + os.sep)
            reexports = in_pkg and os.path.basename(path) == "__init__.py"
            for stmt in tree.body:
                owner = None
                if in_pkg and isinstance(
                    stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                ):
                    owner = stmt.name
                    if not stmt.decorator_list:
                        defined.setdefault(owner, os.path.relpath(path, repo))
                if reexports and (
                    isinstance(stmt, ast.ImportFrom)
                    or (isinstance(stmt, ast.Assign)
                        and any(getattr(t, "id", None) == "__all__" for t in stmt.targets))
                ):
                    continue
                for node in ast.walk(stmt):
                    if isinstance(node, ast.Name):
                        name = node.id
                    elif isinstance(node, ast.Attribute):
                        name = node.attr
                    elif isinstance(node, ast.alias):
                        name = node.name.rsplit(".", 1)[-1]
                    elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                        name = node.value
                    else:
                        continue
                    if name != owner:
                        used.add(name)
    test_only = {n for n in defined if n not in used}
    new = sorted(f"{defined[n]}:{n}" for n in test_only - _TEST_ONLY_ALLOWLIST)
    assert not new, "package functions with no non-test use: " + "; ".join(new)
    stale = sorted(_TEST_ONLY_ALLOWLIST - test_only)
    assert not stale, "remove from _TEST_ONLY_ALLOWLIST (now used or gone): " + ", ".join(stale)
