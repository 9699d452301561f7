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
