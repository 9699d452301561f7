"""Reference-derived fixtures F1-F8 (FIXTURES.md) against all three
tiers of hashset_count. Expected values trace to
/root/reference/hashset-count-test.cc and the semantics contract
(SURVEY.md §8)."""

import pytest
from pyspark.sql import functions as F

from impala_hashset_count_spark.operators.hashset_count import (
    hashset_count_agg,
    hashset_count_df,
    hashset_count_rdd,
    make_hashset_count_udaf,
    register_sql_udaf,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "group_key string, s string")


def _result_map(df):
    return {r[0]: r[1] for r in df.collect()}


F1_ROWS = [("g1", v) for v in ["Hello", "", "World", "Hello", "costarring", "liquid"]]
F3_ROWS = [("mixed", v) for v in ["a", None, "b", None, "a"]] + [
    ("allnull", None)
] * 3
# F4: true FNV-1a-64 mod-300000 collision pairs (FIXTURES.md §A.F4) —
# ordinary values for Spark, kept to document the reference-test gap.
F4_ROWS = [("coll", v) for v in ["k3705", "k5480", "k3704", "k5481", "k3707", "k5482", "k3705"]]
F8_ROWS = [("nul", v) for v in ["a\0b", "a", "b", "a\0b"]] + [
    ("utf8", v) for v in ["héllo", "héllo", "日本語"]
]

ALL_ROWS = F1_ROWS + F3_ROWS + F4_ROWS + F8_ROWS
EXPECTED = {"g1": "5", "mixed": "2", "allnull": None, "coll": "6", "nul": "3", "utf8": "2"}


def _check(got: dict):
    assert got == EXPECTED


def test_tier_a_idiomatic(spark):
    df = _df(spark, ALL_ROWS)
    out = df.groupBy("group_key").agg(hashset_count_agg("s").alias("c"))
    _check(_result_map(out))


def test_tier_b_pandas_udaf(spark):
    udaf = register_sql_udaf(spark)
    df = _df(spark, ALL_ROWS)
    out = df.groupBy("group_key").agg(udaf("s").alias("c"))
    _check(_result_map(out))


def test_tier_b_sql_surface(spark):
    register_sql_udaf(spark)
    _df(spark, ALL_ROWS).createOrReplaceTempView("uda_strings")
    out = spark.sql(
        "SELECT group_key, hashset_count(s) AS c FROM uda_strings GROUP BY group_key"
    )
    _check(_result_map(out))


def test_tier_c_rdd_twin(spark):
    df = _df(spark, ALL_ROWS)
    _check(_result_map(hashset_count_rdd(df, "group_key", "s")))


def test_f2_empty_input_returns_null_not_zero(spark):
    """hashset-count-test.cc:33-37 — zero rows => SQL NULL (faithful),
    0 (idiomatic count_distinct) — divergence is the point."""
    empty = _df(spark, []).filter(F.lit(False))
    faithful = empty.agg(hashset_count_agg("s").alias("c")).collect()[0][0]
    assert faithful is None
    standard = empty.agg(F.count_distinct("s").alias("c")).collect()[0][0]
    assert standard == 0


@pytest.mark.parametrize("n_parts", [1, 2, 8])
def test_f5_partition_order_insensitivity(spark, n_parts):
    """Merge is a pure set union — associative/commutative over any
    partitioning (`hashset-count.cc:269-461`, README.md:41)."""
    rows = [(g, i % 4, s) for i, (g, s) in enumerate(ALL_ROWS)]
    df = spark.createDataFrame(rows, "group_key string, part_id int, s string")
    out = (
        df.repartition(n_parts, "part_id")
        .groupBy("group_key")
        .agg(hashset_count_agg("s").alias("c"))
    )
    _check(_result_map(out))
    _check(_result_map(hashset_count_rdd(df.repartition(n_parts, "part_id"), "group_key", "s")))


def test_f6_cardinality_stress_beyond_300k(spark):
    """README.md:11 — the 300k sweet spot is an artifact; the rebuild
    must be exact beyond it."""
    n = 400_000
    base = spark.range(n).select(
        F.lit("big").alias("group_key"), F.col("id").cast("string").alias("s")
    )
    dups = spark.range(10_000).select(
        F.lit("big").alias("group_key"), F.col("id").cast("string").alias("s")
    )
    out = base.union(dups).groupBy("group_key").agg(hashset_count_agg("s").alias("c"))
    assert _result_map(out) == {"big": str(n)}


def test_f6b_megacardinality_idiomatic_and_faithful(spark):
    """README.md:10-11 — the reference's documented degradation zone is
    >300k distincts per group (fixed 300k-bucket table -> chain scans).
    The rebuild's 'correct for arbitrary cardinalities' claim
    (hashset_count.py:22-25) exercised at ~1M distincts in ONE group,
    with duplicates, through BOTH production-relevant tiers: the
    idiomatic built-in AND the faithful pandas UDAF behind the JVM
    pre-distinct the registry plan uses (Python only finalizes
    already-distinct values)."""
    n = 1_000_000
    df = spark.range(2 * n).select(
        F.lit("mega").alias("group_key"),
        (F.col("id") % n).cast("string").alias("s"),
    )
    idiomatic = df.groupBy("group_key").agg(hashset_count_agg("s").alias("c"))
    assert _result_map(idiomatic) == {"mega": str(n)}
    udaf = make_hashset_count_udaf()
    faithful = df.distinct().groupBy("group_key").agg(udaf("s").alias("c"))
    assert _result_map(faithful) == {"mega": str(n)}


def test_f7_multiple_distincts_single_pass(spark):
    """README.md:1 — the motivating workload: several exact distinct
    counts in ONE grouped aggregation."""
    rows = [
        ("k%d" % (i % 3), "a%d" % (i % 7), "b%d" % (i % 11), "c%d" % (i % 13))
        for i in range(1000)
    ]
    df = spark.createDataFrame(rows, "k string, a string, b string, c string")
    out = hashset_count_df(df, ["k"], ["a", "b", "c"])
    for row in out.collect():
        assert row["hashset_count_a"] == "7"
        assert row["hashset_count_b"] == "11"
        assert row["hashset_count_c"] == "13"
    # exactly one Expand-based aggregate: the plan must not scan thrice
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.lower().count("scan") <= 1 or "Expand" in plan


def test_property_tiers_agree_with_python_reference(spark):
    """Property-based check (hypothesis): for arbitrary keyed string
    multisets — including empty strings, embedded NULs, unicode, and
    NULLs — the faithful UDAF and the idiomatic tier both equal the
    Python-set reference on every group."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    values = st.one_of(
        st.none(),
        st.sampled_from(["", "a", "a\x00b", "a\x00c", "é中文", "x" * 50]),
        st.text(min_size=0, max_size=6),
    )
    rows_strategy = st.lists(
        st.tuples(st.sampled_from(["g1", "g2", "g3"]), values),
        min_size=1,
        max_size=60,
    )

    @given(rows=rows_strategy)
    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    def check(rows):
        expect = {}
        for k, v in rows:
            expect.setdefault(k, set())
            if v is not None:
                expect[k].add(v)
        expected = {
            k: (str(len(s)) if s else None) for k, s in expect.items()
        }
        df = spark.createDataFrame(rows, "k string, v string")
        udaf = make_hashset_count_udaf()
        got_b = {
            r["k"]: r["c"]
            for r in df.groupBy("k").agg(udaf("v").alias("c")).collect()
        }
        assert got_b == expected
        got_a = {
            r["k"]: r["c"]
            for r in df.groupBy("k")
            .agg(hashset_count_agg("v").alias("c"))
            .collect()
        }
        assert got_a == expected

    check()


def test_asof_keeps_duplicate_left_rows(spark):
    """Two fully-identical left rows must BOTH receive their as-of
    match: nothing may partition or deduplicate by the left row."""
    from impala_hashset_count_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 100), (1, 100), (2, 100)], "k int, t int"
    )
    right = spark.createDataFrame(
        [(1, 50, 7), (1, 90, 8), (2, 10, 9)], "k int, rt int, payload int"
    )
    out = asof_join(
        left, right,
        left_key="k", right_key="k", left_ts="t", right_ts="rt",
        right_cols=["rt", "payload"], right_order="payload",
    ).collect()
    assert sorted((r["k"], r["payload"]) for r in out) == [(1, 8), (1, 8), (2, 9)]


def test_asof_union_tie_semantics_and_no_match(spark):
    """As-of edge rules: a right row at EXACTLY the left
    timestamp matches (inclusive <=); equal-ts right rows resolve to
    the largest right_order; left rows before every right row drop
    (inner semantics)."""
    from impala_hashset_count_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 50), (1, 100), (1, 5)], "k int, t int")
    right = spark.createDataFrame(
        [(1, 50, 7), (1, 50, 8), (1, 99, 9)], "k int, rt int, payload int"
    )
    out = asof_join(
        left, right,
        left_key="k", right_key="k", left_ts="t", right_ts="rt",
        right_cols=["rt", "payload"], right_order="payload",
    ).collect()
    got = sorted((r["t"], r["payload"]) for r in out)
    # t=5 has no match and is dropped; t=50 ties -> payload 8; t=100 -> 9
    assert got == [(50, 8), (100, 9)]


def test_type_generality_beyond_reference_strings(spark):
    """The reference accepts STRING only (`hashset-count.h:31`); the
    Spark rebuild counts any orderable type through the same API — the
    'for free from Spark' claim in SURVEY §1.2, here made true by test:
    bigint, double (incl. -0.0/0.0 and NaN semantics), date-like
    strings and NULLs in one grouped multi-distinct pass."""
    rows = [
        ("g1", 1, 1.5, "2024-01-01"),
        ("g1", 1, -0.0, "2024-01-01"),
        ("g1", 2, 0.0, "2024-01-02"),
        ("g1", None, float("nan"), None),
        ("g2", 7, float("nan"), "2024-03-01"),
        ("g2", 7, float("nan"), "2024-03-01"),
    ]
    df = spark.createDataFrame(rows, "k string, i bigint, d double, s string")
    out = {
        r["k"]: (r["hashset_count_i"], r["hashset_count_d"], r["hashset_count_s"])
        for r in hashset_count_df(
            df, ["k"], ["i", "d", "s"], faithful=False
        ).collect()
    }
    # g1: i in {1, 2}; d: -0.0 == 0.0 normalize to ONE distinct plus
    # 1.5 -> 2 (NaN excluded? no: count_distinct counts NaN as a value
    # -> 3); s: two dates. Spark treats NaN == NaN in aggregation.
    assert out["g1"][0] == 2
    assert out["g1"][1] == 3  # {1.5, 0.0 (== -0.0), NaN}
    assert out["g1"][2] == 2
    # g2: duplicate NaNs collapse to one distinct value
    assert out["g2"] == (1, 1, 1)


def test_asof_property_matches_python_backward_asof(spark):
    """Random keys/timestamps/duplicates: ``asof_join`` equals a
    pure-Python backward as-of — per left row, the greatest (rt, rid)
    with rt <= t on the same key, and no row when nothing matches."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from impala_hashset_count_spark.operators.asof import asof_join

    keys = st.integers(min_value=0, max_value=3)
    # A narrow range makes equal timestamps, and so the tie rule, common.
    ts = st.integers(min_value=0, max_value=5)
    left_rows = st.lists(st.tuples(keys, ts), min_size=0, max_size=12)
    right_rows = st.lists(st.tuples(keys, ts), min_size=0, max_size=12)

    @settings(
        max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow]
    )
    @given(left_rows, right_rows)
    def run(lrows, rrows):
        left = spark.createDataFrame(
            [(k, t, i) for i, (k, t) in enumerate(lrows)] or [(None, None, None)],
            "k int, t int, lid int",
        ).where("k IS NOT NULL")
        right = spark.createDataFrame(
            [(k, t, i) for i, (k, t) in enumerate(rrows)] or [(None, None, None)],
            "k int, rt int, rid int",
        ).where("k IS NOT NULL")
        rows = asof_join(
            left, right,
            left_key="k", right_key="k", left_ts="t", right_ts="rt",
            right_cols=["rt", "rid"], right_order="rid",
        ).collect()
        got = sorted((r.k, r.t, r.lid, r.rt, r.rid) for r in rows)
        expected = []
        for lid, (k, t) in enumerate(lrows):
            match = max(
                ((rt, rid) for rid, (rk, rt) in enumerate(rrows) if rk == k and rt <= t),
                default=None,
            )
            if match is not None:
                expected.append((k, t, lid, *match))
        assert got == sorted(expected)

    run()


def test_sketch_rollup_union_equals_direct_sketch(spark, sf_small):
    """The mergeable-sketch tier's core property: unioning the
    fine-grain cell sketches and estimating must equal sketching the
    coarse grain DIRECTLY (HLL registers merge by max, so
    sketch-of-union == union-of-sketches exactly) — this is what makes
    a stored sketch table answer any coarser rollup with zero raw-data
    access."""
    from impala_hashset_count_spark.operators.hashset_count import (
        distinct_sketch_table,
        rollup_distinct_from_sketches,
    )
    from impala_hashset_count_spark.sources.tables import load_table

    li = load_table(spark, sf_small, "lineitem")
    fine = distinct_sketch_table(li, ["l_returnflag", "l_linestatus"], "l_partkey")
    rolled = {
        (r.l_returnflag, r.approx_distinct)
        for r in rollup_distinct_from_sketches(fine, ["l_returnflag"]).collect()
    }
    direct = {
        (r.l_returnflag, r.approx_distinct)
        for r in rollup_distinct_from_sketches(
            distinct_sketch_table(li, ["l_returnflag"], "l_partkey"),
            ["l_returnflag"],
        ).collect()
    }
    assert rolled == direct


def test_sketch_estimates_accurate_and_partition_stable(spark, sf_small):
    """Estimates within 5% of exact per group (lg_k=12 -> ~1.6% rsd),
    and BIT-identical across 2/8/32 shuffle partitions (register-max
    merges are order-independent)."""
    from impala_hashset_count_spark.operators.hashset_count import (
        distinct_sketch_table,
        rollup_distinct_from_sketches,
    )
    from impala_hashset_count_spark.sources.tables import load_table

    li = load_table(spark, sf_small, "lineitem")
    exact = {
        r.l_returnflag: r.n
        for r in li.groupBy("l_returnflag")
        .agg(F.count_distinct("l_partkey").alias("n"))
        .collect()
    }

    def run():
        fine = distinct_sketch_table(
            li, ["l_returnflag", "l_linestatus"], "l_partkey"
        )
        return sorted(
            (r.l_returnflag, r.approx_distinct)
            for r in rollup_distinct_from_sketches(fine, ["l_returnflag"]).collect()
        )

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    outs = []
    try:
        for n in ("2", "8", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            outs.append(run())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert outs[0] == outs[1] == outs[2]
    for flag, est in outs[0]:
        assert abs(est - exact[flag]) <= max(0.05 * exact[flag], 2), (flag, est)


class TestDistinctStateTable:
    """Batch-incremental exact distinct state
    (`operators/hashset_count.py::distinct_state_*`) — the persisted
    Serialize/Merge/Finalize lifecycle."""

    def _ops(self):
        from impala_hashset_count_spark.operators.hashset_count import (
            distinct_state_accumulate,
            distinct_state_count,
            distinct_state_merge,
        )

        return distinct_state_accumulate, distinct_state_merge, distinct_state_count

    def test_two_batch_merge_equals_direct(self, spark, sf_small):
        acc, merge, count = self._ops()
        ev = spark.read.parquet(f"{sf_small}/events.parquet").select(
            "event_id", "event_type", "user_id"
        )
        states = acc(
            ev.filter("event_id % 3 = 0"), ["event_type"], "user_id"
        )
        for r in (1, 2):
            states = states.unionByName(
                acc(ev.filter(f"event_id % 3 = {r}"), ["event_type"], "user_id")
            )
        got = sorted(
            map(tuple, count(merge(states, ["event_type"]), ["event_type"]).collect())
        )
        direct = sorted(
            (r.event_type, str(r.n))
            for r in ev.groupBy("event_type")
            .agg(F.count_distinct(F.col("user_id").cast("string")).alias("n"))
            .collect()
        )
        assert got == direct

    def test_rollup_to_coarser_grain(self, spark, sf_small):
        acc, merge, count = self._ops()
        ev = spark.read.parquet(f"{sf_small}/events.parquet").withColumn(
            "hour", F.date_trunc("hour", F.col("ts").cast("timestamp"))
        )
        fine = acc(ev, ["event_type", "hour"], "user_id")
        coarse = count(merge(fine, ["event_type"]), ["event_type"])
        direct = count(acc(ev, ["event_type"], "user_id"), ["event_type"])
        assert sorted(map(tuple, coarse.collect())) == sorted(
            map(tuple, direct.collect())
        )

    def test_null_only_group_finalizes_null_and_nul_bytes_distinct(self, spark):
        acc, merge, count = self._ops()
        df = spark.createDataFrame(
            [
                ("empty", None),
                ("empty", None),
                ("nuls", "a\x00b"),
                ("nuls", "a\x00c"),
                ("nuls", "a"),
                ("blank", ""),
            ],
            "g string, v string",
        )
        out = {
            r.g: r.hashset_count
            for r in count(merge(acc(df, ["g"], "v"), ["g"]), ["g"]).collect()
        }
        # reference semantics: NULL (not "0") on all-NULL; "" counts;
        # embedded NULs stay distinct (the reference's documented
        # corruption is deliberately not replicated)
        assert out == {"empty": None, "nuls": "3", "blank": "1"}

    def test_partitioning_invariance(self, spark, sf_small):
        acc, merge, count = self._ops()
        base = spark.read.parquet(f"{sf_small}/events.parquet").select(
            "event_type", "user_id"
        )
        outs = []
        for parts in (2, 32):
            st = acc(base.repartition(parts), ["event_type"], "user_id")
            outs.append(
                sorted(map(tuple, count(st, ["event_type"]).collect()))
            )
        assert outs[0] == outs[1]


def test_windowed_face_matches_groupby_face(spark, sf_small):
    """COUNT(DISTINCT) OVER a window — which SQL engines (Impala
    included) reject — equals the group-by face joined back, with the
    reference's string/NULL contract; the running variant is
    monotone and ends at the partition total."""
    from impala_hashset_count_spark.operators.hashset_count import (
        hashset_count_df,
        hashset_count_windowed,
    )

    li = spark.read.parquet(f"{sf_small}/lineitem.parquet").select(
        "l_returnflag", "l_partkey", "l_orderkey"
    )
    win = hashset_count_windowed(li, ["l_returnflag"], "l_partkey")
    grp = hashset_count_df(li, ["l_returnflag"], ["l_partkey"])
    joined = win.join(grp, "l_returnflag")
    assert joined.filter(
        F.col("hashset_count_w") != F.col("hashset_count_l_partkey")
    ).count() == 0

    # NULL-not-0 contract on an all-NULL partition
    df = spark.createDataFrame(
        [("g", None), ("g", None), ("h", "x")], "k string, v string"
    )
    rows = {(r.k): r.hashset_count_w
            for r in hashset_count_windowed(df, ["k"], "v").collect()}
    assert rows["g"] is None and rows["h"] == "1"

    # running variant: monotone per partition, final value == total
    run = hashset_count_windowed(
        li.limit(500), ["l_returnflag"], "l_partkey",
        order_col="l_orderkey", faithful=False,
    )
    import itertools

    per = {}
    for r in run.sort("l_returnflag", "l_orderkey").collect():
        per.setdefault(r.l_returnflag, []).append(r.hashset_count_w)
    for flag, seq in per.items():
        assert all(a <= b for a, b in itertools.pairwise(seq))
        assert seq[-1] == max(seq)


# --- the group-size guard on tier b (production faithful form) ----------

class TestGuardedFaithful:
    def test_mixed_routing_matches_tier_a_contract(self, spark):
        from impala_hashset_count_spark.operators.hashset_count import (
            hashset_count_df_guarded,
        )

        # one giant group (exceeds the guard), the F-fixture small
        # groups (including the all-NULL group) below it
        giant = [("giant", f"v{i % 137}") for i in range(500)]
        df = _df(spark, ALL_ROWS + giant)
        out = hashset_count_df_guarded(
            df, ["group_key"], "s", max_group_rows=100
        )
        expected = dict(EXPECTED)
        expected["giant"] = "137"
        assert _result_map(out) == expected
        # reference semantics on both routes: equal to tier a wholesale
        tier_a = hashset_count_df(df, ["group_key"], ["s"]).withColumnRenamed(
            "hashset_count_s", "hashset_count"
        )
        assert _result_map(out) == _result_map(tier_a)

    def test_giant_group_bypasses_pandas_udaf_in_plan(self, spark):
        from impala_hashset_count_spark.operators.hashset_count import (
            hashset_count_df_guarded,
        )

        df = _df(spark, ALL_ROWS)
        out = hashset_count_df_guarded(df, ["group_key"], "s", max_group_rows=0)
        plan = out._jdf.queryExecution().executedPlan().toString()
        # the union compiles BOTH branches, so the proof is structural:
        # exactly one Python aggregation operator (the guarded small
        # branch — ArrowAggregatePython in Spark 4, AggregateInPandas
        # in 3.x — sitting above the broadcast ANTI join) and a
        # codegen'd count(distinct) HashAggregate for the big branch
        # behind the SEMI join — oversized groups never reach a Python
        # worker.
        n_py = plan.count("ArrowAggregatePython") + plan.count(
            "AggregateInPandas"
        )
        assert n_py == 1
        assert "count(distinct" in plan and "LeftSemi" in plan and (
            "LeftAnti" in plan
        )
        # and the Python aggregate consumes the ANTI-join (small) side
        py_pos = plan.find("ArrowAggregatePython")
        if py_pos < 0:
            py_pos = plan.index("AggregateInPandas")
        assert "LeftAnti" in plan[py_pos:py_pos + 800]

    def test_null_group_key_routes_through_guard(self, spark):
        """A giant NULL-keyed group is the canonical skew case (the
        placeholder id); the routing joins must match it NULL-SAFELY —
        a standard equi-join would never match NULL and send the one
        group the guard exists for to the pandas worker."""
        from impala_hashset_count_spark.operators.hashset_count import (
            _route_by_group_size,
            hashset_count_df_guarded,
        )

        rows = [(None, f"v{i % 61}") for i in range(300)] + [
            ("tiny", "a"), ("tiny", "b"),
        ]
        df = _df(spark, rows)
        small, big = _route_by_group_size(df, ["group_key"], 100)
        assert big.filter(F.col("group_key").isNull()).count() == 300
        assert small.filter(F.col("group_key").isNull()).count() == 0
        assert small.count() == 2
        out = _result_map(
            hashset_count_df_guarded(df, ["group_key"], "s", max_group_rows=100)
        )
        assert out == {None: "61", "tiny": "2"}

    def test_null_value_heavy_group_still_routes_big(self, spark):
        """Routing thresholds on count(*), NOT the non-NULL value
        count: Spark ships the WHOLE group (NULLs included) to the
        pandas worker, so a hot group that is mostly NULL values must
        still take the tier-a route."""
        from impala_hashset_count_spark.operators.hashset_count import (
            _route_by_group_size,
            hashset_count_df_guarded,
        )

        rows = [("hot", None)] * 190 + [("hot", f"v{i}") for i in range(10)] + [
            ("cold", "x")
        ]
        df = _df(spark, rows)
        small, big = _route_by_group_size(df, ["group_key"], 100)
        # non-NULL count is 10 <= 100, but 200 total rows would ship
        assert big.filter(F.col("group_key") == "hot").count() == 200
        assert small.count() == 1
        out = _result_map(
            hashset_count_df_guarded(df, ["group_key"], "s", max_group_rows=100)
        )
        assert out == {"hot": "10", "cold": "1"}
