"""Host-surface parity queries (SURVEY.md §2.2-2.11).

The reference is one aggregate; everything around it (scans, projection,
filters, joins, grouping, windows, sorts, set ops, scalar functions) was
Impala's job (`/root/reference/README.md:25-33`). This module provides
the same host surface Spark-first. Each query is a declarative
DataFrame/SQL plan — Catalyst supplies predicate pushdown, column
pruning, join selection, and partial aggregation; AQE supplies runtime
coalescing and skew handling.

Conventions (driver correctness contract):
- every computed column is aliased IDENTICALLY in the Spark plan and the
  DuckDB oracle;
- double aggregates are rounded (accumulation-order noise in floating
  sums differs between engines);
- outputs avoid raw timestamps (cast to date / formatted string) so
  value hashing is engine-neutral;
- every ordering that picks rows (top-k, limit) carries a unique
  tie-break key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.asof import asof_join
from ..operators.bitmap_distinct import (
    bitmap_accumulate,
    bitmap_count,
    bitmap_distinct_count,
    bitmap_merge,
    bitmap_set_counts,
)
from ..operators.kmv import (
    kmv_accumulate,
    kmv_combine,
    kmv_estimate,
    kmv_set_estimates,
)
from ..operators.range_join import binned_interval_join, binned_range_join
from ..operators.ivm import maintain_join_view
from ..operators.merge import apply_changes
from ..operators import checks as chk
from ..operators.checks import check_constraints, check_foreign_key
from ..operators.profile import profile_table
from ..operators.analytics import histogram_fixed
from ..operators.cms import cms_accumulate, cms_estimate, cms_oracle_ctes
from ..operators.quantiles import bottomk_sample, mad_disc, quantiles_disc
from ..operators.zorder import zorder_key, zorder_sql
from ..operators.hashset_count import (
    approx_distinct_count,
    distinct_state_accumulate,
    distinct_state_count,
    distinct_state_merge,
    hashset_count_agg,
    hashset_count_df_guarded,
    hashset_count_rdd,
    register_sql_udaf,
)
from ..functions.vectors import jl_sign_matrix, sign_project
from ..session import fanout
from ..sources.tables import load_table, register_views
from .registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# =====================================================================
# The reference's own operator family (SURVEY.md §2.1)
# =====================================================================

def multi_distinct_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Several exact distinct counts declared directly in one
    ``groupBy``. Catalyst's ``RewriteDistinctAggregates`` turns them
    into one Expand under a partial/final hash aggregate, so a single
    lineitem scan serves all three counts plus ``count(*)``."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("distinct_parts"),
        F.count_distinct("l_suppkey").alias("distinct_supps"),
        F.count_distinct("l_orderkey").alias("distinct_orders"),
        F.count("*").alias("n_rows"),
    )


@register(
    "multi_distinct_lineitem",
    oracle="""
        SELECT l_returnflag,
               COUNT(DISTINCT l_partkey)  AS distinct_parts,
               COUNT(DISTINCT l_suppkey)  AS distinct_supps,
               COUNT(DISTINCT l_orderkey) AS distinct_orders,
               COUNT(*)                   AS n_rows
        FROM lineitem
        GROUP BY l_returnflag
    """,
    headline=True,
    arms={"expand": multi_distinct_expand},
)
def multi_distinct_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP — the reference's motivating workload: multiple exact
    distinct counts in ONE grouped pass (reference `README.md:1`), which
    Impala could not plan. Spark plans it natively, so the entry
    is Catalyst's plan, ``multi_distinct_expand``. The ``expand`` arm
    names the same builder so per-arm timings keep a stable key."""
    return multi_distinct_expand(spark, sf_dir)


@register(
    "hashset_count_faithful",
    oracle="""
        SELECT event_type,
               CASE WHEN COUNT(user_id) = 0 THEN NULL
                    ELSE CAST(COUNT(DISTINCT CAST(user_id AS VARCHAR)) AS VARCHAR)
               END AS distinct_users
        FROM events
        GROUP BY event_type
    """,
    headline=True,
)
def hashset_count_faithful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Faithful tier-b UDAF (pandas GROUPED_AGG): string result, NULL on
    all-NULL groups — the reference's exact edge semantics
    (`hashset-count.cc:479,507-510`).

    The JVM-side ``distinct()`` is the partial phase the pandas UDAF
    lacks: Spark ships whole groups to Python, so we dedup (group, value)
    in the codegen'd hash aggregate first — the same role as the
    reference's per-fragment Update (`hashset-count.cc:105-192`) — and
    Python only finalizes over already-distinct values. Set semantics are
    invariant under the pre-dedup (NULL rows survive as one (group, NULL)
    row, which ``dropna`` then ignores, so all-NULL groups still yield
    NULL)."""
    udaf = register_sql_udaf(spark)
    ev = _t(spark, sf_dir, "events")
    pre = ev.select(
        "event_type", F.col("user_id").cast("string").alias("uid")
    ).distinct()
    return pre.groupBy("event_type").agg(
        udaf(F.col("uid")).alias("distinct_users")
    )


@register(
    "hashset_count_sql",
    oracle="""
        SELECT l_returnflag,
               CASE WHEN COUNT(l_partkey) = 0 THEN NULL
                    ELSE CAST(COUNT(DISTINCT CAST(l_partkey AS VARCHAR)) AS VARCHAR)
               END AS d_parts,
               CASE WHEN COUNT(l_suppkey) = 0 THEN NULL
                    ELSE CAST(COUNT(DISTINCT CAST(l_suppkey AS VARCHAR)) AS VARCHAR)
               END AS d_supps,
               CASE WHEN COUNT(l_orderkey) = 0 THEN NULL
                    ELSE CAST(COUNT(DISTINCT CAST(l_orderkey AS VARCHAR)) AS VARCHAR)
               END AS d_orders
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def hashset_count_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL surface of the faithful UDAF, exercised at the reference's
    literal motivating workload: several ``hashset_count`` instances in
    one grouped SELECT — the analogue of ``CREATE AGGREGATE FUNCTION`` +
    ``SELECT count300k(col) FROM tbl GROUP BY ...``
    (`/root/reference/README.md:28-33`), run multi-instance because
    `/root/reference/README.md:1` built the whole UDA for multiple exact
    distinct counts at once. One registration serves all instances (as
    one CREATE AGGREGATE FUNCTION did); Spark plans them in a single
    AggregateInPandas over the group."""
    register_sql_udaf(spark)
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag,
               hashset_count(CAST(l_partkey AS STRING))  AS d_parts,
               hashset_count(CAST(l_suppkey AS STRING))  AS d_supps,
               hashset_count(CAST(l_orderkey AS STRING)) AS d_orders
        FROM lineitem
        GROUP BY l_returnflag
        """
    )


# --- hashset_count_tiers per-tier builders (also the bench arms: each
# --- is a standalone plan, timed separately so growth in the entry's
# --- total can be attributed to one tier) -----------------------------


def _hct_idiomatic(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_linestatus")
        .agg(hashset_count_agg("l_suppkey").alias("hashset_count"))
        .select(
            F.lit("idiomatic_lineitem").alias("tier"),
            F.col("l_linestatus").alias("group_key"),
            "hashset_count",
        )
    )


def _hct_rdd(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.col("user_id").cast("string").alias("user_id")
    )
    return hashset_count_rdd(ev, "event_type", "user_id").select(
        F.lit("rdd_events").alias("tier"),
        F.col("event_type").alias("group_key"),
        "hashset_count",
    )


def _hct_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev_b = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    states = distinct_state_accumulate(
        ev_b.filter(F.col("event_id") % 2 == 0), ["event_type"], "user_id"
    ).unionByName(
        distinct_state_accumulate(
            ev_b.filter(F.col("event_id") % 2 == 1), ["event_type"], "user_id"
        )
    )
    return distinct_state_count(
        distinct_state_merge(states, ["event_type"]), ["event_type"]
    ).select(
        F.lit("state_events").alias("tier"),
        F.col("event_type").alias("group_key"),
        "hashset_count",
    )


def _hct_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # documents grouped by lang — the one genuinely SKEWED key in the
    # testdata ('en' ~41% of docs, the others ~14% each, the ratio
    # holding at every SF). Threshold at 30% of the table: 'en' takes
    # the tier-a codegen'd route, the small langs take the pandas
    # UDAF, so BOTH routes carry rows at every SF. (Round-5 sf1 stress
    # caught the previous lineitem/returnflag choice claiming a skew
    # the data does not have — returnflag is even thirds, so the
    # tier-a route never actually fired; tests/test_sf1_scale.py now
    # asserts the hot group really exceeds the threshold.) The single
    # count() action is the documented guard prerequisite (production
    # passes a known histogram instead).
    d = _t(spark, sf_dir, "documents")
    return hashset_count_df_guarded(
        d, ["lang"], "text",
        max_group_rows=int(0.3 * d.count()),
    ).select(
        F.lit("guard_documents").alias("tier"),
        F.col("lang").alias("group_key"),
        "hashset_count",
    )


def _hct_jvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the JVM PARTIAL/MERGE tier (operators/jvm_udaf.py): the
    # reference's Init/Update/Serialize/Merge/Finalize lifecycle as a
    # Java Aggregator — partial ObjectHashAggregate, buffer serialized
    # across the Exchange, final-side merge (the structure no Python
    # tier can express; plan-asserted in tests/test_jvm_udaf.py). The
    # value contract is IDENTICAL to tier a (exact distinct, string,
    # NULL-not-0), so when the JVM toolchain/classloader path is
    # unavailable the tier falls back to the tier-a expression and the
    # driver hash is unaffected — the tier changes the ENGINE, never
    # the answer.
    from ..operators.jvm_udaf import (
        hashset_count_jvm_agg,
        try_register_jvm_udaf,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        "l_linestatus", F.col("l_partkey").cast("string").alias("v")
    )
    if try_register_jvm_udaf(spark):
        agg = hashset_count_jvm_agg("v")
    else:  # pragma: no cover - exercised only without javac/jar
        agg = hashset_count_agg("v")
    return li.groupBy("l_linestatus").agg(agg.alias("hashset_count")).select(
        F.lit("jvm_lineitem").alias("tier"),
        F.col("l_linestatus").alias("group_key"),
        "hashset_count",
    )


def _hct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 'kmv_lineitem' — the deterministic KMV sketch (operators/kmv.py),
    # deliberately routed through the STORED-SKETCH lifecycle: accumulate
    # at the fine (l_returnflag, l_linestatus) grain, MERGE the stored
    # sketches up to l_returnflag, then finalize. The oracle recomputes
    # the direct single-pass pipeline at the coarse grain, so a hash
    # match proves min-wise merge exactness (combine == direct) under
    # the driver's hard signal — the reference's Serialize/Merge
    # contract (`hashset-count.cc:269-461`) at O(k) state.
    k = 128
    li_k = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_partkey"
    )
    fine = kmv_accumulate(li_k, ["l_returnflag", "l_linestatus"], "l_partkey", k)
    return kmv_estimate(kmv_combine(fine, ["l_returnflag"], k), k).select(
        F.lit("kmv_lineitem").alias("tier"),
        F.col("l_returnflag").alias("group_key"),
        F.col("kmv_distinct").cast("string").alias("hashset_count"),
    )


def _hct_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 'kmv_*' set-operation rows — the capability the reference's exact
    # state can never offer (its merge can only union, then count): the
    # distinct part sets of the O and F linestatus slices compared per
    # returnflag FROM THEIR STORED SKETCHES ALONE (kmv_set_estimates —
    # |A∪B|, Jaccard numerator/denominator, |A∩B|, all integer
    # arithmetic over the shared content-fixed hash permutation). The
    # oracle recomputes the whole pipeline (slice bottom-ks, min-wise
    # merged bottom-k, membership counts, floor-division estimates)
    # term for term, so the driver hash certifies the set algebra.
    k = 128
    li_k = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_partkey"
    )
    ska = kmv_accumulate(
        li_k.filter(F.col("l_linestatus") == "O").select(
            "l_returnflag", "l_partkey"
        ),
        ["l_returnflag"], "l_partkey", k,
    )
    skb = kmv_accumulate(
        li_k.filter(F.col("l_linestatus") == "F").select(
            "l_returnflag", "l_partkey"
        ),
        ["l_returnflag"], "l_partkey", k,
    )
    return (
        kmv_set_estimates(ska, skb, ["l_returnflag"], k)
        .select(
            "l_returnflag",
            F.expr(
                "stack(4, 'kmv_union', union_est, 'kmv_jk', jaccard_k, "
                "'kmv_jn', jaccard_n, 'kmv_inter', inter_est) AS (t, v)"
            ),
        )
        .select(
            F.col("t").alias("tier"),
            F.col("l_returnflag").alias("group_key"),
            F.col("v").cast("string").alias("hashset_count"),
        )
    )


# --- bitmap exact-distinct builders (also the bench arms) -------------


def _bmd_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one-shot bitmap distinct with the reference output contract
    # (STRING count, NULL-not-0) — two codegen'd hash aggregations.
    li = _t(spark, sf_dir, "lineitem")
    return bitmap_distinct_count(li, ["l_linestatus"], "l_partkey").select(
        F.lit("bitmap_lineitem").alias("tier"),
        F.col("l_linestatus").alias("group_key"),
        "hashset_count",
    )


def _bmd_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the STORED-STATE lifecycle: events split into two ingestion
    # batches (event_id parity), each accumulated to a bitmap state
    # table, the states MERGED word-wise and finalized — history never
    # rescanned. The oracle computes the direct distinct over the full
    # table, so a hash match proves the bitmap merge exactly lossless
    # (the bitmap form of the reference merge contract,
    # hashset-count.cc:269-461).
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    s1 = bitmap_accumulate(
        ev.filter(F.col("event_id") % 2 == 0), ["event_type"], "user_id"
    )
    s2 = bitmap_accumulate(
        ev.filter(F.col("event_id") % 2 == 1), ["event_type"], "user_id"
    )
    counts = bitmap_count(
        bitmap_merge(s1.unionByName(s2), ["event_type"]), ["event_type"]
    )
    spine = ev.select("event_type").distinct()
    return spine.join(counts, "event_type", "left").select(
        F.lit("bitmap_state_events").alias("tier"),
        F.col("event_type").alias("group_key"),
        F.col("distinct_count").cast("string").alias("hashset_count"),
    )


def _bmd_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EXACT set algebra from the two stored states alone (word-wise
    # AND/OR over a full-outer bucket join) — the exact counterpart of
    # the kmv_setops tier, and the operation the reference's
    # union-only merge can never express.
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_partkey"
    )
    sa = bitmap_accumulate(
        li.filter(F.col("l_linestatus") == "O"), ["l_returnflag"], "l_partkey"
    )
    sb = bitmap_accumulate(
        li.filter(F.col("l_linestatus") == "F"), ["l_returnflag"], "l_partkey"
    )
    return (
        bitmap_set_counts(sa, sb, ["l_returnflag"])
        .select(
            "l_returnflag",
            F.expr(
                "stack(4, 'bitmap_inter', inter_count,"
                " 'bitmap_union', union_count,"
                " 'bitmap_only_a', only_a,"
                " 'bitmap_only_b', only_b) AS (t, v)"
            ),
        )
        .select(
            F.col("t").alias("tier"),
            F.col("l_returnflag").alias("group_key"),
            F.col("v").cast("string").alias("hashset_count"),
        )
    )


def _hct_auto_inputs(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    # The three routed inputs, one per region of the decision space: a
    # dense integer id (bitmap), a string key under a low threshold
    # (spillable at bench SFs) and document text under the reference's
    # own 300k boundary (faithful at bench SFs).
    li = _t(spark, sf_dir, "lineitem").select("l_linestatus", "l_partkey")
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.col("user_id").cast("string").alias("uid")
    )
    d = _t(spark, sf_dir, "documents").select("lang", "text")
    return li, ev, d


def _hct_auto_routed(li, ev, d, st_li, st_ev, st_d) -> DataFrame:
    # 'auto[<route>]_*' rows — ADAPTIVE tier routing
    # (operators/auto_route.py): the engine picks the physical tier
    # (bitmap / spillable codegen distinct / faithful UDAF) from each
    # input's RouteStats, the way AQE picks join strategies — the
    # executable form of the reference's prose capacity advice
    # (`README.md:10-11`). The chosen route is BAKED INTO the tier
    # string, so the driver hash certifies the routing DECISION (the
    # oracle recomputes the stats and the branch arithmetic verbatim)
    # as well as the routed counts. At larger SFs a route may
    # legitimately flip, and the oracle flips with it, because both
    # sides compute the same arithmetic.
    from ..operators.auto_route import hashset_count_auto

    def tag(pair, name, gcol):
        df, route = pair
        return df.select(
            F.lit(f"auto[{route}]_{name}").alias("tier"),
            F.col(gcol).alias("group_key"),
            "hashset_count",
        )

    return (
        tag(
            hashset_count_auto(li, ["l_linestatus"], "l_partkey", stats=st_li),
            "lineitem", "l_linestatus",
        )
        .union(
            tag(
                hashset_count_auto(
                    ev, ["event_type"], "uid", ndv_threshold=200, stats=st_ev
                ),
                "events", "event_type",
            )
        )
        .union(
            tag(
                hashset_count_auto(d, ["lang"], "text", stats=st_d),
                "documents", "lang",
            )
        )
    )


def _hct_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Routes from ONE deterministic stats job per input. The three
    # stats prerequisites are INDEPENDENT one-row jobs on three
    # different tables, run through ``fanout`` so they overlap. A
    # single-action variant (union the three one-row aggregates,
    # collect once) is ~8% slower than the three overlapped jobs: the
    # union plan's stage waves wait for all three subtrees where
    # independent jobs finish alone.
    from ..operators.auto_route import auto_route_stats

    li, ev, d = _hct_auto_inputs(spark, sf_dir)
    stats = fanout(
        lambda: auto_route_stats(li, ["l_linestatus"], "l_partkey"),
        lambda: auto_route_stats(ev, ["event_type"], "uid"),
        lambda: auto_route_stats(d, ["lang"], "text"),
    )
    return _hct_auto_routed(li, ev, d, *stats)


def _hct_auto_given_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The PRODUCTION face of the router: RouteStats arrive from a
    # maintained catalog (ANALYZE-style table stats or the repo's
    # stored sketch tables) instead of a fresh stats scan per query,
    # so routing is pure driver-side integer arithmetic and the arm
    # costs roughly the routed tiers alone. The literals below are what
    # a catalog would serve at the bench SFs — they pick the SAME
    # routes the live stats job picks there (bitmap / spillable /
    # faithful, the full decision space); a stale catalog row can only
    # mis-route, never mis-count (all tiers are exact), which is why
    # serving cached stats is safe at 100 TB (auto_route.py docstring).
    from ..operators.auto_route import RouteStats

    return _hct_auto_routed(
        *_hct_auto_inputs(spark, sf_dir),
        RouteStats(
            nnz=600_000, smax=300, vmin=1, vmax=20_000,
            integral=True, sample_shift=6,
        ),
        RouteStats(
            nnz=100_000, smax=150, vmin=None, vmax=None,
            integral=False, sample_shift=6,
        ),
        RouteStats(
            nnz=5_000, smax=70, vmin=None, vmax=None,
            integral=False, sample_shift=6,
        ),
    )


_HCT_ARMS = {
    "idiomatic": _hct_idiomatic,
    "rdd": _hct_rdd,
    "state": _hct_state,
    "guard": _hct_guard,
    "jvm": _hct_jvm,
    "kmv": _hct_kmv,
    "kmv_setops": _hct_kmv_setops,
    "bitmap_count": _bmd_count,
    "bitmap_state": _bmd_state,
    "bitmap_setops": _bmd_setops,
    "auto": _hct_auto,
    "auto_given_stats": _hct_auto_given_stats,
}


@register(
    "hashset_count_tiers",
    arms=_HCT_ARMS,
    oracle="""
        SELECT 'idiomatic_lineitem' AS tier, l_linestatus AS group_key,
               CASE WHEN COUNT(l_suppkey) = 0 THEN NULL
                    ELSE CAST(COUNT(DISTINCT l_suppkey) AS VARCHAR)
               END AS hashset_count
        FROM lineitem
        GROUP BY l_linestatus
        UNION ALL
        SELECT 'rdd_events' AS tier, event_type AS group_key,
               CASE WHEN COUNT(user_id) = 0 THEN NULL
                    ELSE CAST(COUNT(DISTINCT CAST(user_id AS VARCHAR)) AS VARCHAR)
               END AS hashset_count
        FROM events
        GROUP BY event_type
        UNION ALL
        SELECT 'state_events' AS tier, event_type AS group_key,
               CASE WHEN COUNT(user_id) = 0 THEN NULL
                    ELSE CAST(COUNT(DISTINCT CAST(user_id AS VARCHAR)) AS VARCHAR)
               END AS hashset_count
        FROM events
        GROUP BY event_type
        UNION ALL
        SELECT 'guard_documents' AS tier, lang AS group_key,
               CASE WHEN COUNT(text) = 0 THEN NULL
                    ELSE CAST(COUNT(DISTINCT text) AS VARCHAR)
               END AS hashset_count
        FROM documents
        GROUP BY lang
        UNION ALL
        SELECT 'jvm_lineitem' AS tier, l_linestatus AS group_key,
               CASE WHEN COUNT(l_partkey) = 0 THEN NULL
                    ELSE CAST(COUNT(DISTINCT CAST(l_partkey AS VARCHAR))
                              AS VARCHAR)
               END AS hashset_count
        FROM lineitem
        GROUP BY l_linestatus
        UNION ALL
        SELECT 'kmv_lineitem' AS tier, g.l_returnflag AS group_key,
               CAST(CASE WHEN s.n IS NULL THEN NULL
                         WHEN s.n < 128 THEN s.n
                         ELSE 571957152676052992 // s.hk
                    END AS VARCHAR) AS hashset_count
        FROM (SELECT DISTINCT l_returnflag FROM lineitem) g
        LEFT JOIN (
            SELECT l_returnflag, COUNT(*) AS n, MAX(hk) AS hk
            FROM (
                SELECT l_returnflag, hk,
                       ROW_NUMBER() OVER (
                           PARTITION BY l_returnflag ORDER BY hk
                       ) AS rn
                FROM (SELECT DISTINCT l_returnflag,
                             CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 13)
                                  AS BIGINT) AS hk
                      FROM lineitem WHERE l_partkey IS NOT NULL)
            ) WHERE rn <= 128
            GROUP BY l_returnflag
        ) s ON g.l_returnflag = s.l_returnflag
        UNION ALL
        SELECT tier, group_key, hashset_count FROM (
            -- MATERIALIZED: ha/hb/m are tiny (<=3 groups x 128 hashes)
            -- but multiply-referenced; inlined, DuckDB re-evaluates
            -- the 60M-row DISTINCT + ROW_NUMBER sort once PER
            -- REFERENCE and holds ~8 such sorts live at once — 82 GB
            -- of spill and ENOSPC at the sf10 sweep (bisected r8,
            -- tools/branch_bisect.py). One evaluation each.
            WITH ha AS MATERIALIZED (
                SELECT l_returnflag, hk FROM (
                    SELECT l_returnflag, hk,
                           ROW_NUMBER() OVER (
                               PARTITION BY l_returnflag ORDER BY hk
                           ) AS rn
                    FROM (SELECT DISTINCT l_returnflag,
                                 CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 13)
                                      AS BIGINT) AS hk
                          FROM lineitem
                          WHERE l_partkey IS NOT NULL AND l_linestatus = 'O')
                ) WHERE rn <= 128
            ),
            hb AS MATERIALIZED (
                SELECT l_returnflag, hk FROM (
                    SELECT l_returnflag, hk,
                           ROW_NUMBER() OVER (
                               PARTITION BY l_returnflag ORDER BY hk
                           ) AS rn
                    FROM (SELECT DISTINCT l_returnflag,
                                 CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 13)
                                      AS BIGINT) AS hk
                          FROM lineitem
                          WHERE l_partkey IS NOT NULL AND l_linestatus = 'F')
                ) WHERE rn <= 128
            ),
            m AS MATERIALIZED (
                -- restricted to groups present in BOTH slices: the
                -- operator (kmv_set_estimates) inner-joins the two
                -- sketch tables on the group keys, so a returnflag
                -- appearing in only one linestatus slice must emit no
                -- row here either
                SELECT l_returnflag, hk FROM (
                    SELECT l_returnflag, hk,
                           ROW_NUMBER() OVER (
                               PARTITION BY l_returnflag ORDER BY hk
                           ) AS rn
                    FROM (SELECT l_returnflag, hk FROM ha
                          UNION
                          SELECT l_returnflag, hk FROM hb)
                    WHERE l_returnflag IN (SELECT l_returnflag FROM ha)
                      AND l_returnflag IN (SELECT l_returnflag FROM hb)
                ) WHERE rn <= 128
            ),
            mj AS (
                SELECT m.l_returnflag,
                       CAST(COUNT(*) AS BIGINT) AS jk,
                       MAX(m.hk) AS hk,
                       CAST(SUM(CASE WHEN ha.hk IS NOT NULL
                                      AND hb.hk IS NOT NULL
                                     THEN 1 ELSE 0 END) AS BIGINT) AS jn
                FROM m
                LEFT JOIN ha ON ha.l_returnflag = m.l_returnflag
                            AND ha.hk = m.hk
                LEFT JOIN hb ON hb.l_returnflag = m.l_returnflag
                            AND hb.hk = m.hk
                GROUP BY m.l_returnflag
            ),
            est AS (
                SELECT l_returnflag, jk, jn,
                       CASE WHEN jk < 128 THEN jk
                            ELSE 571957152676052992 // hk END AS u
                FROM mj
            )
            SELECT 'kmv_union' AS tier, l_returnflag AS group_key,
                   CAST(u AS VARCHAR) AS hashset_count FROM est
            UNION ALL
            SELECT 'kmv_jk', l_returnflag, CAST(jk AS VARCHAR) FROM est
            UNION ALL
            SELECT 'kmv_jn', l_returnflag, CAST(jn AS VARCHAR) FROM est
            UNION ALL
            SELECT 'kmv_inter', l_returnflag,
                   CAST(CASE WHEN jk = 0 THEN NULL
                        ELSE u * jn // jk END AS VARCHAR) FROM est
        )
        UNION ALL
        SELECT 'bitmap_lineitem' AS tier, l_linestatus AS group_key,
               CASE WHEN COUNT(l_partkey) = 0 THEN NULL
                    ELSE CAST(COUNT(DISTINCT l_partkey) AS VARCHAR)
               END AS hashset_count
        FROM lineitem
        GROUP BY l_linestatus
        UNION ALL
        SELECT 'bitmap_state_events' AS tier, event_type AS group_key,
               CASE WHEN COUNT(user_id) = 0 THEN NULL
                    ELSE CAST(COUNT(DISTINCT user_id) AS VARCHAR)
               END AS hashset_count
        FROM events
        GROUP BY event_type
        UNION ALL
        SELECT tier, group_key, hashset_count FROM (
            WITH ba AS (
                SELECT DISTINCT l_returnflag, l_partkey
                FROM lineitem
                WHERE l_linestatus = 'O' AND l_partkey IS NOT NULL
            ),
            bb AS (
                SELECT DISTINCT l_returnflag, l_partkey
                FROM lineitem
                WHERE l_linestatus = 'F' AND l_partkey IS NOT NULL
            ),
            fj AS (
                SELECT COALESCE(ba.l_returnflag, bb.l_returnflag) AS rf,
                       ba.l_partkey AS pa, bb.l_partkey AS pb
                FROM ba
                FULL JOIN bb ON ba.l_returnflag = bb.l_returnflag
                            AND ba.l_partkey = bb.l_partkey
            ),
            st AS (
                SELECT rf,
                       CAST(SUM(CASE WHEN pa IS NOT NULL AND pb IS NOT NULL
                                     THEN 1 ELSE 0 END) AS BIGINT) AS inter_c,
                       CAST(COUNT(*) AS BIGINT) AS union_c,
                       CAST(SUM(CASE WHEN pb IS NULL THEN 1 ELSE 0 END)
                            AS BIGINT) AS oa,
                       CAST(SUM(CASE WHEN pa IS NULL THEN 1 ELSE 0 END)
                            AS BIGINT) AS ob
                FROM fj GROUP BY rf
            )
            SELECT 'bitmap_inter' AS tier, rf AS group_key,
                   CAST(inter_c AS VARCHAR) AS hashset_count FROM st
            UNION ALL
            SELECT 'bitmap_union', rf, CAST(union_c AS VARCHAR) FROM st
            UNION ALL
            SELECT 'bitmap_only_a', rf, CAST(oa AS VARCHAR) FROM st
            UNION ALL
            SELECT 'bitmap_only_b', rf, CAST(ob AS VARCHAR) FROM st
        )
        UNION ALL
        SELECT 'auto[' || CASE WHEN st.nnz = 0 THEN 'faithful_udaf'
                               WHEN st.vmax - st.vmin < 67108864
                                    THEN 'bitmap'
                               WHEN st.smax * 64 > 300000
                                    THEN 'spillable_distinct'
                               ELSE 'faithful_udaf' END
               || ']_lineitem' AS tier,
               cnt.group_key, cnt.hashset_count
        FROM (
            SELECT COALESCE(SUM(nn), 0) AS nnz, COALESCE(MAX(s), 0) AS smax,
                   MIN(lo) AS vmin, MAX(hi) AS vmax
            FROM (
                SELECT l_linestatus, COUNT(l_partkey) AS nn,
                       COUNT(DISTINCT CASE
                           WHEN CAST('0x' || substr(
                                md5(CAST(l_partkey AS VARCHAR)), 1, 13)
                                AS BIGINT) < 70368744177664
                           THEN l_partkey END) AS s,
                       MIN(CAST(l_partkey AS BIGINT)) AS lo,
                       MAX(CAST(l_partkey AS BIGINT)) AS hi
                FROM lineitem GROUP BY l_linestatus)
        ) st
        CROSS JOIN (
            SELECT l_linestatus AS group_key,
                   CASE WHEN COUNT(l_partkey) = 0 THEN NULL
                        ELSE CAST(COUNT(DISTINCT l_partkey) AS VARCHAR)
                   END AS hashset_count
            FROM lineitem GROUP BY l_linestatus
        ) cnt
        UNION ALL
        SELECT 'auto[' || CASE WHEN st.nnz = 0 THEN 'faithful_udaf'
                               WHEN st.smax * 64 > 200
                                    THEN 'spillable_distinct'
                               ELSE 'faithful_udaf' END
               || ']_events' AS tier,
               cnt.group_key, cnt.hashset_count
        FROM (
            SELECT COALESCE(SUM(nn), 0) AS nnz, COALESCE(MAX(s), 0) AS smax
            FROM (
                SELECT event_type, COUNT(user_id) AS nn,
                       COUNT(DISTINCT CASE
                           WHEN CAST('0x' || substr(
                                md5(CAST(user_id AS VARCHAR)), 1, 13)
                                AS BIGINT) < 70368744177664
                           THEN CAST(user_id AS VARCHAR) END) AS s
                FROM events GROUP BY event_type)
        ) st
        CROSS JOIN (
            SELECT event_type AS group_key,
                   CASE WHEN COUNT(user_id) = 0 THEN NULL
                        ELSE CAST(COUNT(DISTINCT CAST(user_id AS VARCHAR))
                                  AS VARCHAR)
                   END AS hashset_count
            FROM events GROUP BY event_type
        ) cnt
        UNION ALL
        SELECT 'auto[' || CASE WHEN st.nnz = 0 THEN 'faithful_udaf'
                               WHEN st.smax * 64 > 300000
                                    THEN 'spillable_distinct'
                               ELSE 'faithful_udaf' END
               || ']_documents' AS tier,
               cnt.group_key, cnt.hashset_count
        FROM (
            SELECT COALESCE(SUM(nn), 0) AS nnz, COALESCE(MAX(s), 0) AS smax
            FROM (
                SELECT lang, COUNT(text) AS nn,
                       COUNT(DISTINCT CASE
                           WHEN CAST('0x' || substr(md5(text), 1, 13)
                                AS BIGINT) < 70368744177664
                           THEN text END) AS s
                FROM documents GROUP BY lang)
        ) st
        CROSS JOIN (
            SELECT lang AS group_key,
                   CASE WHEN COUNT(text) = 0 THEN NULL
                        ELSE CAST(COUNT(DISTINCT text) AS VARCHAR)
                   END AS hashset_count
            FROM documents GROUP BY lang
        ) cnt
    """,
)
def hashset_count_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tiers a and c of the rebuild, plus the batch-incremental STATE
    TABLE face, in one tagged result.

    'idiomatic_lineitem' is tier a: faithful semantics from pure
    built-ins — the 100 TB path (partial/final hash agg + whole-stage
    codegen, no Python in the loop). 'rdd_events' is tier c: the literal
    Init/Update/Merge/Finalize lifecycle (`hashset-count.h:30-34`) as
    ``aggregateByKey`` — documentation-by-construction of the
    reference's merge contract (`hashset-count.cc:269-461`). Both rows
    carry the reference edge semantics (NULL-not-0, string result).

    'state_events' is the incremental face: the events table split
    into two ingestion batches (event_id parity), each accumulated to
    an exact distinct-state table (``distinct_state_accumulate`` — the
    persisted form of DistHashSetSerialize's output), the two state
    tables MERGED (``distinct_state_merge`` = the reference's
    sort-merge-union-dedup) and finalized (NULL-not-0 string count) —
    history is never rescanned. The oracle computes the direct
    distinct count over the full table: a hash match proves the
    two-batch state path is exactly lossless.

    'jvm_lineitem' is the JVM PARTIAL/MERGE tier
    (``operators/jvm_udaf.py``): the reference's defining
    Init/Update/Serialize/Merge/Finalize structure
    (`hashset-count.h:30-34`) as a Java ``Aggregator`` compiled
    in-container and injected into the running session — partial
    ObjectHashAggregate, state serialized across the Exchange, final-
    side merge. This closes the gap every earlier round carried as
    "out of scope": the faithful tier now HAS a 1:1 JVM twin with a
    real partial split (no Python tier can express one). Identical
    value contract to tier a, with a tier-a fallback when the JVM
    toolchain is unavailable, so the tier changes the engine, never
    the answer.

    'guard_documents' is the GROUP-SIZE-GUARDED tier b
    (``hashset_count_df_guarded``) over the one genuinely skewed key
    in the testdata — documents.lang ('en' ~41%, others ~14% each, SF-
    stable): threshold = 30% of the table, so 'en' routes through tier
    a's codegen'd distinct agg while the small langs run the pandas
    UDAF — the driver hash proves both routes and their identical
    string/NULL output contract in one arm (routing split
    plan-asserted in tests/test_hashset_count.py; the hot group
    observed over-threshold at 10x volume in tests/test_sf1_scale.py).

    The 'bitmap_*' rows (r5) are the BITMAP exact-distinct tier
    (``operators/bitmap_distinct.py`` — the Kylin/Druid-style exact
    NDV for bounded integer domains, the fourth point on the repo's
    state-size/exactness frontier beside list, KMV and HLL state):
    'bitmap_lineitem' is the one-shot form (two codegen'd hash aggs —
    per-(group, value>>6) word ``BIT_OR`` with map-side combine, then
    ``sum(bit_count)``; the shuffle carries one 16-byte row per
    occupied 64-value bucket, state bounded by the value DOMAIN, not
    the row count), with the reference's STRING/NULL-not-0 contract
    (`hashset-count.cc:464-524`); 'bitmap_state_events' accumulates
    two ingestion batches to stored state tables and MERGES them
    word-wise (the bitmap form of `hashset-count.cc:269-461`) — the
    direct-distinct oracle certifies the merge exactly lossless;
    'bitmap_inter'/'bitmap_union'/'bitmap_only_a'/'bitmap_only_b' are
    EXACT per-group set algebra computed from the two stored states
    alone (word-wise AND/OR over a full-outer bucket join — no rescan,
    no estimate), the exact counterpart of the kmv_* estimate rows and
    the operation the reference's union-only merge cannot express.

    The 'auto[<route>]_*' rows (r7) are the ADAPTIVE tier router
    (``operators/auto_route.py``): the engine itself picks the physical
    tier — bitmap / spillable codegen distinct / faithful UDAF — from
    one deterministic stats job (exact count/min/max plus a seedless
    hash-sampled per-group NDV estimate), the executable form of the
    reference's prose capacity advice (`README.md:10-11`, the 300k
    boundary of `hashset-count.cc:67`). The chosen route is baked into
    the tier tag and the oracle recomputes the stats and the branch
    arithmetic verbatim, so the driver hash certifies the routing
    DECISION, not just the routed counts.

    Each tier is built by its own ``_hct_*`` / ``_bmd_*`` helper — the
    same builders serve as the entry's bench ARMS, so BENCH per-round
    records attribute the entry's cost tier by tier."""
    return (
        _hct_idiomatic(spark, sf_dir)
        .union(_hct_rdd(spark, sf_dir))
        .union(_hct_state(spark, sf_dir))
        .union(_hct_guard(spark, sf_dir))
        .union(_hct_jvm(spark, sf_dir))
        .union(_hct_kmv(spark, sf_dir))
        .union(_hct_kmv_setops(spark, sf_dir))
        .union(_bmd_count(spark, sf_dir))
        .union(_bmd_state(spark, sf_dir))
        .union(_bmd_setops(spark, sf_dir))
        .union(_hct_auto(spark, sf_dir))
    )


#: 3x the relative standard deviation of each sketch tier: HLL++ at
#: Spark's default rsd=0.05; Datasketches-HLL at lgK=12 has
#: rsd ~= 1.04/sqrt(2^12) ~= 0.016. Deterministic estimates (fixed
#: hash, register-max merges) make the bound a stable property of the
#: data, not a coin flip — asserted at sf0.001/0.01 locally.
_HLL_BOUNDS = {"hllpp": 0.15, "sketch": 0.05}

_APPROX_DISTINCT_ORACLE = """
    WITH ex AS (
        SELECT l_returnflag,
               COUNT(DISTINCT l_partkey) AS exact_parts,
               COUNT(DISTINCT l_orderkey) AS exact_orders
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT t.tier, ex.l_returnflag, ex.exact_parts, ex.exact_orders,
           TRUE AS parts_ok, TRUE AS orders_ok
    FROM (SELECT UNNEST(['hllpp', 'sketch']) AS tier) t CROSS JOIN ex
"""


@register("approx_distinct_lineitem", oracle=_APPROX_DISTINCT_ORACLE, headline=True)
def approx_distinct_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct counting, both sketch tiers tagged:

    - ``hllpp``: built-in ``approx_count_distinct`` (HyperLogLog++) —
      the reference README's own recommendation for "very large
      numbers" (`README.md:10`). Constant-size state, but the sketch
      is internal: every new slicing re-reads raw data.
    - ``sketch``: the STORED/mergeable Datasketches-HLL tier —
      materialize a binary sketch per (l_returnflag, l_linestatus)
      cell ONCE (`distinct_sketch_table`), then answer the coarser
      l_returnflag grain purely by unioning sketches
      (`rollup_distinct_from_sketches`) with zero raw-data access.
      Distinct counts are not additive, so this sketch-table pattern
      is how a 100 TB fact table serves distinct-users-by-any-slice
      dashboards without a rescan per cell; union-of-sketches ==
      sketch-of-union is property-tested exactly.

    The raw estimates are not SQL-recomputable (no DuckDB HLL twin),
    but the entry still carries a FULL driver hash signal via derived
    columns: the exact per-group ``count_distinct`` values (mirrored by
    the oracle) plus ``parts_ok`` / ``orders_ok`` booleans asserting
    each tier's estimate lands within 3*rsd of exact — deterministic
    given the data (both sketch tiers are fixed-hash), so the oracle
    emits constant TRUE and ANY break in the sketch accumulate / merge
    / estimate machinery flips the hash. The estimates themselves stay
    covered by determinism + partition-sweep tests."""
    li = _t(spark, sf_dir, "lineitem")

    # The exact distincts (the entry's oracle anchor) are computed
    # ONCE in their own Expand multi-distinct pass. Keeping them OUT
    # of the HLL++ aggregate matters: mixing count_distinct with other
    # aggregates makes the Expand rewrite stream every slice through
    # the sketch partials too (measured ~2x the split cost at sf0.1),
    # and the sketch tier would otherwise pay the Expand a second time.
    exact = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("exact_parts"),
        F.count_distinct("l_orderkey").alias("exact_orders"),
    )
    # r9 (optimization guide §2.4/§2.6): the tiers UNION FIRST and the
    # exact anchor joins ONCE after it, as a broadcast. The previous
    # shape materialized `exact` with a driver-side collect() and
    # rebuilt it as a local relation joined into each tier — needed
    # because two join references re-ran the Expand pass (their Expand
    # projections canonicalize with flipped column order, so exchange
    # reuse can never kick in). A single post-union join reference
    # keeps the Expand pass single-execution AND turns the serial
    # collect job into a plan branch: all three lineitem passes now
    # overlap inside one job (measured 1.73 -> 1.19 s min-of-5 at
    # sf0.1, identical rows/schema).
    hllpp = (
        li.groupBy("l_returnflag")
        .agg(
            approx_distinct_count("l_partkey").alias("approx_parts"),
            approx_distinct_count("l_orderkey").alias("approx_orders"),
        )
        .select(
            F.lit("hllpp").alias("tier"),
            "l_returnflag",
            "approx_parts",
            "approx_orders",
        )
    )
    # both value columns sketched in ONE fine-grain pass (one scan,
    # one shuffle agg — a sketch table is one groupBy however many
    # measures it carries), then one union-rollup; the generic
    # single-column helpers exist for the API, the N-measure case is
    # just more agg columns.
    fine = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.hll_sketch_agg("l_partkey", F.lit(12)).alias("sk_p"),
        F.hll_sketch_agg("l_orderkey", F.lit(12)).alias("sk_o"),
    )
    sk = (
        fine.groupBy("l_returnflag")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk_p")).alias("approx_parts"),
            F.hll_sketch_estimate(F.hll_union_agg("sk_o")).alias("approx_orders"),
        )
        .select(
            F.lit("sketch").alias("tier"),
            "l_returnflag",
            "approx_parts",
            "approx_orders",
        )
    )
    tiers = hllpp.unionByName(sk)
    bound = (
        F.when(F.col("tier") == "hllpp", F.lit(_HLL_BOUNDS["hllpp"]))
        .otherwise(F.lit(_HLL_BOUNDS["sketch"]))
    )

    def _ok(est, exact_col):
        return (
            F.abs(est.cast("double") / exact_col.cast("double") - F.lit(1.0))
            <= bound
        )

    return tiers.join(F.broadcast(exact), "l_returnflag").select(
        "tier",
        "l_returnflag",
        "exact_parts",
        "exact_orders",
        _ok(F.col("approx_parts"), F.col("exact_parts")).alias("parts_ok"),
        _ok(F.col("approx_orders"), F.col("exact_orders")).alias("orders_ok"),
    )


# =====================================================================
# Aggregation surface (§2: grouped aggs, grouping sets/cube/rollup)
# =====================================================================

@register(
    "tpch_q1_pricing_summary",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2)      AS sum_qty,
               ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
               ROUND(AVG(l_quantity), 2)      AS avg_qty,
               ROUND(AVG(l_extendedprice), 2) AS avg_price,
               ROUND(AVG(l_discount), 4)      AS avg_disc,
               COUNT(*)                       AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    headline=True,
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan -> filter (pushed to parquet) -> 8 aggregates
    in one partial/final hash agg. The canonical 100 TB scan-heavy
    query; no shuffle besides the tiny partial-state exchange."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


#: Same SQL text runs on Spark AND DuckDB — the SQL surface is the
#: parity layer itself (GROUPING SETS has no DataFrame-API form).
_GROUPING_SETS_SQL = """
    SELECT 'gsets' AS kind, l_returnflag AS k1, l_linestatus AS k2,
           COUNT(*) AS n_rows,
           ROUND(SUM(l_extendedprice), 2) AS val,
           CAST(NULL AS BIGINT) AS grp_id
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


@register(
    "grouping_analytics",
    oracle=f"""
        SELECT 'rollup' AS kind, l_returnflag AS k1, l_linestatus AS k2,
               COUNT(*) AS n_rows,
               ROUND(SUM(l_quantity), 2) AS val,
               CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS grp_id
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
        UNION ALL
        SELECT 'cube' AS kind, o_orderstatus AS k1, o_orderpriority AS k2,
               COUNT(*) AS n_rows,
               ROUND(SUM(o_totalprice), 2) AS val,
               CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS grp_id
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
        UNION ALL
        {_GROUPING_SETS_SQL}
    """,
)
def grouping_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multi-level grouping surface in one tagged result — ROLLUP
    (hierarchical totals over lineitem), CUBE (all margin combinations
    over orders), and GROUPING SETS (explicit set list, via the SAME SQL
    text Spark and DuckDB both run). Each branch is one Expand node over
    one scan — 3/4/3 aggregation levels per branch computed in a single
    read each, the only sane shape at 100 TB (re-scanning per level
    reads the fact table N times)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    rollup = li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("val"),
        F.grouping_id().alias("grp_id"),
    ).select(
        F.lit("rollup").alias("kind"),
        F.col("l_returnflag").alias("k1"),
        F.col("l_linestatus").alias("k2"),
        "n_rows", "val", "grp_id",
    )
    cube = o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("o_totalprice"), 2).alias("val"),
        F.grouping_id().alias("grp_id"),
    ).select(
        F.lit("cube").alias("kind"),
        F.col("o_orderstatus").alias("k1"),
        F.col("o_orderpriority").alias("k2"),
        "n_rows", "val", "grp_id",
    )
    register_views(spark, sf_dir)
    gsets = spark.sql(_GROUPING_SETS_SQL)
    return rollup.union(cube).union(gsets)


@register(
    "pivot_returnflag",
    oracle="""
        WITH wide AS (
            SELECT l_linestatus,
                   ROUND(SUM(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 2) AS "A",
                   ROUND(SUM(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 2) AS "N",
                   ROUND(SUM(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 2) AS "R"
            FROM lineitem
            GROUP BY l_linestatus
        )
        SELECT 'wide' AS tag, l_linestatus, "A", "N", "R",
               CAST(NULL AS VARCHAR) AS flag, CAST(NULL AS DOUBLE) AS qty
        FROM wide
        UNION ALL
        SELECT 'long', l_linestatus, NULL, NULL, NULL, f.flag, f.qty
        FROM wide,
             LATERAL (VALUES ('A', wide."A"), ('N', wide."N"), ('R', wide."R"))
                 AS f(flag, qty)
        WHERE f.qty IS NOT NULL
    """,
)
def pivot_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both reshape directions, tagged: ``wide`` is the pivot with an
    EXPLICIT value list (at scale, never let Spark run the extra
    distinct-values job); ``long`` unpivots that result straight back
    (``DataFrame.unpivot``/``stack`` — the melt direction), proving the
    round-trip. NULL cells are excluded from the long form on both
    sides (a flag absent for a linestatus has no long row)."""
    li = _t(spark, sf_dir, "lineitem")
    wide = (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )
    wide_tag = wide.select(
        F.lit("wide").alias("tag"),
        "l_linestatus",
        "A",
        "N",
        "R",
        F.lit(None).cast("string").alias("flag"),
        F.lit(None).cast("double").alias("qty"),
    )
    long_tag = (
        wide.unpivot(["l_linestatus"], ["A", "N", "R"], "flag", "qty")
        .where(F.col("qty").isNotNull())
        .select(
            F.lit("long").alias("tag"),
            "l_linestatus",
            F.lit(None).cast("double").alias("A"),
            F.lit(None).cast("double").alias("N"),
            F.lit(None).cast("double").alias("R"),
            "flag",
            "qty",
        )
    )
    return wide_tag.unionByName(long_tag)


_CMS_SUBQUERY = (
    "WITH "
    + cms_oracle_ctes(
        "SELECT CAST(user_id AS VARCHAR) AS key FROM events "
        "WHERE user_id IS NOT NULL",
        "SELECT DISTINCT CAST(user_id AS VARCHAR) AS key FROM events "
        "WHERE user_id < 10",
        width=256,
        depth=4,
    )
    + " SELECT key, est FROM cmsest"
)


@register(
    "percentile_stats_events",
    oracle=f"""
        SELECT 'exact' AS tag, event_type,
               ROUND(PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY value), 4) AS median_value,
               ROUND(MIN(value), 4) AS min_value,
               ROUND(MAX(value), 4) AS max_value,
               ROUND(AVG(value), 4) AS avg_value,
               ROUND(STDDEV_SAMP(value), 4) AS sd_value,
               CAST(NULL AS BIGINT) AS n_sample,
               CAST(NULL AS DOUBLE) AS q25,
               CAST(NULL AS DOUBLE) AS q75,
               CAST(NULL AS DOUBLE) AS mad,
               CAST(NULL AS BIGINT) AS bucket,
               CAST(NULL AS BIGINT) AS n_bucket
        FROM events
        GROUP BY event_type
        UNION ALL
        SELECT 'bk' AS tag, event_type,
               PERCENTILE_DISC(0.5)  WITHIN GROUP (ORDER BY value) AS median_value,
               CAST(NULL AS DOUBLE) AS min_value,
               CAST(NULL AS DOUBLE) AS max_value,
               CAST(NULL AS DOUBLE) AS avg_value,
               CAST(NULL AS DOUBLE) AS sd_value,
               COUNT(*) AS n_sample,
               PERCENTILE_DISC(0.25) WITHIN GROUP (ORDER BY value) AS q25,
               PERCENTILE_DISC(0.75) WITHIN GROUP (ORDER BY value) AS q75,
               CAST(NULL AS DOUBLE) AS mad,
               CAST(NULL AS BIGINT) AS bucket,
               CAST(NULL AS BIGINT) AS n_bucket
        FROM (
            SELECT event_type, value,
                   ROW_NUMBER() OVER (
                       PARTITION BY event_type
                       ORDER BY MD5(CAST(event_id AS VARCHAR)), event_id) AS rn
            FROM events
        ) WHERE rn <= 64
        GROUP BY event_type
        UNION ALL
        SELECT 'mad' AS tag, e.event_type,
               m.med AS median_value,
               CAST(NULL AS DOUBLE) AS min_value,
               CAST(NULL AS DOUBLE) AS max_value,
               CAST(NULL AS DOUBLE) AS avg_value,
               CAST(NULL AS DOUBLE) AS sd_value,
               CAST(NULL AS BIGINT) AS n_sample,
               CAST(NULL AS DOUBLE) AS q25,
               CAST(NULL AS DOUBLE) AS q75,
               PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY ABS(e.value - m.med)) AS mad,
               CAST(NULL AS BIGINT) AS bucket,
               CAST(NULL AS BIGINT) AS n_bucket
        FROM events e
        JOIN (
            SELECT event_type,
                   PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY value) AS med
            FROM events GROUP BY event_type
        ) m ON e.event_type = m.event_type
        GROUP BY e.event_type, m.med
        UNION ALL
        SELECT 'hist' AS tag, event_type,
               CAST(NULL AS DOUBLE) AS median_value,
               CAST(NULL AS DOUBLE) AS min_value,
               CAST(NULL AS DOUBLE) AS max_value,
               CAST(NULL AS DOUBLE) AS avg_value,
               CAST(NULL AS DOUBLE) AS sd_value,
               CAST(NULL AS BIGINT) AS n_sample,
               CAST(NULL AS DOUBLE) AS q25,
               CAST(NULL AS DOUBLE) AS q75,
               CAST(NULL AS DOUBLE) AS mad,
               LEAST(GREATEST(CAST(FLOOR((value - 0.0) / 50.0) AS BIGINT), 0), 9) AS bucket,
               COUNT(*) AS n_bucket
        FROM events
        WHERE value IS NOT NULL
        GROUP BY event_type, bucket
        UNION ALL
        SELECT 'cms' AS tag, CAST(NULL AS VARCHAR) AS event_type,
               CAST(NULL AS DOUBLE) AS median_value,
               CAST(NULL AS DOUBLE) AS min_value,
               CAST(NULL AS DOUBLE) AS max_value,
               CAST(NULL AS DOUBLE) AS avg_value,
               CAST(NULL AS DOUBLE) AS sd_value,
               CAST(NULL AS BIGINT) AS n_sample,
               CAST(NULL AS DOUBLE) AS q25,
               CAST(NULL AS DOUBLE) AS q75,
               CAST(NULL AS DOUBLE) AS mad,
               CAST(key AS BIGINT) AS bucket,
               est AS n_bucket
        FROM ({_CMS_SUBQUERY})
    """,
)
def percentile_stats_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentile + moments, alongside the engine's DETERMINISTIC
    quantile sketch (`operators/quantiles.py`):

    - 'exact' rows: full-data ``percentile``/moments — at 100 TB the
      group's whole value set feeds one aggregate.
    - 'bk' rows: bottom-k-by-hash sample (k=64) + discrete order
      statistics. Unlike ``percentile_approx`` (t-digest — bounded
      state but merge-order-dependent), the bottom-k sample is both
      bounded AND content-deterministic, so the estimates are
      hash-verifiable across engines: the oracle recomputes the same
      md5-ranked sample and DuckDB's ``PERCENTILE_DISC`` selects the
      same rank ``ceil(q*n)`` values — raw data values, no
      interpolation arithmetic. ``WindowGroupLimit`` pushes the
      rank-limit map-side, bounding the shuffle at k rows per group
      per partition.
    - 'mad' rows: robust center/scale — the discrete median and the
      median absolute deviation around it (``quantiles.mad_disc``:
      window-rank selection over the FULL data, no group buffering;
      two shuffles on one key, medians join back broadcast). The
      outlier gate mean/stddev can't provide, and engine-bit-stable
      because every output is a data value or one exact abs-diff.
    - 'hist' rows: fixed-bound equi-width histogram
      (``analytics.histogram_fixed``, [0,500) in 10 buckets) — a pure
      per-row projection + one count aggregate; integer counts, bucket
      ids comparable across datasets/days (drift monitoring).
    - 'cms' rows: the COUNT-MIN SKETCH (`operators/cms.py`, md5 tier):
      user_id frequencies estimated from a width-256 x depth-4 cell
      table (deliberately tight so overestimates occur); bucket =
      user_id, n_bucket = estimate — the oracle rebuilds the exact
      cells and reproduces every estimate INCLUDING the collision
      overestimates."""
    ev = _t(spark, sf_dir, "events")

    def _shape(df, tag, **cols):
        names = [
            "median_value", "min_value", "max_value", "avg_value",
            "sd_value", "n_sample", "q25", "q75", "mad", "bucket", "n_bucket",
        ]
        types = {
            "n_sample": "long", "bucket": "long", "n_bucket": "long",
        }
        out = [F.lit(tag).alias("tag"), F.col("event_type")]
        for n in names:
            if n in cols:
                out.append(cols[n].alias(n))
            else:
                out.append(F.lit(None).cast(types.get(n, "double")).alias(n))
        return df.select(*out)

    exact = _shape(
        ev.groupBy("event_type").agg(
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("m"),
            F.round(F.min("value"), 4).alias("mn"),
            F.round(F.max("value"), 4).alias("mx"),
            F.round(F.avg("value"), 4).alias("av"),
            F.round(F.stddev_samp("value"), 4).alias("sd"),
        ),
        "exact",
        median_value=F.col("m"), min_value=F.col("mn"), max_value=F.col("mx"),
        avg_value=F.col("av"), sd_value=F.col("sd"),
    )
    sample = bottomk_sample(
        ev.select("event_id", "event_type", "value"), ["event_type"], "event_id", 64
    )
    bk = _shape(
        quantiles_disc(
            sample, ["event_type"], "value", {"q25": 0.25, "q50": 0.5, "q75": 0.75}
        ),
        "bk",
        median_value=F.col("q50"), n_sample=F.col("n_sample").cast("long"),
        q25=F.col("q25"), q75=F.col("q75"),
    )
    mad = _shape(
        mad_disc(ev.select("event_type", "value"), ["event_type"], "value"),
        "mad",
        median_value=F.col("median_value"), mad=F.col("mad"),
    )
    hist = _shape(
        histogram_fixed(ev, ["event_type"], "value", 0.0, 500.0, 10),
        "hist",
        bucket=F.col("bucket"), n_bucket=F.col("n_bucket"),
    )
    sk = cms_accumulate(
        ev.select(F.col("user_id").cast("string").alias("key")),
        "key", width=256, depth=4, hash_fn="md5",
    )
    est = cms_estimate(
        sk,
        ev.filter("user_id < 10").select(
            F.col("user_id").cast("string").alias("key")
        ),
        "key", width=256, depth=4, hash_fn="md5",
    )
    cms = _shape(
        est.withColumn("event_type", F.lit(None).cast("string")),
        "cms",
        bucket=F.col("key").cast("long"), n_bucket=F.col("est"),
    )
    return (
        exact.unionByName(bk).unionByName(mad).unionByName(hist)
        .unionByName(cms)
    )


# =====================================================================
# Projection / filter (pushdown) and scans
# =====================================================================

_ZORDER_EXPR_SQL = zorder_sql(
    ["l_partkey", "l_suppkey"],
    ["(SELECT MIN(l_partkey) FROM lineitem)", "(SELECT MIN(l_suppkey) FROM lineitem)"],
    ["(SELECT MAX(l_partkey) FROM lineitem)", "(SELECT MAX(l_suppkey) FROM lineitem)"],
    bits=16,
)


@register(
    "filter_project_pushdown",
    oracle=f"""
        SELECT 'filter' AS tag, l_orderkey, l_partkey, l_quantity, l_returnflag,
               CAST(NULL AS BIGINT) AS zval
        FROM lineitem
        WHERE l_quantity >= 45
          AND l_shipdate >= TIMESTAMP '1999-01-01'
          AND l_returnflag = 'N'
        UNION ALL
        SELECT 'zmap' AS tag, l_orderkey, l_partkey, l_quantity, l_returnflag,
               {_ZORDER_EXPR_SQL} AS zval
        FROM lineitem
        WHERE l_quantity >= 45
          AND l_shipdate >= TIMESTAMP '1999-01-01'
          AND l_returnflag = 'N'
    """,
)
def filter_project_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The physical-layout surface in one tagged result:

    - 'filter' rows: predicates + projection reach the parquet scan
      (PushedFilters / ReadSchema in explain) — at 100 TB this is the
      difference between reading 4 columns of a few row groups and
      reading everything.
    - 'zmap' rows: the same rows carrying their Z-order (Morton) key
      over (l_partkey, l_suppkey) (`operators/zorder.py` — the
      clustering key `cluster_write` range-partitions on so BOTH
      columns get narrow per-file min/max and the scan above can skip
      files). Min/max normalization stats come from a broadcast
      1-row aggregate (no driver action); the bit interleave is pure
      shift/mask codegen, mirrored term-for-term by `zorder_sql` in
      the oracle — the layout key itself is hash-verified across
      engines."""
    li = _t(spark, sf_dir, "lineitem")
    pred = (
        (F.col("l_quantity") >= 45)
        & (F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp"))
        & (F.col("l_returnflag") == "N")
    )
    out_cols = ["l_orderkey", "l_partkey", "l_quantity", "l_returnflag"]
    filt = li.filter(pred).select(
        F.lit("filter").alias("tag"), *out_cols, F.lit(None).cast("long").alias("zval")
    )
    joined, z = zorder_key(li, ["l_partkey", "l_suppkey"], bits=16)
    zmap = joined.filter(pred).select(
        F.lit("zmap").alias("tag"), *out_cols, z.cast("long").alias("zval")
    )
    return filt.unionByName(zmap)


_PROFILE_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_totalprice",
    "o_orderstatus",
    "o_orderpriority",
    "o_orderdate",
]


def _profile_oracle_sql() -> str:
    pieces = []
    for c in _PROFILE_COLS:
        if c in ("o_orderkey", "o_custkey", "o_totalprice"):
            mn, mx = f"CAST(MIN({c}) AS DOUBLE)", f"CAST(MAX({c}) AS DOUBLE)"
            ms = xs = "CAST(NULL AS VARCHAR)"
        else:
            src = f"CAST({c} AS DATE)" if c == "o_orderdate" else c
            mn = mx = "CAST(NULL AS DOUBLE)"
            ms, xs = f"CAST(MIN({src}) AS VARCHAR)", f"CAST(MAX({src}) AS VARCHAR)"
        pieces.append(
            f"""SELECT 'profile' AS tag, CAST(NULL AS VARCHAR) AS o_orderstatus,
                CAST(NULL AS VARCHAR) AS o_orderpriority,
                '{c}' AS column, COUNT(*) AS n_rows,
                COUNT(*) - COUNT({c}) AS n_null,
                COUNT(DISTINCT {c}) AS n_distinct,
                {mn} AS min_num, {mx} AS max_num,
                {ms} AS min_str, {xs} AS max_str,
                CAST(NULL AS VARCHAR) AS check_name,
                CAST(NULL AS BIGINT) AS n_violations FROM orders"""
        )
    return " UNION ALL ".join(pieces)


_CHECKS_ORACLE = """
    SELECT 'checks' AS tag, CAST(NULL AS VARCHAR) AS o_orderstatus,
           CAST(NULL AS VARCHAR) AS o_orderpriority,
           CAST(NULL AS VARCHAR) AS column,
           (SELECT COUNT(*) FROM orders) AS n_rows,
           CAST(NULL AS BIGINT) AS n_null, CAST(NULL AS BIGINT) AS n_distinct,
           CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
           CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str,
           c.check_name, c.n_violations
    FROM (
        SELECT 'not_null:o_custkey' AS check_name,
               (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL) AS n_violations
        UNION ALL
        SELECT 'unique:o_orderkey',
               (SELECT COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) FROM orders)
        UNION ALL
        SELECT 'in_range:o_totalprice',
               (SELECT COUNT(*) FROM orders
                WHERE o_totalprice < 0 OR o_totalprice > 600000)
        UNION ALL
        SELECT 'in_set:o_orderstatus',
               (SELECT COUNT(*) FROM orders
                WHERE o_orderstatus IS NOT NULL
                  AND o_orderstatus NOT IN ('F', 'O', 'P'))
        UNION ALL
        SELECT 'matches:o_orderpriority',
               (SELECT COUNT(*) FROM orders
                WHERE o_orderpriority IS NOT NULL
                  AND NOT regexp_matches(o_orderpriority, '^[1-5]-'))
        UNION ALL
        SELECT 'foreign_key:o_custkey',
               (SELECT COUNT(*) FROM orders
                WHERE o_custkey IS NOT NULL
                  AND o_custkey NOT IN (SELECT c_custkey FROM customer))
    ) c
"""


@register(
    "distinct_orders_dims",
    oracle=f"""
        SELECT 'dims' AS tag, o_orderstatus, o_orderpriority,
               CAST(NULL AS VARCHAR) AS column, CAST(NULL AS BIGINT) AS n_rows,
               CAST(NULL AS BIGINT) AS n_null, CAST(NULL AS BIGINT) AS n_distinct,
               CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
               CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str,
               CAST(NULL AS VARCHAR) AS check_name,
               CAST(NULL AS BIGINT) AS n_violations
        FROM (SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders)
        UNION ALL
        {_profile_oracle_sql()}
        UNION ALL
        {_CHECKS_ORACLE}
    """,
)
def distinct_orders_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact-dedup/cardinality surface in one tagged result:

    - 'dims' rows: DISTINCT = hash aggregate without aggregates (exact
      dedup primitive on low-cardinality projections).
    - 'profile' rows: the single-pass table profiler
      (`operators/profile.py`) over six orders columns — per-column
      null counts, EXACT distinct counts (N ``count_distinct`` in one
      aggregate: one scan + one Expand, the reference UDA's motivating
      multi-distinct workload), and type-routed min/max. The oracle
      recomputes every statistic per column.
    - 'checks' rows: the declarative constraint suite
      (`operators/checks.py`) — not_null / unique / in_range / in_set /
      regex / referential integrity over orders, all but the FK in ONE
      aggregate pass; every count recomputed independently by the
      oracle, so the hash certifies each constraint's NULL/duplicate
      semantics."""
    orders = _t(spark, sf_dir, "orders")
    dims_cols = ["o_orderstatus", "o_orderpriority"]
    nulls = [
        F.lit(None).cast("string").alias("column"),
        F.lit(None).cast("long").alias("n_rows"),
        F.lit(None).cast("long").alias("n_null"),
        F.lit(None).cast("long").alias("n_distinct"),
        F.lit(None).cast("double").alias("min_num"),
        F.lit(None).cast("double").alias("max_num"),
        F.lit(None).cast("string").alias("min_str"),
        F.lit(None).cast("string").alias("max_str"),
    ]
    dims = (
        orders.select(*dims_cols)
        .distinct()
        .select(
            F.lit("dims").alias("tag"),
            *dims_cols,
            *nulls,
            F.lit(None).cast("string").alias("check_name"),
            F.lit(None).cast("long").alias("n_violations"),
        )
    )
    prof = profile_table(orders, _PROFILE_COLS).select(
        F.lit("profile").alias("tag"),
        F.lit(None).cast("string").alias("o_orderstatus"),
        F.lit(None).cast("string").alias("o_orderpriority"),
        "column",
        "n_rows",
        "n_null",
        "n_distinct",
        "min_num",
        "max_num",
        "min_str",
        "max_str",
        F.lit(None).cast("string").alias("check_name"),
        F.lit(None).cast("long").alias("n_violations"),
    )
    suite = check_constraints(
        orders,
        [
            chk.not_null("o_custkey"),
            chk.unique(["o_orderkey"]),
            chk.in_range("o_totalprice", 0.0, 600000.0),
            chk.in_set("o_orderstatus", ["F", "O", "P"]),
            chk.matches("o_orderpriority", "^[1-5]-"),
        ],
    ).unionByName(
        check_foreign_key(
            orders, _t(spark, sf_dir, "customer"), ["o_custkey"], ["c_custkey"]
        )
    )
    checks = suite.select(
        F.lit("checks").alias("tag"),
        F.lit(None).cast("string").alias("o_orderstatus"),
        F.lit(None).cast("string").alias("o_orderpriority"),
        *nulls[0:1],
        F.col("n_rows"),
        *nulls[2:],
        F.col("constraint").alias("check_name"),
        "n_violations",
    )
    return dims.unionByName(prof).unionByName(checks)


# =====================================================================
# Joins (§2: inner/left/semi/anti/full/theta/range/as-of, broadcast)
# =====================================================================

@register(
    "join_star_revenue",
    oracle="""
        SELECT r.r_name,
               ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
               COUNT(DISTINCT l.l_orderkey) AS n_orders,
               COUNT(*) AS n_rows
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        JOIN region r   ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
    """,
    headline=True,
)
def join_star_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: fact->orders->customer->nation->region. nation/region
    are broadcast EXPLICITLY (bounded dimensions at any SF — 25 nations);
    fact-side joins shuffle on their keys and AQE handles skew. This is
    the canonical 100 TB join topology.

    The fact side is PARTIALLY RE-AGGREGATED to order grain before the
    join chain: sum/count are distributive, so folding ~4 lineitems per
    order first shrinks the join shuffle 4x AND turns
    COUNT(DISTINCT l_orderkey) into a plain COUNT(*) (each orderkey joins
    exactly one customer path), deleting the Expand a distinct aggregate
    would otherwise need."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    region = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    li_order = (
        li.select("l_orderkey", "l_extendedprice", "l_discount")
        .groupBy("l_orderkey")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev_o"),
            F.count("*").alias("nr_o"),
        )
    )
    return (
        li_order.join(orders, li_order.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.round(F.sum("rev_o"), 2).alias("revenue"),
            F.count("*").alias("n_orders"),
            F.sum("nr_o").alias("n_rows"),
        )
    )


def _max_orderkey(orders: DataFrame) -> int:
    """MAX(o_orderkey) — the data-derived offset base for the ivm
    arm's synthetic insert keys (one scalar, bounded collect). A fixed
    10M offset COLLIDED with real orderkeys at the sf10 sweep (the
    volume generator's key-offsetting pushes max o_orderkey past any
    fixed constant eventually): the oracle's UNION ALL kept both rows
    where the keyed upsert replaced one — the engines were both
    behaving correctly on two different intended inputs."""
    mx = orders.agg(F.max("o_orderkey")).first()[0]
    if mx is None:
        # MAX over an empty table is NULL; int(None) would raise a
        # bare TypeError — name the actual problem instead.
        raise ValueError(
            "_max_orderkey: orders table is empty — the ivm arm "
            "needs at least one row to derive a collision-free "
            "insert-key offset"
        )
    return int(mx)


@register(
    "join_left_customer_orders",
    oracle="""
        WITH c2 AS (
            SELECT c_custkey,
                   CASE WHEN c_custkey % 10 = 4 THEN 'MOVED'
                        ELSE c_mktsegment END AS c_mktsegment
            FROM customer WHERE c_custkey % 10 <> 7
        ),
        b2 AS (
            SELECT o_orderkey, o_custkey,
                   CASE WHEN o_orderkey % 7 = 1 THEN o_totalprice + 1000
                        ELSE o_totalprice END AS o_totalprice
            FROM orders WHERE o_orderkey % 7 <> 2
            UNION ALL
            SELECT o_orderkey + (SELECT MAX(o_orderkey) + 1 FROM orders),
                   o_custkey, 100.0
            FROM orders WHERE o_orderkey % 7 = 3
        )
        SELECT 'left' AS tier, c.c_mktsegment,
               COUNT(DISTINCT c.c_custkey) AS n_customers,
               COUNT(o.o_orderkey) AS n_orders,
               ROUND(SUM(COALESCE(o.o_totalprice, 0)), 2) AS total_spend
        FROM customer c
        LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY c.c_mktsegment
        UNION ALL
        SELECT 'ivm' AS tier, c2.c_mktsegment,
               COUNT(DISTINCT c2.c_custkey) AS n_customers,
               COUNT(b2.o_orderkey) AS n_orders,
               ROUND(SUM(b2.o_totalprice), 2) AS total_spend
        FROM c2 JOIN b2 ON c2.c_custkey = b2.o_custkey
        GROUP BY c2.c_mktsegment
    """,
)
def join_left_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged: the plain LEFT join aggregate, plus the INCREMENTALLY
    MAINTAINED join view (`operators/ivm.py`).

    'ivm' applies a deterministic CDC batch to BOTH bases (customers
    c_custkey%10==4 re-segmented, %10==7 DELETED; orders %7==1
    repriced, %7==2 deleted, %7==3 cloned as inserts), folds the
    deltas into the materialized customer⋈orders view with
    ``maintain_join_view`` (broadcast delta terms — the view and bases
    never shuffle), and aggregates the MAINTAINED view. The oracle
    recomputes the join of the final base states directly, so the hash
    match proves the delta-join maintenance exact — including DELETES
    ON BOTH BASES (an A-side delete must kill every pair of that
    customer; a B-side delete only its order's pair) and
    removal/upsert/insert disjointness."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    left = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_mktsegment")
        .agg(
            F.count_distinct("c_custkey").alias("n_customers"),
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.sum(F.coalesce(F.col("o_totalprice"), F.lit(0.0))), 2).alias("total_spend"),
        )
        .select(F.lit("left").alias("tier"), "c_mktsegment", "n_customers", "n_orders", "total_spend")
    )
    a = cust.select("c_custkey", "c_mktsegment")
    b = orders.select("o_orderkey", "o_custkey", "o_totalprice")
    da = a.filter(F.col("c_custkey") % 10 == 4).select(
        "c_custkey", F.lit("MOVED").alias("c_mktsegment"), F.lit("U").alias("op")
    ).unionByName(
        a.filter(F.col("c_custkey") % 10 == 7).select(
            "c_custkey",
            F.lit(None).cast("string").alias("c_mktsegment"),
            F.lit("D").alias("op"),
        )
    )
    db = (
        b.filter(F.col("o_orderkey") % 7 == 1)
        .select(
            "o_orderkey", "o_custkey",
            (F.col("o_totalprice") + 1000).alias("o_totalprice"),
            F.lit("U").alias("op"),
        )
        .unionByName(
            b.filter(F.col("o_orderkey") % 7 == 2).select(
                "o_orderkey",
                F.lit(None).cast("long").alias("o_custkey"),
                F.lit(None).cast("double").alias("o_totalprice"),
                F.lit("D").alias("op"),
            )
        )
        .unionByName(
            b.filter(F.col("o_orderkey") % 7 == 3).select(
                (F.col("o_orderkey") + F.lit(_max_orderkey(orders) + 1)).alias("o_orderkey"),
                "o_custkey",
                F.lit(100.0).alias("o_totalprice"),
                F.lit("U").alias("op"),
            )
        )
    )
    a2 = apply_changes(a, da, ["c_custkey"])
    b2 = apply_changes(b, db, ["o_orderkey"])
    view0 = a.join(b, a["c_custkey"] == b["o_custkey"], "inner")
    view1 = maintain_join_view(
        view0, a2, b2, da, db,
        ["c_custkey"], ["o_orderkey"], [("c_custkey", "o_custkey")],
    )
    ivm = (
        view1.groupBy("c_mktsegment")
        .agg(
            F.count_distinct("c_custkey").alias("n_customers"),
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
        )
        .select(F.lit("ivm").alias("tier"), "c_mktsegment", "n_customers", "n_orders", "total_spend")
    )
    return left.union(ivm)


@register(
    "join_semi_anti_customers",
    oracle="""
        SELECT 'with_orders' AS op, c_custkey, c_name FROM customer
        WHERE c_custkey IN (SELECT o_custkey FROM orders)
        UNION ALL
        SELECT 'without_orders' AS op, c_custkey, c_name FROM customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL)
        UNION ALL
        SELECT 'merged' AS op, c_custkey, c_name FROM (
            WITH chg AS (
                SELECT c_custkey, UPPER(c_name) AS c_name, 'U' AS cop
                FROM customer WHERE c_custkey % 10 = 3
                UNION ALL
                SELECT c_custkey, CAST(NULL AS VARCHAR), 'D'
                FROM customer WHERE c_custkey % 10 = 6
                UNION ALL
                SELECT c_custkey + 1000000, 'new_' || CAST(c_custkey AS VARCHAR), 'U'
                FROM customer WHERE c_custkey % 10 = 2
            )
            SELECT c_custkey, c_name FROM customer
            WHERE c_custkey NOT IN (SELECT c_custkey FROM chg)
            UNION ALL
            SELECT c_custkey, c_name FROM chg WHERE cop <> 'D'
        )
    """,
)
def join_semi_anti_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI (= EXISTS) and LEFT ANTI (= NOT EXISTS) in one tagged
    result — both sides of the membership partition. No fan-out in
    either branch; the right side is reduced to its keys (at scale:
    dramatically cheaper than join+distinct).

    The 'merged' rows drive MERGE INTO (`operators/merge.py`
    ``apply_changes``) — the anti join's production application: a
    deterministic CDC batch (updates on custkey%10==3, deletes on
    %10==6, inserts on %10==2 at shifted keys) applied to the customer
    snapshot; survivors = broadcast anti join on the batch keys, the
    snapshot itself never shuffles. The oracle recomputes the merge
    with the standard SQL formulation."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select("o_custkey")
    semi = cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select(F.lit("with_orders").alias("op"), "c_custkey", "c_name")
    anti = cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select(F.lit("without_orders").alias("op"), "c_custkey", "c_name")

    snap = cust.select("c_custkey", "c_name")
    key = F.col("c_custkey")
    changes = (
        snap.filter(key % 10 == 3)
        .select(key.alias("c_custkey"), F.upper("c_name").alias("c_name"),
                F.lit("U").alias("cop"))
        .unionByName(
            snap.filter(key % 10 == 6).select(
                key.alias("c_custkey"),
                F.lit(None).cast("string").alias("c_name"),
                F.lit("D").alias("cop"),
            )
        )
        .unionByName(
            snap.filter(key % 10 == 2).select(
                (key + 1000000).alias("c_custkey"),
                F.concat(F.lit("new_"), key.cast("string")).alias("c_name"),
                F.lit("U").alias("cop"),
            )
        )
    )
    merged = apply_changes(snap, changes, ["c_custkey"], op_col="cop").select(
        F.lit("merged").alias("op"), "c_custkey", "c_name"
    )
    return semi.union(anti).union(merged)


@register(
    "join_full_outer_nation_presence",
    oracle="""
        SELECT COALESCE(c.c_nationkey, s.s_nationkey) AS nationkey,
               COALESCE(c.n_cust, 0) AS n_cust,
               COALESCE(s.n_supp, 0) AS n_supp
        FROM (SELECT c_nationkey, COUNT(*) AS n_cust FROM customer GROUP BY c_nationkey) c
        FULL OUTER JOIN
             (SELECT s_nationkey, COUNT(*) AS n_supp FROM supplier GROUP BY s_nationkey) s
        ON c.c_nationkey = s.s_nationkey
    """,
)
def join_full_outer_nation_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-then-join: shrink BOTH sides before the full outer join
    (at 100 TB, pre-aggregation turns a fact-fact join into a
    dim-dim join)."""
    c = (
        _t(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_cust"))
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(F.count("*").alias("n_supp"))
    )
    return c.join(s, c.c_nationkey == s.s_nationkey, "full_outer").select(
        F.coalesce(c.c_nationkey, s.s_nationkey).alias("nationkey"),
        F.coalesce(F.col("n_cust"), F.lit(0)).alias("n_cust"),
        F.coalesce(F.col("n_supp"), F.lit(0)).alias("n_supp"),
    )


@register(
    "join_theta_part_pairs",
    oracle="""
        SELECT a.p_size, COUNT(*) AS n_pairs
        FROM part a JOIN part b
          ON a.p_size = b.p_size AND a.p_partkey < b.p_partkey
        GROUP BY a.p_size
    """,
)
def join_theta_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta join = equi-key + inequality residual. Keeping the equi
    conjunct is what makes this a hash join instead of a cartesian
    product — essential shape at scale."""
    a = _t(spark, sf_dir, "part").select("p_partkey", "p_size")
    b = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("b_partkey"), F.col("p_size").alias("b_size")
    )
    return (
        a.join(b, (a.p_size == b.b_size) & (a.p_partkey < F.col("b_partkey")))
        .groupBy("p_size")
        .agg(F.count("*").alias("n_pairs"))
    )


def _range_resid(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_pairs"))
        .select(F.lit("resid").alias("tier"), "o_orderpriority", "n_pairs")
    )


_EPOCH = "1970-01-01"


def _range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    epoch = F.lit(_EPOCH).cast("date")
    pts = (
        _t(spark, sf_dir, "lineitem")
        .select(
            F.datediff(F.col("l_shipdate").cast("date"), epoch).alias("d")
        )
        .distinct()
    )
    ivs = _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.datediff(F.col("o_orderdate").cast("date"), epoch).alias("od"),
        (F.datediff(F.col("o_orderdate").cast("date"), epoch) + 7).alias(
            "od_end"
        ),
    )
    return (
        binned_range_join(pts, ivs, "d", "od", "od_end", bin_width=8)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_pairs"))
        .select(F.lit("binned").alias("tier"), "o_orderpriority", "n_pairs")
    )


def _range_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    epoch = F.lit(_EPOCH).cast("date")
    od = F.datediff(F.col("o_orderdate").cast("date"), epoch)
    a = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (od >= F.datediff(F.lit("1997-01-01").cast("date"), epoch))
            & (od < F.datediff(F.lit("1998-01-01").cast("date"), epoch))
        )
        .select(od.alias("a_s"), (od + 3).alias("a_e"))
    )
    b = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("b_priority"),
        od.alias("b_s"),
        (od + 3).alias("b_e"),
    )
    return (
        binned_interval_join(a, b, "a_s", "a_e", "b_s", "b_e", bin_width=8)
        .groupBy("b_priority")
        .agg(F.count("*").alias("n_pairs"))
        .select(
            F.lit("overlap").alias("tier"),
            F.col("b_priority").alias("o_orderpriority"),
            "n_pairs",
        )
    )


@register(
    "join_range_late_shipments",
    headline=True,
    arms={
        "resid": lambda spark, sf_dir: _range_resid(spark, sf_dir),
        "binned": lambda spark, sf_dir: _range_binned(spark, sf_dir),
        "overlap": lambda spark, sf_dir: _range_overlap(spark, sf_dir),
    },
    oracle="""
        SELECT 'resid' AS tier, o.o_orderpriority, COUNT(*) AS n_pairs
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        GROUP BY o.o_orderpriority
        UNION ALL
        SELECT 'binned' AS tier, o.o_orderpriority, COUNT(*) AS n_pairs
        FROM (SELECT DISTINCT CAST(l_shipdate AS DATE) AS d FROM lineitem) p
        JOIN orders o
          ON p.d >= CAST(o.o_orderdate AS DATE)
         AND p.d <= CAST(o.o_orderdate AS DATE) + 7
        GROUP BY o.o_orderpriority
        UNION ALL
        SELECT 'overlap' AS tier, b.o_orderpriority, COUNT(*) AS n_pairs
        FROM orders a JOIN orders b
          ON CAST(a.o_orderdate AS DATE) <= CAST(b.o_orderdate AS DATE) + 3
         AND CAST(b.o_orderdate AS DATE) <= CAST(a.o_orderdate AS DATE) + 3
        WHERE a.o_orderpriority = '1-URGENT'
          AND CAST(a.o_orderdate AS DATE) >= DATE '1997-01-01'
          AND CAST(a.o_orderdate AS DATE) <  DATE '1998-01-01'
        GROUP BY b.o_orderpriority
    """,
)
def join_range_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range joins, both regimes tagged:

    - 'resid': range predicate as a RESIDUAL on an equi join — when a
      key equality exists, keep it as the join key and the range as a
      post-join filter (hash join, never a nested loop).
    - 'binned': a PURE point-in-interval join (no equi key at all —
      which ship dates fall in the week after each order, by priority)
      through ``operators.range_join.binned_range_join``: intervals
      exploded onto fixed-width bins, points tagged with their one bin,
      equi-join on bin id + exact residual. This is the shape Spark
      would otherwise plan as BroadcastNestedLoopJoin/cartesian
      (plan-asserted in `tests/test_range_join.py`); the DuckDB oracle
      computes the naive non-equi join directly, so the hash match
      proves the binned rewrite exact (boundaries included).
    - 'overlap': the INTERVAL-x-INTERVAL overlap join
      (``binned_interval_join`` — both sides explode onto bins, each
      overlapping pair kept once via the greatest-start-bin rule):
      urgent 1997 order windows [od, od+3] against every order's
      window, paired when the windows overlap, counted by the right
      side's priority. Again the oracle runs the naive non-equi
      overlap join, so the hash certifies the rewrite."""
    resid, binned, overlap = fanout(
        lambda: _range_resid(spark, sf_dir),
        lambda: _range_binned(spark, sf_dir),
        lambda: _range_overlap(spark, sf_dir),
    )
    return resid.union(binned).union(overlap)


@register(
    "asof_join_last_order",
    headline=True,
    oracle="""
        WITH j AS (
            SELECT e.event_id, o.o_orderkey, o.o_orderdate,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.event_id
                       ORDER BY o.o_orderdate DESC, o.o_orderkey DESC
                   ) AS rn
            FROM events e
            JOIN orders o
              ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
        )
        SELECT event_id, o_orderkey AS last_order_key,
               CAST(o_orderdate AS DATE) AS last_order_date
        FROM j WHERE rn = 1
    """,
)
def asof_join_last_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operator Spark lacks; DuckDB's ASOF JOIN is the
    oracle shape): latest order at or before each event, via
    ``operators.asof.asof_join``'s sort-merge formulation — tag + union
    both sides, one window shuffle on the key, carry the latest order
    forward with last(ignorenulls): O(events + orders) with NO join
    fan-out (measured 2.6x faster than an equi-join + row_number
    formulation at sf0.1: 0.5s vs 1.3s min, and the margin grows with
    orders-per-customer)."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderdate")
    joined = asof_join(
        ev,
        orders,
        left_key="user_id",
        right_key="o_custkey",
        left_ts="ts",
        right_ts="o_orderdate",
        right_cols=["o_orderkey", "o_orderdate"],
        right_order="o_orderkey",
    )
    return joined.select(
        "event_id",
        F.col("o_orderkey").alias("last_order_key"),
        F.col("o_orderdate").cast("date").alias("last_order_date"),
    )


@register(
    "join_salted_skew",
    oracle="""
        SELECT 'salted' AS tier, o.o_orderpriority,
               ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
               COUNT(*) AS n_rows
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderpriority
        UNION ALL
        SELECT 'bucketed', o.o_orderpriority,
               ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
               COUNT(*) AS n_rows
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderpriority
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two PHYSICAL join-distribution strategies, tagged — both
    must produce results identical to the plain join, which is exactly
    what the plain-join oracle asserts per tier:

    - 'salted' (operators.skew.salted_join): the fact side gets a
      deterministic salt, the dimension side is replicated per salt
      value, the hot key spreads over ``salt`` reduce tasks. AQE skew
      splitting covers moderate skew; this is the explicit hammer for
      a single pathological key.
    - 'bucketed' (operators.skew.bucketed_table): both sides persisted
      bucketed+sorted by the join key, then joined co-located — the
      write pays the shuffle once and every subsequent join plans with
      ZERO exchange (plan-asserted in tests/test_bucketing.py); the
      physical design answer for the join that runs daily over 100 TB.
      The entry rewrites the bucketed tables under the system temp dir
      each run. Path and table names are suffixed with the Spark
      APPLICATION id: re-runs within one session overwrite in place
      (no accumulation), while concurrent sessions (parallel test
      workers, bench beside a sweep) cannot clobber each other's
      files mid-read."""
    import os
    import re
    import tempfile

    from ..operators.skew import bucketed_table, salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")

    def agg(joined, tier):
        return joined.groupBy("o_orderpriority").agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_rows"),
        ).select(F.lit(tier).alias("tier"), "o_orderpriority", "revenue", "n_rows")

    salted = agg(
        salted_join(
            li.withColumnRenamed("l_orderkey", "jk"),
            orders.withColumnRenamed("o_orderkey", "jk"),
            on="jk",
            salt=8,
        ),
        "salted",
    )
    app = re.sub(r"\W", "_", spark.sparkContext.applicationId)
    base = os.path.join(tempfile.gettempdir(), f"ihc_bucketed_{app}")
    bl = bucketed_table(
        li.withColumnRenamed("l_orderkey", "jk"), spark,
        f"ihc_bkt_lineitem_{app}", os.path.join(base, "l"), "jk",
    )
    bo = bucketed_table(
        orders.withColumnRenamed("o_orderkey", "jk"), spark,
        f"ihc_bkt_orders_{app}", os.path.join(base, "o"), "jk",
    )
    return salted.unionByName(agg(bl.join(bo, "jk"), "bucketed"))


_Q17_SQL = """
    SELECT ROUND(SUM(l.l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand = 'Brand#23'
      AND l.l_quantity < (
          SELECT 0.2 * AVG(l2.l_quantity)
          FROM lineitem l2
          WHERE l2.l_partkey = l.l_partkey
      )
"""


@register("subquery_corr_avg_qty", oracle=_Q17_SQL)
def subquery_corr_avg_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — correlated scalar subquery. Catalyst
    DECORRELATES it (RewriteCorrelatedScalarSubquery): the per-partkey
    average becomes one grouped aggregate joined back on l_partkey, so
    the 100 TB plan is two scans + one equi-join, never a re-executed
    subquery per row. Same SQL text runs on both engines."""
    register_views(spark, sf_dir)
    return spark.sql(_Q17_SQL)


@register(
    "tpch_q3_shipping_priority",
    oracle="""
        SELECT o.o_orderkey,
               ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
               CAST(o.o_orderdate AS DATE) AS orderdate,
               o.o_orderpriority
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1998-01-01'
          AND l.l_shipdate > TIMESTAMP '1998-01-01'
        GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY revenue DESC, o.o_orderkey
        LIMIT 10
    """,
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective filters on all three tables reach the
    scans, then join -> grouped agg -> global top-10 (rounded revenue +
    orderkey tie-break keeps the boundary deterministic across
    engines). The orders/customer side shrinks before touching the
    fact table."""
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    ).select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey, "left_semi")
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "o_orderkey",
            "revenue",
            F.col("o_orderdate").cast("date").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


# =====================================================================
# Window functions, sort / limit / top-k
# =====================================================================

@register(
    "window_customer_orders",
    oracle="""
        SELECT o_orderkey, o_custkey,
               ROW_NUMBER() OVER w AS rn,
               ROUND(SUM(o_totalprice) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend,
               ROUND(LAG(o_totalprice) OVER w, 2) AS prev_price,
               RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS spend_rank,
               ROUND(SUM(o_totalprice) OVER (
                   PARTITION BY o_custkey ORDER BY EPOCH(o_orderdate)
                   RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW), 2) AS spend_30d,
               NTILE(4) OVER w AS quartile,
               ROUND(PERCENT_RANK() OVER (
                   PARTITION BY o_custkey ORDER BY o_totalprice DESC), 6
               ) AS spend_pct_rank,
               ROUND(CUME_DIST() OVER (
                   PARTITION BY o_custkey ORDER BY o_totalprice DESC), 6
               ) AS spend_cume_dist,
               ROUND(LEAD(o_totalprice) OVER w, 2) AS next_price
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    headline=True,
)
def window_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window family: row_number / running sum / lag / lead / rank /
    ntile / percent_rank / cume_dist / RANGE-frame trailing spend share
    one partitioning -> ONE shuffle serves all nine (WindowExec reuses
    the child partitioning; the differing orderings only re-sort within
    partitions). percent_rank/cume_dist tie rows (equal o_totalprice)
    get equal values in any engine — deterministic without a tie-break;
    ntile is deterministic because its ordering carries the unique
    o_orderkey.

    ``spend_30d`` is the RANGE-frame member: per-customer trailing-30-day
    spend by VALUE distance over epoch seconds, not row count — peers
    with equal timestamps aggregate identically in any engine, so no
    tie-break is needed. TIMESTAMP_NTZ has no direct long cast; the hop
    through TIMESTAMP is exact because the session TZ is pinned UTC
    (matching DuckDB's naive EPOCH)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wrank = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc())
    wrange = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-30 * 86400, 0)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.row_number().over(w).alias("rn"),
        F.round(
            F.sum("o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2
        ).alias("running_spend"),
        F.round(F.lag("o_totalprice").over(w), 2).alias("prev_price"),
        F.rank().over(wrank).alias("spend_rank"),
        F.round(F.sum("o_totalprice").over(wrange), 2).alias("spend_30d"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(wrank), 6).alias("spend_pct_rank"),
        F.round(F.cume_dist().over(wrank), 6).alias("spend_cume_dist"),
        F.round(F.lead("o_totalprice").over(w), 2).alias("next_price"),
    )


@register(
    "topk_per_customer_and_global",
    oracle="""
        SELECT 'per_customer' AS scope, o_custkey, o_orderkey, o_totalprice
        FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   ROW_NUMBER() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey
                   ) AS rn
            FROM orders
        ) WHERE rn <= 3
        UNION ALL
        SELECT 'global' AS scope, o_custkey, o_orderkey, o_totalprice
        FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   ROW_NUMBER() OVER (
                       ORDER BY o_totalprice DESC, o_orderkey
                   ) AS rn
            FROM orders
        ) WHERE rn <= 20
    """,
    headline=True,
)
def topk_per_customer_and_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both top-k shapes in one tagged result.

    'per_customer': top-3 via row_number — Spark plans a rank-limit
    (WindowGroupLimit) pushdown so each partition keeps only k rows
    pre-shuffle. 'global': top-20 via orderBy+limit — Spark plans
    TakeOrderedAndProject (per-partition heaps + driver merge of N
    rows), never a full sort of 100 TB. Raw column ordering + unique
    tie-break keeps both deterministic."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    per_customer = (
        orders.select(
            "o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") <= 3)
        .select(
            F.lit("per_customer").alias("scope"),
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
        )
    )
    global_top = (
        orders.select("o_custkey", "o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
        .select(
            F.lit("global").alias("scope"), "o_custkey", "o_orderkey", "o_totalprice"
        )
    )
    return per_customer.union(global_top)


_Q4_SQL = """
    SELECT o.o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-04-01'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
      )
    GROUP BY o.o_orderpriority
"""


@register("subquery_exists_q4", oracle=_Q4_SQL)
def subquery_exists_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape — correlated EXISTS. Catalyst plans it as a LEFT
    SEMI join on l_orderkey with the date inequality as residual: the
    lineitem side is never fanned out, and the orders date filter is
    pushed to the scan. Same SQL text runs on both engines."""
    register_views(spark, sf_dir)
    return spark.sql(_Q4_SQL)


_FILTER_AGG_SQL = """
    SELECT l_returnflag,
           COUNT(*) FILTER (WHERE l_quantity >= 25) AS n_bulk,
           COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
           ROUND(SUM(l_extendedprice) FILTER (WHERE l_tax = 0), 2) AS rev_untaxed,
           ROUND(AVG(l_quantity) FILTER (WHERE l_discount = 0), 4) AS avg_qty_nodisc,
           BOOL_AND(l_quantity > 0) AS all_positive_qty,
           BOOL_OR(l_discount > 0.09) AS any_deep_discount,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
"""


@register("agg_filter_clause", oracle=_FILTER_AGG_SQL)
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER (WHERE ...) aggregate modifiers — N conditional aggregates
    in ONE pass over the scan (the idiom that replaces N self-joins or
    N CASE-wrapped columns); identical SQL text on both engines."""
    register_views(spark, sf_dir)
    return spark.sql(_FILTER_AGG_SQL)


# =====================================================================
# Set operations
# =====================================================================

@register(
    "setops_nation_keys",
    headline=True,
    oracle="""
        SELECT 'union' AS op, nationkey FROM (
            SELECT c_nationkey AS nationkey FROM customer
            UNION SELECT s_nationkey FROM supplier)
        UNION ALL
        SELECT 'intersect' AS op, nationkey FROM (
            SELECT c_nationkey AS nationkey FROM customer
            INTERSECT SELECT s_nationkey FROM supplier)
        UNION ALL
        SELECT 'except' AS op, nationkey FROM (
            SELECT c_nationkey AS nationkey FROM customer
            EXCEPT SELECT s_nationkey FROM supplier)
        UNION ALL
        SELECT 'union_all' AS op, nationkey FROM (
            SELECT c_nationkey AS nationkey FROM customer
            UNION ALL SELECT s_nationkey FROM supplier)
        UNION ALL
        SELECT 'intersect_all' AS op, nationkey FROM (
            SELECT c_nationkey AS nationkey FROM customer
            INTERSECT ALL SELECT s_nationkey FROM supplier)
        UNION ALL
        SELECT 'except_all' AS op, nationkey FROM (
            SELECT c_nationkey AS nationkey FROM customer
            EXCEPT ALL SELECT s_nationkey FROM supplier)
    """,
)
def setops_nation_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full set-operation surface in one tagged result: UNION /
    INTERSECT / EXCEPT (distinct semantics — the merge in the reference
    IS a union-distinct of value sets, `hashset-count.cc:269-461`,
    `README.md:41`) plus the multiset (ALL) variants — UNION ALL is a
    zero-shuffle concatenation; INTERSECT ALL / EXCEPT ALL preserve
    duplicate multiplicities (bag semantics) via a single count-compare
    shuffle."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    tagged = [
        c.union(s).distinct().select(F.lit("union").alias("op"), "nationkey"),
        c.intersect(s).select(F.lit("intersect").alias("op"), "nationkey"),
        c.subtract(s).select(F.lit("except").alias("op"), "nationkey"),
        c.union(s).select(F.lit("union_all").alias("op"), "nationkey"),
        c.intersectAll(s).select(F.lit("intersect_all").alias("op"), "nationkey"),
        c.exceptAll(s).select(F.lit("except_all").alias("op"), "nationkey"),
    ]
    out = tagged[0]
    for t in tagged[1:]:
        out = out.union(t)
    return out


# =====================================================================
# Scalar function surface (string / date / json / array)
# =====================================================================

# NOTE: the scalar STRING surface (upper/substring/contains/replace)
# lives in extensions.text_analysis_documents — one documents scan
# serves the whole per-document projection family.


@register(
    "scalar_date_json",
    oracle="""
        SELECT 'date' AS kind, o_orderkey AS id,
               CAST(YEAR(o_orderdate) AS INTEGER)    AS o_year,
               CAST(MONTH(o_orderdate) AS INTEGER)   AS o_month,
               CAST(DAY(o_orderdate) AS INTEGER)     AS o_day,
               CAST(QUARTER(o_orderdate) AS INTEGER) AS o_quarter,
               CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS o_month_start,
               CAST(NULL AS INTEGER) AS k_val,
               CAST(NULL AS INTEGER) AS m_size,
               CAST(NULL AS VARCHAR) AS m_keys
        FROM orders
        UNION ALL
        SELECT 'json' AS kind, event_id AS id,
               CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
               CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
               CAST(NULL AS DATE),
               CAST(JSON_EXTRACT_STRING(props, '$.k') AS INTEGER) AS k_val,
               CAST(LEN(JSON_KEYS(props)) AS INTEGER) AS m_size,
               ARRAY_TO_STRING(LIST_SORT(JSON_KEYS(props)), ',') AS m_keys
        FROM events
    """,
)
def scalar_date_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part extraction over ``orders`` plus JSON path extraction
    AND the MAP-column surface over ``events.props`` (string column
    parsed to ``map<string,int>`` — size/map_keys/element_at), tagged
    into one result. Both branches are pure codegen'd projections — one
    narrow scan each, no shuffle. (The scalar STRING surface lives in
    ``text_analysis_documents``; the ARRAY surface in
    ``scalar_array_embeddings``.)"""
    o = _t(spark, sf_dir, "orders")
    ev = _t(spark, sf_dir, "events")
    dates = o.select(
        F.lit("date").alias("kind"),
        F.col("o_orderkey").alias("id"),
        F.year("o_orderdate").alias("o_year"),
        F.month("o_orderdate").alias("o_month"),
        F.dayofmonth("o_orderdate").alias("o_day"),
        F.quarter("o_orderdate").alias("o_quarter"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("o_month_start"),
        F.lit(None).cast("int").alias("k_val"),
        F.lit(None).cast("int").alias("m_size"),
        F.lit(None).cast("string").alias("m_keys"),
    )
    m = F.from_json("props", "map<string,int>")
    jsons = ev.select(
        F.lit("json").alias("kind"),
        F.col("event_id").alias("id"),
        F.lit(None).cast("int").alias("o_year"),
        F.lit(None).cast("int").alias("o_month"),
        F.lit(None).cast("int").alias("o_day"),
        F.lit(None).cast("int").alias("o_quarter"),
        F.lit(None).cast("date").alias("o_month_start"),
        # element_at on the parsed MAP (not a JSON path) — the map
        # lookup surface; value equality with $.k is itself the check
        F.element_at(m, "k").alias("k_val"),
        F.size(m).alias("m_size"),
        F.concat_ws(",", F.array_sort(F.map_keys(m))).alias("m_keys"),
    )
    return dates.union(jsons)


def _jl_oracle_cols() -> str:
    """DuckDB mirror of the 4 JL sign projections: the SAME +-1
    literals `sign_project` inlines Spark-side (both generated from
    `jl_sign_matrix(64, 4)`), the same left-to-right LIST_SUM fold,
    the same floor fixed-point quantization."""
    from ..functions.vectors import jl_sign_matrix

    cols = []
    for j, row in enumerate(jl_sign_matrix(64, 4)):
        lits = ", ".join(f"{float(s):.1f}" for s in row)
        cols.append(
            f"CAST(FLOOR(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(embedding, [{lits}]), "
            f"x -> CAST(x[1] AS DOUBLE) * x[2])) * 1e4 + 0.5) AS DOUBLE) / 1e4 "
            f"AS proj{j}"
        )
    return ",\n               ".join(cols)


@register(
    "scalar_array_embeddings",
    oracle=f"""
        SELECT vec_id,
               CAST(LEN(embedding) AS INTEGER) AS dim,
               embedding[1] AS e0,
               ROUND(SQRT(LIST_SUM(LIST_TRANSFORM(embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm,
               CAST(LEN(LIST_FILTER(embedding, x -> x > 0)) AS INTEGER) AS n_pos,
               LEN(LIST_FILTER(embedding, x -> x > 0.25)) > 0 AS any_big,
               LEN(LIST_FILTER(embedding, x -> x <= -1.0)) = 0 AS all_gt_neg1,
               ROUND(CAST(LIST_MAX(embedding) AS DOUBLE), 4) AS vmax,
               ARRAY_TO_STRING(
                   LIST_TRANSFORM(LIST_SORT(embedding)[1:3],
                       x -> CAST(CAST(FLOOR(CAST(x AS DOUBLE) * 10000 + 0.5)
                                      AS BIGINT) AS VARCHAR)),
                   ',') AS smallest3,
               {_jl_oracle_cols()}
        FROM embeddings
    """,
)
def scalar_array_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-column surface (higher-order functions stay JVM-side — no
    Python in the loop for 100 TB of vectors).

    The three smallest components are emitted as one comma-joined
    STRING of integer-scaled values (``floor(x*1e4 + 0.5)``) rather
    than a raw ARRAY column: the external verifier canonicalizes via a
    pandas sort, which cannot sort array cells, and integer-scaled
    fixed-point via floor is bit-identical IEEE arithmetic in both
    engines (no round-half tie divergence).

    ``proj0..proj3`` are Johnson-Lindenstrauss sign-random projections
    (``functions.vectors.sign_project`` over ``jl_sign_matrix(64, 4)``)
    — the embedding compression / feature-hashing primitive of a
    training pipeline, as pure JVM HOFs with the +-1 literals inlined
    identically into the oracle; quantized with the same floor
    fixed-point."""
    e = _t(spark, sf_dir, "embeddings")
    sq_sum = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.element_at("embedding", 1).alias("e0"),
        F.round(F.sqrt(sq_sum), 4).alias("l2_norm"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_pos"),
        F.exists("embedding", lambda x: x > 0.25).alias("any_big"),
        F.forall("embedding", lambda x: x > -1.0).alias("all_gt_neg1"),
        F.round(F.array_max("embedding").cast("double"), 4).alias("vmax"),
        F.concat_ws(
            ",",
            F.transform(
                F.slice(F.array_sort("embedding"), 1, 3),
                lambda x: F.floor(x.cast("double") * 10000 + 0.5)
                .cast("bigint")
                .cast("string"),
            ),
        ).alias("smallest3"),
        *[
            (F.floor(p * 10000 + F.lit(0.5)).cast("double") / 10000).alias(f"proj{j}")
            for j, p in enumerate(
                sign_project("embedding", jl_sign_matrix(64, 4))
            )
        ],
    )
