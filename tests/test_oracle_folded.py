"""The volume-safe folded compare must be the SAME signal as the
exact driver-gate compare: green wherever exact compare is green, red
on any single-cell perturbation. These tests run both surfaces over
type-diverse registry entries at sf0.001 and then attack the fold with
planted divergences. (The folded path exists for the sf1+ sweeps,
where r5's collect+sort comparison hit spark.driver.maxResultSize and
51 GiB of driver RSS — SF1_SWEEP_r05.json.)"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from impala_hashset_count_spark.plans import all_queries

from .oracle_harness import (
    _canon_cell,
    _fold_spark,
    _make_canon,
    compare_fold_with_oracle,
    compare_query_folded,
    compare_query_tolerant,
)

# type-diverse slice of the registry: decimals+dates+json strings,
# float arrays, timestamps+percentile floats, NUL-adjacent strings,
# plain-SQL float sums, long/boolean tags
FOLD_ENTRIES = [
    "scalar_date_json",
    "scalar_array_embeddings",
    "percentile_stats_events",
    "hashset_count_tiers",
    "tpch_q1_pricing_summary",
    "setops_nation_keys",
]


@pytest.mark.parametrize("name", FOLD_ENTRIES)
def test_folded_matches_exact_gate(spark, sf_small, name):
    q = all_queries()[name]
    # the exact gate for these entries is already covered by
    # test_oracle.py; folded must agree with it end-to-end
    compare_query_folded(spark, sf_small, name, q.fn, q.oracle)


def test_folded_detects_single_cell_perturbation(spark, sf_small):
    q = all_queries()["setops_nation_keys"]

    def perturbed(s, d):
        df = q.fn(s, d)
        c = df.columns[-1]
        # flip exactly one cell in one row
        w = F.when(
            F.monotonically_increasing_id() == 0, F.lit(None)
        ).otherwise(F.col(c))
        return df.withColumn(c, w.cast(df.schema[c].dataType))

    with pytest.raises(AssertionError, match="value-hash|row count"):
        compare_query_folded(spark, sf_small, "setops", perturbed, q.oracle)


def test_folded_detects_row_count_drift(spark, sf_small):
    q = all_queries()["setops_nation_keys"]

    def dropped(s, d):
        return q.fn(s, d).limit(3)

    with pytest.raises(AssertionError, match="row count"):
        compare_query_folded(spark, sf_small, "setops", dropped, q.oracle)


def test_executor_canon_is_the_driver_canon():
    """The fold ships _make_canon()'s closure to executors by value;
    assert the factory product and the module-level _canon_cell agree
    cell-for-cell on the tricky grid (they are the same code object —
    this guards against someone reintroducing a second copy)."""
    c2 = _make_canon()
    grid = [
        None,
        float("nan"),
        0.1,
        -0.0,
        1e300,
        True,
        False,
        0,
        -7,
        "",
        "a\x00b",
        "naïve ",
        [1, [2.5, None], "x"],
        (1, 2),
        b"\xff\x00",
    ]
    for v in grid:
        assert _canon_cell(v) == c2(v)


def test_tolerant_compare_accepts_float_noise_rejects_real_drift(
    spark, sf_small
):
    q = all_queries()["tpch_q1_pricing_summary"]

    def noisy(rel):
        def fn(s, d):
            df = q.fn(s, d)
            out = []
            for c in df.schema.fields:
                if c.dataType.simpleString() == "double":
                    out.append(
                        (F.col(c.name) * (1.0 + rel)).alias(c.name)
                    )
                else:
                    out.append(F.col(c.name))
            return df.select(out)

        return fn

    # 1e-12 relative: the IEEE summation-order class — accepted
    compare_query_tolerant(
        spark, sf_small, "q1", noisy(1e-12), q.oracle, rel=1e-9
    )
    # 1e-4 relative: a real numeric defect — rejected
    with pytest.raises(AssertionError, match="float beyond"):
        compare_query_tolerant(
            spark, sf_small, "q1", noisy(1e-4), q.oracle, rel=1e-9
        )
    assert math.isclose(1.0, 1.0 + 1e-12, rel_tol=1e-9)


@pytest.fixture(scope="module")
def branch_split_folds(spark, sf_small):
    """The Spark-side fold of every entry the sf10 sweep routes through
    branch-split oracles, built and run once for both oracle forms the
    two tests below compare it with."""
    from tools.sf1_oracle_sweep import BRANCH_SPLIT

    return {
        name: _fold_spark(all_queries()[name].fn(spark, sf_small))
        for name in sorted(BRANCH_SPLIT)
    }


def test_branch_split_oracle_is_fold_identical(sf_small, branch_split_folds):
    """The sf10 sweep executes multi-branch oracles branch-at-a-time
    (tools/sf1_oracle_sweep._SequentialBranches) so DuckDB's peak is
    one branch's working set, not all of them at once. The fold is an
    order-insensitive modular sum, so the branch-split cursor must
    produce the exact signal of the single-cursor oracle — proven here
    by comparing the Spark fold with the folded oracle through the
    adapter on every entry the sweep routes this way (the 9-branch
    hygiene oracle and the 3-branch Jaccard oracle)."""
    from tools.sf1_oracle_sweep import _SequentialBranches

    for name, s_fold in branch_split_folds.items():
        q = all_queries()[name]
        compare_fold_with_oracle(
            sf_small,
            name,
            s_fold,
            q.oracle,
            oracle_fn=lambda con, _sql=q.oracle: _SequentialBranches(
                con, _sql
            ),
        )


def test_branch_split_prefix_export_is_fold_identical(
    sf_small, branch_split_folds, tmp_path
):
    """The sf10 sweep's prefix-export mode (r9): MATERIALIZED CTEs are
    COPY'd to parquet once and branches run over views of the exports
    plus the remaining CTE defs. Must produce the exact folded signal
    of the plain oracle on every branch-split entry — including the
    ones with NO materialized CTE (hashset_count_tiers), which must
    degrade to the r8 path."""
    import tests.oracle_harness as oh
    from tools.sf1_oracle_sweep import _SequentialBranches

    for name, s_fold in branch_split_folds.items():
        q = all_queries()[name]
        compare_fold_with_oracle(
            sf_small,
            name,
            s_fold,
            q.oracle,
            oracle_fn=lambda con, _sql=q.oracle, _n=name: _SequentialBranches(
                con, _sql,
                factory=lambda: oh.duckdb_connection(sf_small),
                export_dir=str(tmp_path / _n),
            ),
        )


def test_split_ctes_parser_round_trips_the_prefixes():
    """The CTE parser must reconstruct every branch-split oracle's
    prefix exactly: names in order, bodies that re-parse, MATERIALIZED
    flags matching the text."""
    from tools.sf1_oracle_sweep import BRANCH_SPLIT, _SequentialBranches

    for name in sorted(BRANCH_SPLIT):
        q = all_queries()[name]
        prefix, branches = _SequentialBranches._split(q.oracle)
        if "MATERIALIZED" not in prefix:
            continue
        head, ctes = _SequentialBranches._split_ctes(prefix)
        assert head.startswith("WITH")
        assert len(ctes) >= 2, name
        n_mat = sum(1 for _, _, m in ctes if m)
        assert n_mat == prefix.count("AS MATERIALIZED"), name
        # rebuilt text must be valid SQL: re-split it and get the
        # same structure
        rebuilt = head + " " + ",\n".join(
            _SequentialBranches._def_text(*c) for c in ctes
        ) + "\n"
        head2, ctes2 = _SequentialBranches._split_ctes(rebuilt)
        assert [(c[0], c[2]) for c in ctes2] == [(c[0], c[2]) for c in ctes]
