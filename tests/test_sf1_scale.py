"""Scale-stress tests at sf1 (10x the bench SF) — every scale GUARD
observed actually firing under real volume, per the round-4 verdict's
top ask (the 100x design claims should be measured, not argued from
plans).

Opt-in: these run only when ``SPARK_GRAFT_SF1_DIR`` points at a
directory produced by ``tools/gen_sf1.py`` (10x key-offset copies of
sf0.1; see that script's docstring for why per-query work scales
LINEARLY under its construction). They are excluded from the default
suite so the correctness run stays fast:

    python tools/gen_sf1.py
    SPARK_GRAFT_SF1_DIR=$PWD/.localdata/sf1 \
        python -m pytest tests/test_sf1_scale.py -q

The observed results for round 5 are recorded in ROUND5_NOTES.md.
"""

import contextlib
import io
import os

import pytest
from pyspark.sql import functions as F

SF1 = os.environ.get("SPARK_GRAFT_SF1_DIR", "")

pytestmark = pytest.mark.skipif(
    not (SF1 and os.path.isdir(SF1)),
    reason="sf1 stress data not generated / SPARK_GRAFT_SF1_DIR unset",
)


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _t(spark, name):
    return spark.read.parquet(f"{SF1}/{name}.parquet")


def test_sf1_guarded_udaf_routes_hot_group_and_stays_exact(spark):
    """50k-doc corpus grouped by lang: the group-size guard must route
    the genuinely hot 'en' group (~41% of rows — the ONE skewed key in
    the testdata; this test is what caught the earlier returnflag
    choice whose claimed skew did not exist) through the codegen'd
    tier-a aggregate while the small langs run the pandas UDAF — and
    the merged output must equal the exact distinct counts. This is
    the guard that keeps one hot key from serializing millions of rows
    into a single Python worker."""
    from impala_hashset_count_spark.operators.hashset_count import (
        hashset_count_df_guarded,
    )
    from impala_hashset_count_spark.session import ship_package

    ship_package(spark)
    li = _t(spark, "documents")
    total = li.count()
    # 5,000 docs per sf0.1 copy: 50k at sf1, 500k at sf10 — the test is
    # scale-agnostic so the same suite re-runs at any gen_sf1.py SF
    assert total >= 50_000 and total % 5_000 == 0
    out = hashset_count_df_guarded(
        li, ["lang"], "text", max_group_rows=int(0.3 * total)
    )
    plan = _explain(out)
    # both routes present: exactly one Python aggregate NODE (Spark 4.1
    # plans pandas GROUPED_AGG as ArrowAggregatePython; formatted
    # explain prints each node once in the tree and once in the detail
    # section, so count detail headers) and one codegen'd
    # count(distinct) leg
    import re

    n_py = len(
        re.findall(
            r"^\(\d+\) (?:ArrowAggregatePython|AggregateInPandas)",
            plan,
            flags=re.M,
        )
    )
    assert n_py == 1
    assert "count(distinct" in plan or "count(DISTINCT" in plan
    got = {r.lang: r.hashset_count for r in out.collect()}
    want = {
        r.lang: str(r.d)
        for r in li.groupBy("lang")
        .agg(F.count_distinct("text").alias("d"))
        .collect()
    }
    assert got == want
    # the hot group really was over-threshold AND a small group really
    # was under it — both routes carried rows (the guard had work)
    sizes = dict(
        (r.lang, r.n)
        for r in li.groupBy("lang").agg(F.count("*").alias("n")).collect()
    )
    assert max(sizes.values()) > int(0.3 * total)
    assert min(sizes.values()) <= int(0.3 * total)


def test_sf1_minhash_bucket_cap_fires_on_boilerplate_cluster(spark):
    """50k-doc corpus: at least one LSH band bucket exceeds the cap
    (duplicate-text clusters share EVERY band), the guard drops those
    buckets before pairing, and candidate volume shrinks — the
    O(B^2) -> O(cap*B) worst-case bound observed, not argued."""
    from impala_hashset_count_spark.operators.dedup import (
        _lsh_band_rows,
        doc_shingle_arrays,
    )
    from impala_hashset_count_spark.session import ship_package

    ship_package(spark)
    d = _t(spark, "documents").select("doc_id", "text")
    docs = doc_shingle_arrays(d, "doc_id", "text", 3, hash_fn="xxhash64")
    band_rows = _lsh_band_rows(docs, "doc_id", 64, 32, "xxhash64")
    sizes = band_rows.groupBy("band_id", "band_hash").agg(
        F.count("*").alias("n")
    )
    biggest = sizes.agg(F.max("n")).first()[0]
    cap = 8
    assert biggest > cap, "expected a boilerplate cluster bucket > cap"
    over = sizes.filter(F.col("n") > cap).count()
    assert over > 0
    # candidate volume with the guard is strictly below without it
    def n_candidates(rows):
        a = rows.select(F.col("doc_id").alias("id_1"), "band_id", "band_hash")
        b = rows.select(F.col("doc_id").alias("id_2"), "band_id", "band_hash")
        return (
            a.join(b, ["band_id", "band_hash"])
            .filter(F.col("id_1") < F.col("id_2"))
            .select("id_1", "id_2")
            .distinct()
            .count()
        )

    small = sizes.filter(F.col("n") <= cap).drop("n")
    capped_rows = band_rows.join(small, ["band_id", "band_hash"])
    uncapped = n_candidates(band_rows)
    capped = n_candidates(capped_rows)
    assert capped < uncapped


def test_sf1_gap_fill_degrades_to_pinned_merge_join(spark):
    """1M events keyed by user_id (15k users x ~309 daily periods =
    a 4.6M-row spine, above the DEFAULT 4M broadcast budget): the
    auto-probe must PIN the sort-merge fill join (a broadcast of a
    multi-million-row spine is the OOM this guard exists for) — and
    the filled series still accounts for every event."""
    from impala_hashset_count_spark.operators.analytics import gap_fill
    from impala_hashset_count_spark.session import ship_package

    ship_package(spark)
    ev = _t(spark, "events").select(
        F.col("user_id").alias("k"),
        F.col("ts").cast("timestamp").alias("ts"),
    )
    out = gap_fill(
        ev, ts_col="ts", key_col="k", unit="day",
        broadcast_counts=None, max_broadcast_rows=4_000_000,
    )
    plan = _explain(out)
    assert "SortMergeJoin" in plan
    # the fill join is NOT broadcast (the spine/counts legs degrade)
    assert "BroadcastHashJoin" not in plan.split("SortMergeJoin")[0]
    total = out.agg(F.sum("n_events")).first()[0]
    assert total == ev.count()  # every event accounted, at any SF


def test_sf1_binned_join_wide_interval_leg_fires(spark):
    """1.5M intervals where ~1/1000 are pathologically wide: the wide
    remainder must route through the broadcast-NLJ leg (visible in the
    plan) and the result must equal the unguarded all-binned join —
    the guard changes the PLAN, never the answer."""
    from impala_hashset_count_spark.operators.range_join import (
        binned_range_join,
    )

    day = 86400
    orders = _t(spark, "orders").select(
        F.col("o_orderkey"),
        F.col("o_orderdate").cast("timestamp").cast("long").alias("s"),
    )
    intervals = orders.withColumn(
        "e",
        F.col("s")
        + F.when(F.col("o_orderkey") % 1000 == 0, F.lit(400 * day)).otherwise(
            F.lit(2 * day)
        ),
    )
    points = (
        _t(spark, "lineitem")
        .select(
            F.col("l_orderkey"),
            F.col("l_shipdate").cast("timestamp").cast("long").alias("p"),
        )
        .filter(F.col("l_orderkey") % 17 == 0)
    )
    guarded = binned_range_join(
        points, intervals, "p", "s", "e", bin_width=7 * day,
        max_bins_per_interval=16,
    )
    plan = _explain(guarded)
    assert "BroadcastNestedLoopJoin" in plan
    unguarded = binned_range_join(
        points, intervals, "p", "s", "e", bin_width=7 * day,
        max_bins_per_interval=None,
    )
    n_g, n_u = guarded.count(), unguarded.count()
    assert n_g == n_u and n_g > 0


def test_sf1_star_components_equal_min_label_at_volume(spark):
    """The two connected-components engines agree at 10x volume. The
    recursive-CTE DuckDB oracle goes OOM on the sf1 edge set (recorded
    in SF1_SWEEP_r05.json), so the star variant's exactness at scale
    is certified engine-internally: large-star/small-star (the
    O(log^2 n) 100 TB path) must produce the identical (id, rep)
    labeling as min-label propagation over the same real near-dup pair
    list derived from sf1 documents."""
    from impala_hashset_count_spark.operators.dedup import (
        minhash_lsh_pairs,
        near_dup_components,
        near_dup_components_star,
    )

    docs = _t(spark, "documents").select("doc_id", "text").limit(50000)
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=0.5, max_bucket_docs=200
    ).select("id_1", "id_2").persist()
    n_pairs = pairs.count()
    assert n_pairs > 0, "sf1 corpus must contain near-dup structure"

    a = sorted(map(tuple, near_dup_components(pairs).collect()))
    b = sorted(map(tuple, near_dup_components_star(pairs).collect()))
    assert a == b
    pairs.unpersist()


def test_sf1_stream_bitmap_maintenance_at_volume(spark, tmp_path):
    """The exact-distinct bitmap maintenance face at 10x volume
    (r5 verdict #7): sf1 events streamed as two real micro-batches
    fold into the stored word-state; the maintained count must equal
    the direct countDistinct over all 1M rows, and a fresh-checkpoint
    replay must reproduce it exactly — BIT_OR idempotence observed
    structural at volume, not just on the 400-row fixture."""
    from impala_hashset_count_spark.operators.bitmap_distinct import (
        bitmap_count,
    )
    from impala_hashset_count_spark.streaming.windows import (
        read_snapshot,
        stream_bitmap_distinct_maintenance,
    )

    ev = _t(spark, "events").select("event_id", "event_type", "user_id")
    src = str(tmp_path / "bm_src")
    for half in ("event_id % 2 = 0", "event_id % 2 = 1"):
        ev.filter(half).coalesce(4).write.mode("append").parquet(src)
    snap = str(tmp_path / "bm_snap")
    schema = "event_id bigint, event_type string, user_id bigint"

    def drain(ck):
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", "4"
        ).parquet(src)
        q = stream_bitmap_distinct_maintenance(
            stream, snap, ck, ["event_type"], "user_id"
        )
        q.processAllAvailable()
        q.stop()

    drain(str(tmp_path / "bm_ck1"))
    got = sorted(
        map(
            tuple,
            bitmap_count(read_snapshot(spark, snap), ["event_type"]).collect(),
        )
    )
    expect = sorted(
        map(
            tuple,
            ev.groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("distinct_count"))
            .collect(),
        )
    )
    assert got == expect
    # really at volume: the maintained state folded >= 1M input rows
    # (the distinct-user sum itself is only 75k — 25k offset users x 3
    # event types — so row count, not NDV, is the volume witness)
    assert ev.count() >= 1_000_000

    drain(str(tmp_path / "bm_ck2"))
    replay = sorted(
        map(
            tuple,
            bitmap_count(read_snapshot(spark, snap), ["event_type"]).collect(),
        )
    )
    assert replay == expect


def test_sf1_stream_span_dedup_at_volume(spark, tmp_path):
    """The streaming exact-substring span face at 10x volume
    (r5 verdict #7): sf1 documents streamed as two real micro-batches.
    Second-occurrence semantics make the ground truth sharp: a batch-2
    doc sees history (batch 1) + itself = the full corpus, so its
    streamed spans must equal the full batch recompute EXACTLY for
    those docs; batch-1 docs must equal the batch-1-only recompute.
    The maintained gram index must equal the direct gram count over
    everything."""
    from impala_hashset_count_spark.operators.substring_dedup import (
        duplicated_spans,
        gram_count_index,
    )
    from impala_hashset_count_spark.streaming.windows import stream_span_dedup

    docs = _t(spark, "documents").select("doc_id", "text")
    b1 = docs.filter("doc_id % 2 = 0")
    b2 = docs.filter("doc_id % 2 = 1")
    src = str(tmp_path / "sp_src")
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    spans_path = str(tmp_path / "sp_spans")
    index_path = str(tmp_path / "sp_idx")

    stream = spark.readStream.schema("doc_id bigint, text string").option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    q = stream_span_dedup(
        stream, spans_path, index_path, str(tmp_path / "sp_ck"),
        min_tokens=20,
    )
    q.processAllAvailable()
    q.stop()

    streamed = spark.read.parquet(spans_path + "/batch=*")
    full = duplicated_spans(docs, min_tokens=20)
    b1_only = duplicated_spans(b1, min_tokens=20)

    got_b2 = sorted(map(tuple, streamed.filter("doc_id % 2 = 1").collect()))
    exp_b2 = sorted(map(tuple, full.filter("doc_id % 2 = 1").collect()))
    assert got_b2 == exp_b2
    assert len(got_b2) > 0  # the sf1 corpus really has cross-half dups

    got_b1 = sorted(map(tuple, streamed.filter("doc_id % 2 = 0").collect()))
    exp_b1 = sorted(map(tuple, b1_only.collect()))
    assert got_b1 == exp_b1

    import os as _os

    vs = sorted(
        int(d.split("=")[1])
        for d in _os.listdir(index_path)
        if d.startswith("v=")
    )
    idx = spark.read.parquet(_os.path.join(index_path, f"v={vs[-1]}"))
    direct = gram_count_index(docs, min_tokens=20)
    assert idx.agg(F.sum("__n")).first()[0] == direct.agg(
        F.sum("__n")
    ).first()[0]
    assert idx.count() == direct.count()


def test_sf1_minhash_hot_shingle_guard_bounds_verification(spark):
    """The verification-stage document-frequency guard (r7 verdict #2)
    observed at adversarial volume: a corpus of 10k docs where ONE
    boilerplate 3-gram appears in EVERY document. Unguarded, that
    shingle alone contributes 10k^2/2 = 5e7 self-join rows before the
    partial aggregate (and at a 100 TB crawl, 5e11); with
    ``hot_shingle_docs`` the hot shingle routes through the
    candidate-driven probe, so the verification work is linear in the
    (tiny) candidate set. The output must be EXACTLY the planted
    twins — the guard is exact-preserving by construction."""
    import time

    from impala_hashset_count_spark.operators.dedup import minhash_lsh_pairs

    rows = []
    for i in range(10_000):
        body = " ".join(f"w{i}q{j}" for j in range(10))
        rows.append((i, f"copyright acme corporation {body}"))
    # 50 planted twins: doc i's text plus one trailing token
    planted = {(i, 100_000 + i) for i in range(0, 5000, 100)}
    for i, j in sorted(planted):
        body = " ".join(f"w{i}q{jj}" for jj in range(10))
        rows.append((j, f"copyright acme corporation {body} extra{i}"))
    d = spark.createDataFrame(rows, "doc_id long, text string").repartition(32)

    t0 = time.monotonic()
    got = {
        (r.id_1, r.id_2)
        for r in minhash_lsh_pairs(
            d, "doc_id", "text", threshold=0.5, hot_shingle_docs=256
        ).collect()
    }
    elapsed = time.monotonic() - t0
    assert got == planted
    # budget: linear-in-candidates verification finishes promptly even
    # with the planted ubiquitous shingle (generous bound for CI noise)
    assert elapsed < 300, f"hot-shingle corpus took {elapsed:.0f}s"
