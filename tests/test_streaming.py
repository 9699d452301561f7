"""True Structured Streaming runs (readStream -> memory sink, drained
synchronously) asserted equal to the registry entries that run the same
faces on the static table, or to the batch twins kept beside them."""

import pytest
from pyspark.sql import functions as F

from impala_hashset_count_spark.plans import all_queries
from impala_hashset_count_spark.plans.streaming_batch import sessionize_batch
from impala_hashset_count_spark.sources.tables import load_table
from impala_hashset_count_spark.streaming.windows import (
    events_stream,
    run_to_memory,
    sessionize_stateful,
    stream_dedup_within_watermark,
    stream_interval_join,
    stream_session_windows,
    stream_sliding_counts,
    stream_tumbling_counts,
)

QUERIES = all_queries()


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _windows_slice(spark, sf_dir, kind):
    merged = QUERIES["streaming_windows_batch"].fn(spark, sf_dir)
    return merged.filter(F.col("kind") == kind)


def test_stream_tumbling_equals_batch(spark, sf_small):
    ev = events_stream(spark, sf_small)
    out = run_to_memory(stream_tumbling_counts(ev), "t_tumbling")
    batch = _windows_slice(spark, sf_small, "tumbling")
    cols = ["window_start", "event_type", "n_events", "distinct_users"]
    assert _rows(out, cols) == _rows(batch, cols)


def test_stream_sliding_equals_batch(spark, sf_small):
    ev = events_stream(spark, sf_small)
    out = run_to_memory(stream_sliding_counts(ev), "t_sliding")
    batch = _windows_slice(spark, sf_small, "sliding")
    cols = ["window_start", "n_events"]
    assert _rows(out, cols) == _rows(batch, cols)


def test_stream_session_windows_counts(spark, sf_small):
    """session_window sessions must agree with the gap-islands batch
    computation on session count per user."""
    ev = events_stream(spark, sf_small)
    out = run_to_memory(stream_session_windows(ev), "t_sessions")
    stream_counts = {
        r["user_id"]: r["n"]
        for r in out.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    batch = sessionize_batch(spark, sf_small)
    batch_counts = {r["user_id"]: r["n_sessions"] for r in batch.collect()}
    assert stream_counts == batch_counts


def test_session_gap_tie_is_one_session(spark, tmp_path):
    """An event exactly one gap (30 min) after the previous one extends
    the session: events at minutes 0, 30 and 70 are 2 sessions in the
    session_window face, the gap-islands twin and the stateful
    operator alike."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = dt.datetime(2024, 1, 1, 12, 0)
    ts = [t0 + dt.timedelta(minutes=m) for m in (0, 30, 70)]
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array([7, 7, 7], pa.int64()),
            "event_type": ["click"] * 3,
        }),
        tmp_path / "events.parquet",
    )
    sf_dir = str(tmp_path)

    face = stream_session_windows(load_table(spark, sf_dir, "events"))
    assert face.count() == 2
    twin = sessionize_batch(spark, sf_dir).collect()
    assert [(r.user_id, r.n_sessions) for r in twin] == [(7, 2)]
    out = run_to_memory(
        sessionize_stateful(events_stream(spark, sf_dir)), "t_session_tie", "update"
    )
    assert [(r.user_id, r.n_sessions) for r in out.collect()] == [(7, 2)]


def test_stream_dedup_within_watermark(spark, sf_small):
    ev = events_stream(spark, sf_small)
    out = run_to_memory(stream_dedup_within_watermark(ev), "t_dedup", "append")
    batch_n = (
        load_table(spark, sf_small, "events")
        .select("user_id", "event_type")
        .distinct()
        .count()
    )
    assert out.count() == batch_n
    assert out.select("user_id", "event_type").distinct().count() == batch_n


def test_stream_interval_join_equals_batch(spark, sf_small):
    # two independent readStream instances over the same source — the
    # stream-stream join requires distinct watermarked sides
    left = events_stream(spark, sf_small)
    right = events_stream(spark, sf_small)
    out = run_to_memory(
        stream_interval_join(left, right), "t_interval_join", "append"
    )
    batch = QUERIES["streaming_interval_join_batch"].fn(spark, sf_small)
    cols = ["user_id", "l_event", "r_event"]
    assert _rows(out, cols) == _rows(batch.filter("tag = 'pair'"), cols)
    # pair + lone partition the left side: every event is either in a
    # pair or lone, never both — together they ARE the left-outer
    # result the outer streaming face converges to
    paired = {r.l_event for r in batch.filter("tag = 'pair'").collect()}
    lone_rows = batch.filter("tag = 'lone'").collect()
    lone_ids = {r.l_event for r in lone_rows}
    assert paired.isdisjoint(lone_ids)
    assert all(r.r_event is None for r in lone_rows)
    from impala_hashset_count_spark.sources.tables import load_table

    all_ids = {r.event_id for r in load_table(spark, sf_small, "events").collect()}
    assert paired | lone_ids == all_ids
    # lone_r mirrors it on the right side: pair + lone + lone_r is the
    # FULL OUTER result (streaming face: stream_interval_join_full_outer)
    paired_r = {r.r_event for r in batch.filter("tag = 'pair'").collect()}
    lone_r_rows = batch.filter("tag = 'lone_r'").collect()
    lone_r_ids = {r.r_event for r in lone_r_rows}
    assert paired_r.isdisjoint(lone_r_ids)
    assert all(r.l_event is None for r in lone_r_rows)
    assert paired_r | lone_r_ids == all_ids


def test_stream_static_enrich_equals_batch(spark, sf_small):
    """Live readStream x static broadcast dimension: the stateless
    enrichment join must equal the registry entry's enrich branch (the
    same face on the static table) row-for-row, including NULL nation
    keys for events whose user has no customer row."""
    from impala_hashset_count_spark.sources.tables import load_table
    from impala_hashset_count_spark.streaming.windows import stream_static_enrich

    ev = events_stream(spark, sf_small)
    cust = load_table(spark, sf_small, "customer")
    out = run_to_memory(
        stream_static_enrich(ev, cust, "user_id", "c_custkey", ("c_nationkey",)),
        "t_static_enrich",
        "append",
    )
    got = sorted(
        (r.event_id, r.user_id, r.c_nationkey)
        for r in out.select("event_id", "user_id", "c_nationkey").collect()
    )
    batch = QUERIES["streaming_interval_join_batch"].fn(spark, sf_small)
    expect = sorted(
        (r.l_event, r.user_id, r.r_event)
        for r in batch.filter("tag = 'enrich'").collect()
    )
    assert got == expect
    # left-outer semantics: every event appears exactly once
    ev_count = load_table(spark, sf_small, "events").count()
    assert len(got) == ev_count


def test_stateful_sessionization_matches_islands(spark, sf_small):
    ev = events_stream(spark, sf_small)
    out = run_to_memory(sessionize_stateful(ev), "t_stateful", "update")
    # update-mode memory sink may hold multiple rows per key; keep last
    got = {r["user_id"]: r["n_sessions"] for r in out.collect()}
    batch = sessionize_batch(spark, sf_small)
    expect = {r["user_id"]: r["n_sessions"] for r in batch.collect()}
    assert got == expect


def test_hashset_count_stateful_matches_batch(spark, sf_small):
    """The reference UDA's streaming face: after draining the stream,
    the last emitted snapshot per key must equal the batch
    count_distinct, with faithful string-typed output."""
    from impala_hashset_count_spark.streaming.windows import hashset_count_stateful

    ev = events_stream(spark, sf_small)
    out = run_to_memory(hashset_count_stateful(ev), "t_hashset_state", "update")
    # update-mode memory sink: the final snapshot per key is the max
    # (counts are monotone non-decreasing across micro-batches)
    got = {
        r["event_type"]: r["m"]
        for r in out.groupBy("event_type")
        .agg(F.max(F.col("hashset_count").cast("int")).alias("m"))
        .collect()
    }
    from impala_hashset_count_spark.plans.streaming_batch import distinct_batch

    batch = distinct_batch(spark, sf_small)
    expect = {r["event_type"]: int(r["hashset_count"]) for r in batch.collect()}
    assert got == expect


def test_hashset_count_stateful_across_microbatches(spark, tmp_path):
    """Two REAL micro-batches: the set state must persist across the
    batch boundary and merge (the streaming analogue of the reference's
    serialize -> merge hop, /root/reference/hashset-count.cc:195-461):
    batch 1 {u1,u2}, batch 2 {u2,u3} -> 3 distinct, not 2."""
    from impala_hashset_count_spark.streaming.windows import hashset_count_stateful

    src = str(tmp_path / "mb_src")
    schema = "event_id bigint, event_type string, user_id bigint"

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    write_batch([(1, "a", 101), (2, "a", 102)])
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    q = (
        hashset_count_stateful(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("t_hashset_mb")
        .start()
    )
    try:
        q.processAllAvailable()
        write_batch([(3, "a", 102), (4, "a", 103)])
        q.processAllAvailable()
        snaps = [
            r["hashset_count"]
            for r in spark.table("t_hashset_mb").collect()
        ]
    finally:
        q.stop()
    # update-mode sink keeps one snapshot per batch; the last is the
    # merged state ("3"), and an intermediate "2" proves two batches ran
    assert "3" in snaps and "2" in snaps


def test_approx_distinct_stateful_error_bound(spark, sf_small):
    """The bounded-state HLL tier must land within 5% of the exact
    per-key distinct count (p=12 -> 1.6% expected rsd) after draining
    the events stream."""
    from impala_hashset_count_spark.streaming.windows import approx_distinct_stateful

    ev = events_stream(spark, sf_small)
    out = run_to_memory(approx_distinct_stateful(ev), "t_approx_state", "update")
    got = {
        r["event_type"]: r["m"]
        for r in out.groupBy("event_type")
        .agg(F.max("approx_distinct").alias("m"))
        .collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in load_table(spark, sf_small, "events")
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for k, n in exact.items():
        assert abs(got[k] - n) <= max(0.05 * n, 2), (k, got[k], n)


def test_sessionize_stateful_across_microbatches(spark, tmp_path):
    """Two real micro-batches through the custom sessionizer: an event
    in batch 2 within the gap of batch 1's last event must NOT open a
    new session, one beyond the gap must. (Guards the GroupState.get
    property access, which only runs when state pre-exists.)"""
    import datetime as dt

    from impala_hashset_count_spark.streaming.windows import sessionize_stateful

    src = str(tmp_path / "sess_src")
    schema = "user_id bigint, ts timestamp"
    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)  # noqa: E731

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    write_batch([(1, t(1, 0)), (1, t(1, 10))])  # one session so far
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    q = (
        sessionize_stateful(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("t_sess_mb")
        .start()
    )
    try:
        q.processAllAvailable()
        # 01:20 continues the session (gap 10 min < 30); 03:00 opens #2
        write_batch([(1, t(1, 20)), (1, t(3, 0))])
        q.processAllAvailable()
        snaps = [r["n_sessions"] for r in spark.table("t_sess_mb").collect()]
    finally:
        q.stop()
    assert snaps[-1] == 2 and snaps[0] == 1


def test_hashset_count_stateful_null_semantics(spark, tmp_path):
    """All-NULL key -> SQL NULL (not '0'), matching SURVEY.md §8 and
    the reference's empty-set Finalize
    (/root/reference/hashset-count.cc:507-510)."""
    from impala_hashset_count_spark.streaming.windows import hashset_count_stateful

    src = str(tmp_path / "null_src")
    spark.createDataFrame(
        [(1, "a", 10), (2, "a", None), (3, "b", None), (4, "b", None)],
        "event_id bigint, event_type string, user_id bigint",
    ).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(
        "event_id bigint, event_type string, user_id bigint"
    ).parquet(src)
    out = run_to_memory(hashset_count_stateful(stream), "t_hashset_null", "update")
    got = {r["event_type"]: r["hashset_count"] for r in out.collect()}
    assert got == {"a": "1", "b": None}


def test_watermark_drops_late_data_across_microbatches(spark, tmp_path):
    """Two REAL micro-batches through the file source: an event arriving
    in batch 2 but older than the watermark established by batch 1 must
    be dropped from the append-mode windowed aggregate — the bounded-
    state guarantee the streaming operators rely on."""
    import datetime as dt

    src = str(tmp_path / "late_src")

    def write_batch(rows):
        spark.createDataFrame(rows, "event_id bigint, ts timestamp").coalesce(
            1
        ).write.mode("append").parquet(src)

    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    # batch 1: two events in the 01:00 window; 03:00 pushes the
    # watermark to 02:30 (> window end 02:00) at batch commit
    write_batch([(1, t(1, 10)), (2, t(1, 20)), (3, t(3, 0))])

    stream = (
        spark.readStream.schema("event_id bigint, ts timestamp")
        .parquet(src)
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.count("*").alias("n"))
        .select(F.date_format("win.start", "HH:mm").alias("w"), "n")
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_late")
        .start()
    )
    try:
        q.processAllAvailable()  # batch 1: builds state, sets watermark
        # batch 2: 01:15 is BEHIND the 02:30 watermark -> dropped;
        # 05:00 advances the watermark so the 01:00 window finalizes
        write_batch([(4, t(1, 15)), (5, t(5, 0))])
        q.processAllAvailable()
        out = {r["w"]: r["n"] for r in spark.table("t_late").collect()}
    finally:
        q.stop()
    assert out.get("01:00") == 2, f"late event must not count: {out}"


def test_multimodal_plumbing_batch_shape(spark, sf_small):
    from impala_hashset_count_spark.operators.multimodal import (
        attach_binary_payload,
        fake_decode,
        frame_sample_hashes,
    )

    d = load_table(spark, sf_small, "documents")
    payloads = attach_binary_payload(d, "doc_id", "text")
    frames = frame_sample_hashes(payloads, n_frames=4)
    n_docs = d.count()
    assert frames.count() == 4 * n_docs
    assert frames.select("doc_id").distinct().count() == n_docs
    # deterministic stub: same payload -> same metadata
    assert fake_decode(b"x" * 100) == fake_decode(b"y" * 100)


def test_decode_image_gated(spark):
    from impala_hashset_count_spark.operators.multimodal import decode_image

    try:
        import PIL  # noqa: F401

        pytest.skip("PIL present; stub gate not applicable")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError):
        decode_image(b"not-an-image")


def test_stream_interval_join_left_outer_evicts_and_null_pads(spark, tmp_path):
    """Two REAL micro-batches: a left event with a right match within
    the 10-minute interval emits joined; a left event with NO match
    emits null-padded — but only after the GLOBAL watermark (min of
    both sides) passes l_ts + 10 minutes and evicts its join state."""
    import datetime as dt

    from impala_hashset_count_spark.streaming.windows import (
        stream_interval_join_left_outer,
    )

    lsrc = str(tmp_path / "lo_left")
    rsrc = str(tmp_path / "lo_right")
    schema = "event_id bigint, user_id bigint, ts timestamp"

    def write(path, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(path)

    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    # batch 1: user 1 has a follow-up within 10 min; user 2 has none.
    write(lsrc, [(10, 1, t(1, 0)), (20, 2, t(1, 0))])
    write(rsrc, [(11, 1, t(1, 5))])

    joined = stream_interval_join_left_outer(
        spark.readStream.schema(schema).parquet(lsrc),
        spark.readStream.schema(schema).parquet(rsrc),
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_lo_join")
        .start()
    )
    try:
        q.processAllAvailable()
        early = {
            (r.user_id, r.l_event, r.r_event)
            for r in spark.table("t_lo_join").collect()
        }
        # the unmatched left row must NOT have emitted yet — the
        # watermark hasn't passed l_ts + 10 min, so user 2 might still
        # get a match.
        assert (2, 20, None) not in early
        # batch 2: both sides advance to 05:00 -> global watermark
        # 04:00 > 01:10 evicts user 2's state, emitting the null pad.
        write(lsrc, [(90, 9, t(5, 0))])
        write(rsrc, [(91, 9, t(5, 0))])
        q.processAllAvailable()
        out = {
            (r.user_id, r.l_event, r.r_event)
            for r in spark.table("t_lo_join").collect()
        }
    finally:
        q.stop()
    assert (1, 10, 11) in out, f"matched pair missing: {out}"
    assert (2, 20, None) in out, f"unmatched row not null-padded: {out}"


def test_stream_interval_join_full_outer_pads_both_sides(spark, tmp_path):
    """Full-outer face: unmatched LEFT rows null-pad r_event and
    unmatched RIGHT rows null-pad l_event (with user_id recovered from
    the right side), each only after the global watermark evicts their
    state."""
    import datetime as dt

    from impala_hashset_count_spark.streaming.windows import (
        stream_interval_join_full_outer,
    )

    lsrc = str(tmp_path / "fo_left")
    rsrc = str(tmp_path / "fo_right")
    schema = "event_id bigint, user_id bigint, ts timestamp"

    def write(path, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(path)

    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    # user 1: matched pair; user 2: left-only; user 3: right-only
    write(lsrc, [(10, 1, t(1, 0)), (20, 2, t(1, 0))])
    write(rsrc, [(11, 1, t(1, 5)), (31, 3, t(1, 5))])

    joined = stream_interval_join_full_outer(
        spark.readStream.schema(schema).parquet(lsrc),
        spark.readStream.schema(schema).parquet(rsrc),
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_fo_join")
        .start()
    )
    try:
        q.processAllAvailable()
        write(lsrc, [(90, 9, t(5, 0))])
        write(rsrc, [(91, 9, t(5, 0))])
        q.processAllAvailable()
        out = {
            (r.user_id, r.l_event, r.r_event)
            for r in spark.table("t_fo_join").collect()
        }
    finally:
        q.stop()
    assert (1, 10, 11) in out, out
    assert (2, 20, None) in out, out
    assert (3, None, 31) in out, out


def test_available_now_trigger_drains_and_terminates(spark, sf_small, tmp_path):
    """Trigger.AvailableNow — the production batch-drain mode (process
    everything currently in the source in rate-limited micro-batches,
    then STOP; unlike processAllAvailable it terminates on its own and
    records a final checkpoint for the next incremental run). The
    drained windowed aggregation must equal the registry entry's
    tumbling slice."""
    ev = events_stream(spark, sf_small)
    agg = stream_tumbling_counts(ev)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("t_available_now")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    assert q.awaitTermination(120), "availableNow query did not self-terminate"
    got = {
        (r.window_start, r.event_type): r.n_events
        for r in spark.table("t_available_now").collect()
    }
    expect = {
        (r.window_start, r.event_type): r.n_events
        for r in _windows_slice(spark, sf_small, "tumbling").collect()
    }
    assert got == expect


def test_checkpoint_resume_processes_only_new_files(spark, sf_small, tmp_path):
    """Cross-RUN incremental ingestion: drain run 1 over file A with
    Trigger.AvailableNow + a checkpoint; land file B; a FRESH query on
    the same checkpoint must process ONLY B (source offsets are
    durable), and the union of both runs' outputs is exactly the full
    table, no duplicates."""
    import os

    ev = load_table(spark, sf_small, "events").select("event_id", "user_id")
    a = ev.where("event_id % 2 = 0")
    b = ev.where("event_id % 2 = 1")
    src = str(tmp_path / "src")
    a.coalesce(1).write.mode("overwrite").parquet(src)

    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain(run_id):
        stream = spark.readStream.schema("event_id bigint, user_id bigint").parquet(src)

        def write_batch(bdf, batch_id):
            bdf.write.mode("overwrite").parquet(
                os.path.join(out_dir, f"run{run_id}_batch{batch_id}")
            )

        q = (
            stream.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    drain(1)
    run1 = {r.event_id for r in spark.read.parquet(f"{out_dir}/run1_*").collect()}
    assert run1 == {r.event_id for r in a.collect()}

    # land file B next to A (new file in the watched directory)
    b.coalesce(1).write.mode("append").parquet(src)
    drain(2)
    run2 = {r.event_id for r in spark.read.parquet(f"{out_dir}/run2_*").collect()}
    # run 2 saw ONLY the new file's rows
    assert run2 == {r.event_id for r in b.collect()}
    assert run1.isdisjoint(run2)
    assert run1 | run2 == {r.event_id for r in ev.collect()}


def test_tws_processor_logic_two_batches_and_null_key():
    """The transformWithState processor's state logic, driven directly
    against in-memory fake state handles (the live micro-batch path is
    protobuf-gated below): MapState membership + ValueState count must
    merge across two batches ({101,102} then {102,103} -> "3"), and a
    key whose rows are all NULL must emit SQL NULL, not "0"."""
    import pandas as pd

    from impala_hashset_count_spark.streaming.tws import HashsetCountProcessor

    class FakeValueState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    class FakeMapState:
        def __init__(self):
            self._m = {}

        def containsKey(self, k):
            return k in self._m

        def updateValue(self, k, v):
            self._m[k] = v

    class FakeHandle:
        def __init__(self):
            self.states = {}

        def getMapState(self, name, *a, **kw):
            return self.states.setdefault(name, FakeMapState())

        def getValueState(self, name, *a, **kw):
            return self.states.setdefault(name, FakeValueState())

    proc = HashsetCountProcessor()
    handle = FakeHandle()
    proc.init(handle)

    def run(key, user_ids, proc_=None):
        # user_id reaches the processor as STRING (cast JVM-side by
        # hashset_count_tws) — object dtype here mirrors that
        batch = pd.DataFrame({"user_id": pd.Series(user_ids, dtype="object")})
        (out,) = list((proc_ or proc).handleInputRows((key,), iter([batch]), None))
        return out["hashset_count"][0]

    assert run("a", ["101", "102", "101"]) == "2"
    assert run("a", ["102", "103"]) == "3"  # state persisted and merged

    proc2 = HashsetCountProcessor()
    proc2.init(FakeHandle())
    assert run("nulls", [None, None], proc_=proc2) is None

    # ids above 2^53 must stay byte-exact (string transport is the
    # guard against pandas' NULL->float64 coercion of bigint columns)
    proc3 = HashsetCountProcessor()
    proc3.init(FakeHandle())
    big1, big2 = str(2**53 + 1), str(2**53)
    assert run("big", [big1, big2, None], proc_=proc3) == "2"


def test_hashset_count_tws_across_microbatches(spark, tmp_path):
    """The transformWithState face of the reference aggregate: MapState
    membership + ValueState count must persist across two REAL
    micro-batches (batch 1 {101,102}, batch 2 {102,103} -> "3" not
    "2"), with NULL-on-empty semantics for a key whose rows were all
    NULL."""
    import pytest

    from impala_hashset_count_spark.streaming.tws import (
        HAS_PROTOBUF,
        hashset_count_tws,
        rocksdb_conf,
    )

    if not HAS_PROTOBUF:
        pytest.skip(
            "transformWithState state protocol requires protobuf, not "
            "shipped in this container; processor logic is covered by "
            "test_tws_processor_logic_two_batches_and_null_key"
        )

    k, v = rocksdb_conf()
    prev = spark.conf.get(k, None)
    spark.conf.set(k, v)
    src = str(tmp_path / "tws_src")
    schema = "event_id bigint, event_type string, user_id bigint"

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    write_batch([(1, "a", 101), (2, "a", 102), (3, "nulls", None)])
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    q = (
        hashset_count_tws(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("t_tws_mb")
        .option("checkpointLocation", str(tmp_path / "tws_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        write_batch([(4, "a", 102), (5, "a", 103), (6, "nulls", None)])
        q.processAllAvailable()
        rows = spark.table("t_tws_mb").collect()
    finally:
        q.stop()
        if prev is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, prev)
    snaps = [r["hashset_count"] for r in rows if r["event_type"] == "a"]
    assert "3" in snaps and "2" in snaps
    null_snaps = [r["hashset_count"] for r in rows if r["event_type"] == "nulls"]
    assert null_snaps and all(s is None for s in null_snaps)


def test_stream_top_users_sketch_matches_batch_exact(spark, sf_small):
    """Streaming frequent-items sketch (bounded state) must equal the
    exact batch top-k while the per-group distinct users fit the
    sketch."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from impala_hashset_count_spark.sources.tables import load_table
    from impala_hashset_count_spark.streaming.windows import (
        events_stream,
        run_to_memory,
        stream_top_users_sketch,
    )

    ev = events_stream(spark, sf_small)
    live = run_to_memory(
        stream_top_users_sketch(ev, k=3), "top_users_sk", output_mode="complete"
    )
    got = sorted(map(tuple, live.collect()))

    batch = load_table(spark, sf_small, "events")
    counts = (
        batch.groupBy("event_type", F.col("user_id").cast("string").alias("user_id"))
        .count()
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("count").desc(), F.col("user_id")
    )
    expect = sorted(
        map(
            tuple,
            counts.withColumn("rnk", F.row_number().over(w))
            .filter("rnk <= 3")
            .select(
                "event_type",
                F.col("rnk").cast("int"),
                "user_id",
                F.col("count").cast("long").alias("n_events"),
            )
            .collect(),
        )
    )
    assert got == expect
    assert len(got) > 0


def test_stream_cdc_upsert_maintains_snapshot_across_runs(spark, tmp_path):
    """Live foreachBatch MERGE (`streaming/windows.stream_cdc_upsert`):
    two CDC files drained in separate runs on one checkpoint; each run
    folds only its new changes into the snapshot, and the final
    snapshot equals the batch-side apply_changes of both batches in
    order (including an intra-batch multi-change key collapsed by
    seq)."""
    import os

    from impala_hashset_count_spark.operators.merge import (
        apply_changes,
        latest_changes,
    )
    from impala_hashset_count_spark.streaming.windows import (
        read_snapshot,
        stream_cdc_upsert,
    )

    schema = "id bigint, name string, score double, op string, seq bigint"
    b1 = spark.createDataFrame(
        [
            (1, "a0", 1.0, "U", 1),
            (2, "b0", 2.0, "U", 2),
            (2, "b1", 2.5, "U", 3),  # multi-change key within one batch
            (3, "c0", 3.0, "U", 4),
        ],
        schema,
    )
    b2 = spark.createDataFrame(
        [(2, None, None, "D", 10), (3, "c1", 3.5, "U", 11), (4, "d0", 4.0, "U", 12)],
        schema,
    )
    src = str(tmp_path / "cdc_src")
    snap = str(tmp_path / "snapshot")
    ckpt = str(tmp_path / "cdc_ckpt")
    b1.coalesce(1).write.mode("overwrite").parquet(src)

    def drain():
        stream = spark.readStream.schema(schema).parquet(src)
        q = stream_cdc_upsert(
            stream, snap, ckpt, ["id"], "seq"
        )
        # availableNow is set by the caller pattern elsewhere; here the
        # default trigger + processAllAvailable drains synchronously.
        q.processAllAvailable()
        q.stop()

    drain()
    s1 = sorted(map(tuple, read_snapshot(spark, snap).collect()))
    assert s1 == [(1, "a0", 1.0), (2, "b1", 2.5), (3, "c0", 3.0)]

    b2.coalesce(1).write.mode("append").parquet(src)
    drain()
    got = sorted(map(tuple, read_snapshot(spark, snap).collect()))

    empty = spark.createDataFrame([], "id bigint, name string, score double")
    expect_df = apply_changes(
        apply_changes(empty, latest_changes(b1, ["id"], "seq"), ["id"]),
        latest_changes(b2, ["id"], "seq"),
        ["id"],
    )
    assert got == sorted(map(tuple, expect_df.collect()))
    assert got == [(1, "a0", 1.0), (3, "c1", 3.5), (4, "d0", 4.0)]

    # two version directories exist; replaying (fresh checkpoint, same
    # files) rebuilds byte-equivalent snapshot content
    versions = sorted(os.listdir(snap))
    assert len([v for v in versions if v.startswith("v=")]) == 2
    snap2 = str(tmp_path / "snapshot2")
    ckpt2 = str(tmp_path / "cdc_ckpt2")
    stream = spark.readStream.schema(schema).parquet(src)
    q = stream_cdc_upsert(stream, snap2, ckpt2, ["id"], "seq")
    q.processAllAvailable()
    q.stop()
    replay = sorted(map(tuple, read_snapshot(spark, snap2).collect()))
    assert replay == got


def test_stream_quantiles_sketch_two_batches_equals_batch_sketch(spark, tmp_path):
    """Streaming bottom-k quantiles (bounded state): after two REAL
    micro-batches, the final per-key estimates equal the batch sketch
    over the union of both batches — micro-batching cannot change a
    min-wise sample."""
    from impala_hashset_count_spark.operators.quantiles import (
        bottomk_sample,
        quantiles_disc,
    )
    from impala_hashset_count_spark.streaming.windows import (
        stream_quantiles_sketch,
    )

    schema = "event_id bigint, event_type string, value double"
    src = str(tmp_path / "q_src")
    b1 = [(i, "a" if i % 3 else "b", float(i * 7 % 23)) for i in range(0, 60)]
    b2 = [(i, "a" if i % 3 else "b", float(i * 5 % 19)) for i in range(60, 120)]

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    write_batch(b1)
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    q = (
        stream_quantiles_sketch(stream, k=16)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("t_quant_sk")
        .start()
    )
    try:
        q.processAllAvailable()
        write_batch(b2)
        q.processAllAvailable()
        # update-mode memory sink: the LAST snapshot per key is current
        rows = spark.table("t_quant_sk").collect()
    finally:
        q.stop()
    live = {}
    for r in rows:  # later rows overwrite: memory sink appends updates
        live[r.event_type] = (r.n_sample, r.q25, r.q50, r.q75)

    full = spark.createDataFrame(b1 + b2, schema)
    sample = bottomk_sample(full, ["event_type"], "event_id", 16)
    expect = {
        r.event_type: (r.n_sample, r.q25, r.q50, r.q75)
        for r in quantiles_disc(
            sample, ["event_type"], "value", {"q25": 0.25, "q50": 0.5, "q75": 0.75}
        ).collect()
    }
    assert live == expect
    assert all(n == 16 for n, *_ in live.values())


def test_snapshot_time_travel_and_vacuum(spark, tmp_path):
    """Versioned-snapshot lifecycle: time-travel reads see the state as
    of a batch id; vacuum keeps the newest versions and the latest
    read is unaffected."""
    import os

    import pytest as _pytest

    from impala_hashset_count_spark.streaming.windows import (
        read_snapshot,
        snapshot_versions,
        stream_cdc_upsert,
        vacuum_snapshots,
    )

    schema = "id bigint, name string, score double, op string, seq bigint"
    src = str(tmp_path / "tt_src")
    snap = str(tmp_path / "tt_snap")
    ckpt = str(tmp_path / "tt_ckpt")
    batches = [
        [(1, "a0", 1.0, "U", 1)],
        [(2, "b0", 2.0, "U", 2)],
        [(1, None, None, "D", 3), (3, "c0", 3.0, "U", 4)],
    ]
    stream = None
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    q = stream_cdc_upsert(stream, snap, ckpt, ["id"], "seq")
    q.processAllAvailable()
    q.stop()

    assert snapshot_versions(snap) == [0, 1, 2]
    assert sorted(map(tuple, read_snapshot(spark, snap, version=0).collect())) == [
        (1, "a0", 1.0)
    ]
    assert sorted(map(tuple, read_snapshot(spark, snap, version=1).collect())) == [
        (1, "a0", 1.0),
        (2, "b0", 2.0),
    ]
    latest = sorted(map(tuple, read_snapshot(spark, snap).collect()))
    assert latest == [(2, "b0", 2.0), (3, "c0", 3.0)]

    dropped = vacuum_snapshots(snap, keep_last=1)
    assert dropped == [0, 1]
    assert snapshot_versions(snap) == [2]
    assert sorted(map(tuple, read_snapshot(spark, snap).collect())) == latest
    with _pytest.raises(FileNotFoundError):
        read_snapshot(spark, snap, version=1)
    with _pytest.raises(ValueError):
        vacuum_snapshots(snap, keep_last=0)
    assert not os.path.exists(os.path.join(snap, "v=0"))


def test_stream_bloom_dedup_gates_ingestion_and_replays_safely(spark, tmp_path):
    """LIVE bloom-gated ingestion: batch 2's duplicates of batch-1 keys
    are dropped by the MAINTAINED filter; genuinely-new keys survive;
    within-batch dups dedup; and a fresh-checkpoint replay re-derives
    the same admitted set (versions rebuilt from strictly-older
    predecessors, never from their own bits)."""
    from impala_hashset_count_spark.streaming.windows import stream_bloom_dedup

    schema = "key string, payload bigint"
    b1 = [("a", 1), ("b", 2), ("b", 3)]            # in-batch dup 'b'
    b2 = [("a", 9), ("c", 4), ("d", 5)]            # 'a' already admitted
    src = str(tmp_path / "bl_src")
    out = str(tmp_path / "bl_out")
    snap = str(tmp_path / "bl_snap")
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)

    def drain(ck):
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(src)
        q = stream_bloom_dedup(stream, out, snap, ck, "key", n_bits=1024,
                               hash_fn="md5")
        q.processAllAvailable()
        q.stop()

    drain(str(tmp_path / "bl_ck1"))
    admitted = sorted(r.key for r in spark.read.parquet(out + "/b=*").collect())
    assert admitted == ["a", "b", "c", "d"]

    # replay: same files, fresh checkpoint, same out/snapshot dirs
    drain(str(tmp_path / "bl_ck2"))
    replay = sorted(r.key for r in spark.read.parquet(out + "/b=*").collect())
    assert replay == ["a", "b", "c", "d"]


def test_stream_bloom_dedup_order_col_keeps_deterministic_payload(
    spark, tmp_path
):
    """With ``order_col``, a duplicated key admits the LOWEST-ordered
    payload row (exact_dedup contract), byte-identically across a
    fresh-checkpoint replay — not whichever row dropDuplicates happened
    to keep."""
    from impala_hashset_count_spark.streaming.windows import stream_bloom_dedup

    schema = "key string, payload bigint"
    b1 = [("b", 3), ("a", 1), ("b", 2), ("b", 7)]
    src = str(tmp_path / "blo_src")
    out = str(tmp_path / "blo_out")
    snap = str(tmp_path / "blo_snap")
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)

    def drain(ck):
        stream = spark.readStream.schema(schema).parquet(src)
        q = stream_bloom_dedup(stream, out, snap, ck, "key", n_bits=1024,
                               hash_fn="md5", order_col="payload")
        q.processAllAvailable()
        q.stop()

    drain(str(tmp_path / "blo_ck1"))
    first = sorted(map(tuple, spark.read.parquet(out + "/b=*")
                       .select("key", "payload").collect()))
    assert first == [("a", 1), ("b", 2)]
    drain(str(tmp_path / "blo_ck2"))
    replay = sorted(map(tuple, spark.read.parquet(out + "/b=*")
                        .select("key", "payload").collect()))
    assert replay == first


def test_snapshot_changes_recovers_net_log_between_versions(spark, tmp_path):
    """Change feed between CDC snapshot versions: applying the
    recovered diff to the older version rebuilds the newer one, and
    churn WITHIN the interval collapses (insert-then-update shows as
    one insert of the final value)."""
    from impala_hashset_count_spark.operators.merge import apply_changes
    from impala_hashset_count_spark.streaming.windows import (
        read_snapshot,
        snapshot_changes,
        snapshot_versions,
        stream_cdc_upsert,
    )

    schema = "seq bigint, k bigint, v string, op string"
    b1 = [(1, 1, "a", "I"), (2, 2, "b", "I")]
    b2 = [(3, 2, "b2", "U"), (4, 3, "c", "I"), (5, 3, "c2", "U"), (6, 1, None, "D")]
    src = str(tmp_path / "sc_src")
    snap = str(tmp_path / "sc_snap")
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    q = stream_cdc_upsert(stream, snap, str(tmp_path / "sc_ck"), ["k"], "seq")
    q.processAllAvailable()
    q.stop()

    v0, v1 = snapshot_versions(snap)[0], snapshot_versions(snap)[-1]
    feed = snapshot_changes(spark, snap, v0, v1, ["k"])
    rebuilt = apply_changes(read_snapshot(spark, snap, v0), feed, ["k"])
    assert sorted(map(tuple, rebuilt.collect())) == sorted(
        map(tuple, read_snapshot(spark, snap, v1).collect())
    )
    ops = {r.k: (r.op, r.v) for r in feed.collect()}
    # k=3 was inserted AND updated within the interval: nets to one
    # insert of the final value; k=1 deleted; k=2 updated
    assert ops[3] == ("I", "c2") and ops[1][0] == "D" and ops[2] == ("U", "b2")


def test_top_users_sketch_saturation_emits_sentinel_not_silence(spark):
    """Spark's approx_top_k_estimate returns an EMPTY array once a
    group's distinct items exceed maxItemsTracked (observed on 4.1;
    caught by the sf1 sweep when the 10x user space saturated the
    bench-sized capacity). The operator must surface that as a sentinel
    row (rnk=0, NULL user), never as silently-zero rows — and leave
    unsaturated groups' output untouched."""
    from impala_hashset_count_spark.streaming.windows import (
        stream_top_users_sketch,
    )

    rows = (
        # 'hot': 5000 distinct users > max_items=100 -> saturated
        [("hot", i) for i in range(5000)]
        # 'cold': 10 distinct users, user 3 most active -> exact
        + [("cold", i % 10) for i in range(40)]
        + [("cold", 3)] * 5
    )
    ev = spark.createDataFrame(rows, "event_type string, user_id long")
    got = stream_top_users_sketch(ev, k=3, max_items=100).collect()
    by_type = {}
    for r in got:
        by_type.setdefault(r.event_type, []).append(r)
    assert len(by_type["hot"]) == 1
    s = by_type["hot"][0]
    assert s.rnk == 0 and s.user_id is None and s.n_events is None
    cold = sorted(by_type["cold"], key=lambda r: r.rnk)
    assert [r.rnk for r in cold] == [1, 2, 3]
    assert cold[0].user_id == "3" and cold[0].n_events == 9


def test_top_users_sketch_all_null_group_is_empty_not_sentinel(spark):
    """A group whose rows are all user_id=NULL has an EMPTY sketch
    (the aggregate skips NULLs), not a saturated one — it must emit
    zero rows, never the rnk=0 saturation sentinel (which would
    misread as 'resize max_items')."""
    from impala_hashset_count_spark.streaming.windows import (
        stream_top_users_sketch,
    )

    rows = [("nulls", None)] * 20 + [("live", 1)] * 3 + [("live", 2)]
    ev = spark.createDataFrame(rows, "event_type string, user_id long")
    got = stream_top_users_sketch(ev, k=3, max_items=100).collect()
    by_type = {}
    for r in got:
        by_type.setdefault(r.event_type, []).append(r)
    assert "nulls" not in by_type  # no rows at all — not a sentinel
    live = sorted(by_type["live"], key=lambda r: r.rnk)
    assert [(r.rnk, r.user_id, r.n_events) for r in live] == [
        (1, "1", 3),
        (2, "2", 1),
    ]


def test_top_users_sketch_ndv_guard_saturation(spark):
    """The batch twin's 'ndv' saturation guard: a group whose EXACT
    distinct-user count exceeds max_items emits ONLY the sentinel row
    (rnk=0, NULL user, NULL count) — never the sketch's shrunken
    approximation content (the r8 sf10 finding: between capacity and
    emptiness, approx_top_k_estimate returns an eviction-order-defined
    partial array no oracle can mirror). Within capacity the two
    guards agree and the output is the exact top-k."""
    from pyspark.sql import functions as F

    from impala_hashset_count_spark.streaming.windows import (
        stream_top_users_sketch,
    )

    ev = spark.range(2000).select(
        (F.col("id") % 10).cast("string").alias("event_type"),
        F.col("id").alias("user_id"),
    )
    # 200 distinct users per group >> 64 slots: every group saturates
    sat = stream_top_users_sketch(
        ev, k=3, max_items=64, saturation_guard="ndv"
    ).collect()
    assert len(sat) == 10
    assert all(
        r["rnk"] == 0 and r["user_id"] is None and r["n_events"] is None
        for r in sat
    )
    # within capacity the ndv guard changes nothing vs 'empty'
    ok_ndv = stream_top_users_sketch(
        ev, k=3, max_items=1024, saturation_guard="ndv"
    )
    ok_emp = stream_top_users_sketch(
        ev, k=3, max_items=1024, saturation_guard="empty"
    )
    assert sorted(map(tuple, ok_ndv.collect())) == sorted(
        map(tuple, ok_emp.collect())
    )
    assert ok_ndv.filter(F.col("rnk") == 0).count() == 0
