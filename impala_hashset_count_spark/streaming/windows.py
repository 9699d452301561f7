"""Structured Streaming operators over the events stream.

The reference is batch-only (SURVEY.md §2.10 — its 'streaming
pre-aggregation' is Impala's within-query preagg spill, not stream
processing). These are the streaming faces of the engine's aggregates,
built on watermarks + windowed state so state size is bounded no matter
how long the stream runs:

- tumbling / sliding / session windows with per-window exact distinct
  users (``size(collect_set)`` — streaming cannot run count_distinct,
  and set state is bounded by watermark eviction; swap for
  ``approx_count_distinct`` when per-window cardinality is huge);
- ``dropDuplicatesWithinWatermark`` — streaming exact dedup with
  bounded state;
- ``applyInPandasWithState`` — custom stateful sessionization (the
  streaming analogue of the reference's init/update/merge/finalize
  state machine, `/root/reference/hashset-count.h:30-34`).

The registry entries in plans/streaming_batch.py run the window and
interval-join faces on the static events table (``withWatermark`` is a
no-op on a batch DataFrame), so the DuckDB oracles check this code.
Tests drive the faces with the parquet file source + a memory sink and
``processAllAvailable()`` (synchronous drain), then assert equality
with those entries, or with the batch twins kept for the faces that
cannot run on a batch frame.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import read_events, table_path


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of the events table.

    The file source requires a DIRECTORY (it tails new files as they
    land — the production shape); the driver testdata is a single
    parquet file, so we stage a symlink dir. readStream needs an
    explicit schema; ``read_events`` takes it from the parquet footer
    via a batch read (a metadata-only job) and applies the batch scan's
    ``ts`` conversion, so the stream stays in lockstep with
    ``load_table``."""
    import os
    import tempfile

    src = table_path(sf_dir, "events")
    stage = os.path.join(
        tempfile.gettempdir(), "ihc_stream_stage", sf_dir.strip("/").replace("/", "_")
    )
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "events.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)

    from pyspark.sql import types as T

    raw = read_events(spark, src, stream_dir=stage)
    if isinstance(raw.schema["ts"].dataType, T.TimestampNTZType):
        # Watermarks demand TIMESTAMP (LTZ); the session TZ is pinned
        # UTC, so this cast is wall-clock exact and the batch scan
        # (which keeps NTZ) renders identical window strings.
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def stream_tumbling_counts(events: DataFrame) -> DataFrame:
    """Tumbling 6h windows: events + exact distinct users per
    (window, event_type); 1h watermark tolerates late data while
    bounding state."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "6 hours").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.size(F.collect_set("user_id")).alias("distinct_users"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "distinct_users",
        )
    )


def stream_sliding_counts(events: DataFrame) -> DataFrame:
    """Sliding 6h windows every 3h — each event lands in 2 windows."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "6 hours", "3 hours").alias("win"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
        )
    )


def stream_session_windows(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Data-driven session windows per user: a session extends while
    events arrive within ``gap``."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("sw.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("sw.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
        )
    )


def stream_dedup_within_watermark(events: DataFrame) -> DataFrame:
    """Streaming exact dedup on (user_id, event_type) with bounded
    state — the streaming face of exact_dedup."""
    return events.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )


def _interval_join_raw(left: DataFrame, right: DataFrame, how: str) -> DataFrame:
    """Shared body of the stream-stream interval joins: both sides
    carry watermarks and the join condition time-bounds r_ts relative
    to l_ts, which is what lets Spark EVICT join state (without the
    time bound, stream-stream state grows forever). The strict
    ``r_ts > l_ts`` also makes self-pairing impossible. One definition
    serves every join type so the inner and outer faces can never
    desynchronize on the interval or watermark."""
    l = left.withWatermark("ts", "1 hour").select(
        F.col("user_id").alias("l_user"),
        F.col("event_id").alias("l_event"),
        F.col("ts").alias("l_ts"),
    )
    r = right.withWatermark("ts", "1 hour").select(
        F.col("user_id").alias("r_user"),
        F.col("event_id").alias("r_event"),
        F.col("ts").alias("r_ts"),
    )
    return l.join(
        r,
        F.expr(
            "l_user = r_user AND r_ts > l_ts "
            "AND r_ts <= l_ts + INTERVAL 10 MINUTES"
        ),
        how,
    )


def _interval_join(left: DataFrame, right: DataFrame, how: str) -> DataFrame:
    return _interval_join_raw(left, right, how).select(
        F.col("l_user").alias("user_id"), "l_event", "r_event"
    )


def stream_interval_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """Stream-stream INNER interval join: for each event, the same
    user's follow-up events within 10 minutes."""
    return _interval_join(left, right, "inner")


def stream_interval_join_left_outer(
    left: DataFrame, right: DataFrame
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: like
    ``stream_interval_join`` but events with NO follow-up within 10
    minutes still emit, null-padded. Outer stream-stream joins have a
    subtler contract than inner: a left row is provably unmatched only
    once the GLOBAL watermark (min across both sources) passes
    ``l_ts + 10 minutes``, at which point Spark evicts its join state
    and emits the null-padded row — so unmatched results trail the
    data by watermark-delay + interval, and BOTH sides must keep
    advancing for anything to finalize (an idle right stream stalls
    left-side emission). Two-real-microbatch eviction proof in
    tests/test_streaming.py."""
    return _interval_join(left, right, "leftOuter")


SESSION_STATE_SCHEMA = "n_sessions int, last_ts double"
SESSION_OUTPUT_SCHEMA = "user_id bigint, n_sessions int"


def sessionize_stateful(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: count
    gap-separated sessions per user. State = (session count, last event
    time) — the same update/merge discipline as the reference UDA's
    state machine, expressed as streaming state."""
    gap_s = gap_minutes * 60.0

    def fn(key, pdfs, state):
        # GroupState.get is a PROPERTY returning the state tuple —
        # calling it raises only on batch 2+, when state first exists
        n_sessions, last_ts = state.get if state.exists else (0, None)
        for pdf in pdfs:
            for t in pdf["ts"].sort_values():
                t = t.timestamp()
                if last_ts is None or t - last_ts > gap_s:
                    n_sessions += 1
                last_ts = t
        state.update((n_sessions, last_ts))
        yield pd.DataFrame({"user_id": [key[0]], "n_sessions": [n_sessions]})

    return (
        events.select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )


def _hll_rho(h: int, p: int) -> int:
    """Position of the leftmost 1-bit in the (64-p)-bit suffix of h."""
    w = (h << p) & ((1 << 64) - 1)
    return (64 - p) + 1 if w == 0 else 64 - w.bit_length() + 1


def approx_distinct_stateful(events: DataFrame, p: int = 12) -> DataFrame:
    """The SCALE tier of ``hashset_count_stateful``: running approximate
    distinct ``user_id`` per ``event_type`` with HyperLogLog register
    state — O(2^p) ints per key FOREVER, vs the exact tier's
    O(distinct) set. This is the streaming mirror of the batch
    ``approx_count_distinct`` tier (the README's own recommendation for
    "very large numbers", /root/reference/README.md:10), with the same
    trade: ~1.04/sqrt(2^p) relative error (1.6% at p=12).

    Registers merge by elementwise max — associative, commutative,
    idempotent — so cross-batch accumulation is exact over the sketch,
    just like the reference's set-union Merge. Hashing is md5-based and
    engine-independent: restarts and replays produce identical
    estimates."""
    import hashlib
    import math

    m = 1 << p

    def fn(key, pdfs, state):
        regs = list(state.get[0]) if state.exists else [0] * m
        for pdf in pdfs:
            for v in pdf["user_id"].dropna():
                h = int.from_bytes(
                    hashlib.md5(str(int(v)).encode()).digest()[:8], "big"
                )
                idx = h >> (64 - p)
                r = _hll_rho(h, p)
                if r > regs[idx]:
                    regs[idx] = r
        state.update((regs,))
        alpha = 0.7213 / (1 + 1.079 / m)
        est = alpha * m * m / sum(2.0 ** -r for r in regs)
        zeros = regs.count(0)
        if est <= 2.5 * m and zeros:
            est = m * math.log(m / zeros)  # linear counting small-range fix
        yield pd.DataFrame(
            {"event_type": [key[0]], "approx_distinct": [int(round(est))]}
        )

    return (
        events.select("event_type", "user_id")
        .groupBy("event_type")
        .applyInPandasWithState(
            fn,
            outputStructType="event_type string, approx_distinct long",
            stateStructType="regs array<int>",
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )


DISTINCT_STATE_SCHEMA = "seen array<string>"
DISTINCT_OUTPUT_SCHEMA = "event_type string, hashset_count string"


def hashset_count_stateful(events: DataFrame) -> DataFrame:
    """The reference UDA as a STREAMING operator: running exact
    distinct `user_id` count per `event_type`, with the set-valued
    state held in Spark's state store across micro-batches — the
    streaming realization of init/update/serialize/merge/finalize
    (`/root/reference/hashset-count.h:30-34`): state.exists==False is
    Init, the per-batch set union is Update+Merge, the state store's
    persistence between micro-batches is Serialize, and every batch
    emits a Finalize snapshot.

    Faithful-mode semantics preserved (SURVEY.md §8): NULLs don't
    count, a key whose rows were all NULL yields SQL NULL (not "0"),
    and the count is returned as a decimal STRING.

    Scale note: state is O(distinct values) per key — exactly the
    reference's memory model (`/root/reference/README.md:10-12`).
    Like the reference, this is for moderate per-key cardinalities;
    beyond that, swap the state for an HLL sketch (the
    approx_distinct tier)."""

    def fn(key, pdfs, state):
        # state.get is a property (see sessionize fn above)
        seen = set(state.get[0]) if state.exists else set()
        for pdf in pdfs:
            vals = pdf["user_id"].dropna()
            # str() per value: byte-equality semantics on the string
            # form, matching the reference's STRING-only input
            seen.update(str(int(v)) for v in vals)
        state.update((list(seen),))
        count = str(len(seen)) if seen else None
        yield pd.DataFrame(
            {"event_type": [key[0]], "hashset_count": [count]}
        )

    return (
        events.select("event_type", "user_id")
        .groupBy("event_type")
        .applyInPandasWithState(
            fn,
            outputStructType=DISTINCT_OUTPUT_SCHEMA,
            stateStructType=DISTINCT_STATE_SCHEMA,
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )


def foreach_batch_parquet_sink(
    stream_df: DataFrame, path: str, checkpoint: str
):
    """Exactly-once-style file sink via ``foreachBatch``: each
    micro-batch overwrites its OWN ``batch_id=N`` directory, so a batch
    replayed after a failure (same epoch re-delivered from the
    checkpointed offsets) lands on the same path instead of duplicating
    — idempotence by keyed overwrite, the standard pattern for sinks
    with no transactional commit protocol.

    PRECONDITION (the standard caveat for idempotent-overwrite
    foreachBatch sinks): the guarantee holds only if replayed batches
    are DETERMINISTIC — the same batch_id must recompute the same rows.
    A non-deterministic upstream (current-time expressions, unseeded
    sampling, racing side inputs) silently overwrites the original
    batch with DIFFERENT data; the guarantee is then at-least-once per
    batch id, not exactly-once. Guarantees are also per-batch, not
    per-row: readers see whole batch directories appear/replace
    atomically only at directory granularity. Returns the started query
    (caller drains/stops it)."""
    import os

    def write_batch(bdf: DataFrame, batch_id: int) -> None:
        bdf.write.mode("overwrite").parquet(
            os.path.join(path, f"batch_id={batch_id}")
        )

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "complete"):
    """Drain a (bounded) stream synchronously into a memory sink and
    return the result table — the local test harness for every
    streaming operator."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return stream_df.sparkSession.table(name)


def stream_static_enrich(
    stream: DataFrame,
    static_dim: DataFrame,
    on_left: str = "user_id",
    on_right: str = "c_custkey",
    dim_cols: tuple[str, ...] = ("c_nationkey",),
    how: str = "left",
) -> DataFrame:
    """Stream-STATIC equi-join — the enrichment pattern (attach
    dimension attributes to each event as it arrives). Unlike
    stream-stream joins this needs NO watermark and holds NO join
    state: the static side is a plain batch DataFrame, broadcast to
    every task, and each micro-batch joins against the snapshot read
    at query start. Spark supports inner and left-outer with the
    stream on the preserved side; the dimension must be the build side
    (a right/full outer against a static build side is rejected by the
    planner because unmatched STATIC rows can never finalize).

    Returns the stream's rows with ``dim_cols`` appended (NULL where
    the dimension has no match under ``how='left'``). The 'enrich'
    branch of ``streaming_interval_join_batch`` runs it on the static
    events table."""
    dim = F.broadcast(
        static_dim.select(
            F.col(on_right).alias("__dim_key"),
            *[F.col(c) for c in dim_cols],
        )
    )
    return (
        stream.join(dim, F.col(on_left) == F.col("__dim_key"), how)
        .drop("__dim_key")
    )


def stream_interval_join_full_outer(
    left: DataFrame, right: DataFrame
) -> DataFrame:
    """Stream-stream FULL OUTER interval join: unmatched rows from
    EITHER side emit null-padded once the global watermark evicts their
    state. Right-side-only rows surface with NULL l_event and the
    user_id taken from the right row — the shared body guarantees the
    interval/watermark semantics match the inner and left-outer
    faces. ``streaming_interval_join_batch`` runs it on the static
    events table and tags its pair/lone/lone_r rows."""
    joined = _interval_join_raw(left, right, "fullOuter")
    return joined.select(
        F.coalesce(F.col("l_user"), F.col("r_user")).alias("user_id"),
        "l_event",
        "r_event",
    )


def stream_top_users_sketch(
    events: DataFrame,
    k: int = 3,
    max_items: int = 1000,
    saturation_guard: str = "empty",
) -> DataFrame:
    """Streaming frequent-items: per event_type, the top-k most active
    users via the mergeable ``approx_top_k`` sketch — the frequency
    twin of ``approx_distinct_stateful``'s HLL tier. State per group is
    the bounded sketch struct (max_items slots), NOT the unbounded
    (user -> count) map a naive streaming groupBy would accumulate, so
    the state store stays O(groups * max_items) forever on an unbounded
    key space. Exact while distinct users per group <= max_items
    (tested against the batch twin); complete-mode output.

    SATURATION IS VISIBLE, never silent: Spark's
    ``approx_top_k_estimate`` returns an EMPTY array once a group's
    distinct items exceed ``maxItemsTracked`` (observed on Spark
    4.1 — found by this repo's 10x scale sweep, where the sf0.1-sized
    capacity silently emitted zero rows at sf1). A group that has rows
    but an empty estimate emits one SENTINEL row
    ``(event_type, rnk=0, user_id=NULL, n_events=NULL)`` so a
    saturated sketch reads as "resize max_items", not "no active
    users".

    ``saturation_guard`` picks how saturation is DETECTED:

    - ``"empty"`` (default, stream-safe): sentinel when the estimate
      array comes back empty for a group that has rows — the only
      signal available inside a streaming aggregation, where distinct
      aggregates are disallowed. Beyond capacity but before emptiness
      the sketch serves its approximation (the sketch's actual
      production contract).
    - ``"ndv"`` (batch twin): ONE extra ``count_distinct`` in the same
      groupBy; any group whose EXACT distinct-user count exceeds
      ``max_items`` emits the sentinel and its (no-longer-exact)
      estimate is suppressed. This makes the twin's output
      deterministic and oracle-expressible at EVERY scale: within
      capacity the sketch is provably exact (tested), beyond it the
      output is the saturation signal, never approximation content.
      Added after the r8 sf10 sweep caught the in-between regime:
      at 150k distinct users against 65536 slots the estimate is
      neither exact nor empty — it returns a SHRUNKEN array whose
      content is eviction-order-defined (measured on Spark 4.1:
      5 distinct at capacity 4 -> 4 items, 8 distinct -> 1 item) and
      no SQL oracle can reproduce it.

    Returns (event_type, rnk, user_id, n_events) — the estimate array
    exploded and deterministically ranked (count desc, user asc), so
    the live result compares row-for-row with a batch oracle."""
    if saturation_guard not in ("empty", "ndv"):
        raise ValueError(
            f"saturation_guard must be 'empty' or 'ndv', got "
            f"{saturation_guard!r}"
        )
    # the NULL user is not a user: Spark's approx_top_k_accumulate
    # tracks NULL as a regular item (it would surface as a top entry
    # with item=NULL and collide with the sentinel encoding), and an
    # all-NULL group would otherwise misfire the saturation sentinel —
    # drop NULL user rows before the sketch sees them
    aggs = [
        F.expr(
            f"approx_top_k_accumulate(CAST(user_id AS STRING), {int(max_items)})"
        ).alias("sk"),
        F.count(F.col("user_id")).alias("__n_rows"),
    ]
    if saturation_guard == "ndv":
        aggs.append(
            F.count_distinct(F.col("user_id").cast("string")).alias("__ndv")
        )
    agg = (
        events.where(F.col("user_id").isNotNull())
        .groupBy("event_type")
        .agg(*aggs)
    )
    # rank INSIDE the array (array_sort with an explicit comparator +
    # head slice): row_number windows are not allowed on streaming
    # datasets, and the over-fetch + deterministic (count desc, user
    # asc) tie-break keeps the k boundary engine-stable
    ranked = F.expr(
        f"""slice(array_sort(approx_top_k_estimate(sk, {int(max_items)}),
            (l, r) -> CASE WHEN l.count > r.count THEN -1
                           WHEN l.count < r.count THEN 1
                           WHEN l.item < r.item THEN -1
                           WHEN l.item > r.item THEN 1
                           ELSE 0 END), 1, {int(k)})"""
    )
    sentinel = F.expr(
        "array(named_struct('item', CAST(NULL AS STRING),"
        " 'count', CAST(NULL AS BIGINT)))"
    )
    # stage the ranked array as an attribute so the estimate+sort is
    # evaluated once, not once per reference (the same Generate
    # re-evaluation hazard staged everywhere else in this repo)
    extra = ["__ndv"] if saturation_guard == "ndv" else []
    staged = agg.select(
        "event_type", "__n_rows", *extra, ranked.alias("__arr")
    )
    saturated = (F.size("__arr") == 0) & (F.col("__n_rows") > 0)
    if saturation_guard == "ndv":
        saturated = saturated | (F.col("__ndv") > F.lit(int(max_items)))
    safe = F.when(saturated, sentinel).otherwise(F.col("__arr"))
    return (
        staged.select("event_type", F.posexplode(safe).alias("pos", "e"))
        .select(
            "event_type",
            F.when(F.col("e.item").isNull(), F.lit(0))
            .otherwise(F.col("pos") + 1)
            .cast("int")
            .alias("rnk"),
            F.col("e.item").alias("user_id"),
            F.col("e.count").cast("long").alias("n_events"),
        )
    )


def stream_cdc_upsert(
    changes_stream: DataFrame,
    snapshot_path: str,
    checkpoint: str,
    key_cols: list[str],
    seq_col: str,
    op_col: str = "op",
    delete_op: str = "D",
):
    """Continuous MERGE INTO: fold each CDC micro-batch into a
    maintained snapshot with ``operators/merge.py`` — the streaming
    face of ``apply_changes`` and the standard "foreachBatch upsert"
    production pattern for sinks without a transactional table format.

    Snapshot versions are directories ``snapshot_path/v=<batch_id>``;
    each batch collapses its rows to the last change per key
    (``latest_changes``), applies them to the LATEST version with id
    strictly below the current batch (so a replayed batch rebuilds its
    version from the same predecessor — never from its own partial
    output), and overwrites its version directory. With deterministic
    replayed batches (the file source re-delivers the same epoch from
    checkpointed offsets) the sink is exactly-once at snapshot
    granularity: re-running a batch produces a byte-equivalent
    version.

    Scale: per batch, one broadcast anti join against the batch's keys
    — the snapshot is scanned once and never shuffled; at 100 TB the
    snapshot write is the cost, which table formats amortize with
    copy-on-write at file granularity (same merge plan, smaller
    rewrite set). ``read_snapshot`` returns the latest version.

    Version discovery walks the snapshot directory with the local
    filesystem API (this harness runs on local disk); on HDFS/object
    storage, swap ``_versions`` for a listing through the same
    ``FileSystem``/object-store client the checkpoint uses — the
    version protocol itself (build from newest strictly-older id) is
    storage-agnostic."""
    import os

    from ..operators.merge import apply_changes, latest_changes

    data_cols = [c for c in changes_stream.columns if c not in (op_col, seq_col)]

    def _versions(spark: SparkSession) -> list[int]:
        if not os.path.isdir(snapshot_path):
            return []
        return sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(snapshot_path)
            if d.startswith("v=")
        )

    def write_batch(bdf: DataFrame, batch_id: int) -> None:
        spark = bdf.sparkSession
        prior = [v for v in _versions(spark) if v < batch_id]
        if prior:
            target = spark.read.parquet(
                os.path.join(snapshot_path, f"v={prior[-1]}")
            )
        else:
            target = spark.createDataFrame([], bdf.select(*data_cols).schema)
        batch = latest_changes(bdf, key_cols, seq_col, op_col)
        merged = apply_changes(
            target, batch, key_cols, op_col=op_col, delete_op=delete_op
        )
        merged.write.mode("overwrite").parquet(
            os.path.join(snapshot_path, f"v={batch_id}")
        )

    return (
        changes_stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .start()
    )


def snapshot_versions(snapshot_path: str) -> list[int]:
    """Version ids present under a ``stream_cdc_upsert`` snapshot."""
    import os

    return sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(snapshot_path)
        if d.startswith("v=")
    )


def read_snapshot(
    spark: SparkSession, snapshot_path: str, version: int | None = None
) -> DataFrame:
    """Read a ``stream_cdc_upsert`` snapshot: the latest version, or —
    time travel — the newest version <= ``version`` (the state as of
    that batch id). Raises if no version qualifies."""
    import os

    versions = snapshot_versions(snapshot_path)
    if version is not None:
        versions = [v for v in versions if v <= version]
    if not versions:
        raise FileNotFoundError(
            f"no snapshot version {'<= ' + str(version) + ' ' if version is not None else ''}"
            f"under {snapshot_path}"
        )
    return spark.read.parquet(os.path.join(snapshot_path, f"v={versions[-1]}"))


def vacuum_snapshots(snapshot_path: str, keep_last: int = 2) -> list[int]:
    """Retention for ``stream_cdc_upsert`` snapshots: delete all but
    the newest ``keep_last`` versions (each version is a full
    snapshot, so old ones are only needed for time travel). Returns
    the deleted version ids. ``keep_last`` must be >= 1 — the latest
    version is both the read surface and the next merge's base."""
    import os
    import shutil

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    versions = snapshot_versions(snapshot_path)
    drop = versions[:-keep_last]
    for v in drop:
        shutil.rmtree(os.path.join(snapshot_path, f"v={v}"))
    return drop


def stream_quantiles_sketch(events: DataFrame, k: int = 64) -> DataFrame:
    """Streaming quantiles with BOUNDED state: per event_type, the
    deterministic bottom-k-by-hash sample (`operators/quantiles.py`)
    held in the state store — the quantile twin of
    ``approx_distinct_stateful``'s HLL tier. State is O(k) per key
    forever; merging a batch is min-k over the concatenation (min-wise
    sampling is exactly mergeable), so the running sample — and hence
    every estimate — is IDENTICAL to the batch sketch over the data
    seen so far, no matter how the stream was micro-batched (live ==
    batch twin is tested). Emits discrete order statistics (value at
    rank ceil(q*n) of the sample): data values, no interpolation."""
    import hashlib

    def fn(key, pdfs, state):
        entries = (
            [tuple(e) for e in zip(*state.get)] if state.exists else []
        )
        for pdf in pdfs:
            sub = pdf[["event_id", "value"]].dropna()
            for eid, v in zip(sub["event_id"], sub["value"]):
                h = hashlib.md5(str(int(eid)).encode()).hexdigest()
                entries.append((h, str(int(eid)), float(v)))
        entries = sorted(set(entries))[:k]
        state.update(tuple(list(col) for col in zip(*entries)))
        vals = sorted(v for _h, _t, v in entries)
        n = len(vals)

        # ceil(q*n) without float-boundary surprises: q is a small
        # exact rational, so take the ceiling in integer math
        def disc_exact(qnum, qden):
            idx = -(-(qnum * n) // qden)  # ceil(q*n), integer math
            return vals[idx - 1] if n else None

        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_sample": [n],
                "q25": [disc_exact(1, 4)],
                "q50": [disc_exact(1, 2)],
                "q75": [disc_exact(3, 4)],
            }
        )

    return (
        events.select("event_id", "event_type", "value")
        .groupBy("event_type")
        .applyInPandasWithState(
            fn,
            outputStructType=(
                "event_type string, n_sample long, q25 double, "
                "q50 double, q75 double"
            ),
            stateStructType=(
                "hs array<string>, ts array<string>, vs array<double>"
            ),
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )


def stream_summary_maintenance(
    events: DataFrame,
    snapshot_path: str,
    checkpoint: str,
    group_cols: list[str],
    value_col: str,
    key_col: str,
):
    """Continuous incremental MATERIALIZED-SUMMARY maintenance: each
    micro-batch accumulates to a state-table delta
    (`operators/aggstate.py`) and folds into the stored summary by
    STATE-ROW merge — raw history is never rescanned. Because every
    component state is mergeable (quantized-integer sums, min/max,
    HLL registers, frequent-items sketch, bottom-k sample), the
    maintained table equals the state table built over all data seen
    so far, regardless of micro-batching (tested live vs the direct
    batch accumulate).

    Versioning/idempotence follow ``stream_cdc_upsert``: version
    ``v=<batch_id>`` is computed from the newest strictly-older
    version, so a replayed batch rebuilds its version rather than
    double-counting — the additive components make THAT the critical
    property (a rerun that merged into its own output would inflate
    every sum).

    Scale: per batch, one shuffle of the batch (accumulate at the
    grain) + one merge over (cells-touched + stored) state rows; the
    summary's size is the grain's cardinality, not the data's."""
    import os

    from ..operators.aggstate import agg_state_accumulate, agg_state_merge

    def _versions() -> list[int]:
        if not os.path.isdir(snapshot_path):
            return []
        return sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(snapshot_path)
            if d.startswith("v=")
        )

    def write_batch(bdf: DataFrame, batch_id: int) -> None:
        spark = bdf.sparkSession
        delta = agg_state_accumulate(bdf, group_cols, value_col, key_col)
        prior = [v for v in _versions() if v < batch_id]
        if prior:
            stored = spark.read.parquet(
                os.path.join(snapshot_path, f"v={prior[-1]}")
            )
            delta = stored.unionByName(delta)
        merged = agg_state_merge(delta, group_cols)
        merged.write.mode("overwrite").parquet(
            os.path.join(snapshot_path, f"v={batch_id}")
        )

    return (
        events.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .start()
    )


def stream_bitmap_distinct_maintenance(
    events: DataFrame,
    snapshot_path: str,
    checkpoint: str,
    group_cols: list[str],
    value_col: str,
):
    """Continuous EXACT distinct-count maintenance over a bounded
    integer domain: each micro-batch accumulates to a bitmap state
    delta (`operators/bitmap_distinct.py`) and folds into the stored
    state by word-wise BIT_OR — raw history is never rescanned, and
    unlike the HLL face (``approx_distinct_stateful``) the maintained
    count is EXACT. The running count at any point is
    ``bitmap_count(read_snapshot(...))``.

    Versioning/idempotence follow ``stream_summary_maintenance``
    (version ``v=<batch_id>`` built from the newest strictly-older
    version). BIT_OR is additionally IDEMPOTENT — a value folded twice
    sets the same bit — so this face tolerates at-least-once delivery
    of rows, not just of batches: the one maintenance state in the
    family where replay safety is structural, not only protocol-level
    (the additive summary/drift states rely on the version protocol).

    Scale: per batch, one shuffle of the batch at the (group, bucket)
    grain + one merge over (buckets-touched + stored) 16-byte state
    rows; the stored state is bounded by the value DOMAIN/64 words per
    group, regardless of rows seen."""
    import os

    from ..operators.bitmap_distinct import bitmap_accumulate, bitmap_merge

    def _versions() -> list[int]:
        if not os.path.isdir(snapshot_path):
            return []
        return sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(snapshot_path)
            if d.startswith("v=")
        )

    def write_batch(bdf: DataFrame, batch_id: int) -> None:
        spark = bdf.sparkSession
        delta = bitmap_accumulate(bdf, group_cols, value_col)
        prior = [v for v in _versions() if v < batch_id]
        if prior:
            stored = spark.read.parquet(
                os.path.join(snapshot_path, f"v={prior[-1]}")
            )
            delta = stored.unionByName(delta)
        merged = bitmap_merge(delta, group_cols)
        merged.write.mode("overwrite").parquet(
            os.path.join(snapshot_path, f"v={batch_id}")
        )

    return (
        events.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .start()
    )


def stream_span_dedup(
    docs_stream: DataFrame,
    spans_path: str,
    index_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 20,
):
    """Continuous exact-substring SPAN dedup over a document stream:
    each micro-batch finds its duplicated spans against all history
    plus itself (``duplicated_spans_incremental``,
    `operators/substring_dedup.py`) using the maintained gram-count
    index — history text is never re-shingled — then appends its spans
    to ``spans_path`` and folds its gram counts into the versioned
    index at ``index_path``.

    Versioning/idempotence follow ``stream_summary_maintenance``
    (index version ``v=<batch_id>`` built from the newest
    strictly-older version, so a replayed batch rebuilds rather than
    double-counts — counts are additive, making that the critical
    property). Spans land in per-batch subdirectories
    (``batch=<id>``, overwrite), so a replayed batch REWRITES its
    spans instead of duplicating them.

    Scale: per batch, O(batch) shingling + the gram probe join against
    the stored index; the index size is the corpus's distinct-gram
    count."""
    import os

    from ..operators.substring_dedup import (
        duplicated_spans_incremental,
        update_gram_index,
    )

    def _versions() -> list[int]:
        if not os.path.isdir(index_path):
            return []
        return sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(index_path)
            if d.startswith("v=")
        )

    def write_batch(bdf: DataFrame, batch_id: int) -> None:
        spark = bdf.sparkSession
        prior = [v for v in _versions() if v < batch_id]
        if prior:
            stored = spark.read.parquet(
                os.path.join(index_path, f"v={prior[-1]}")
            )
        else:
            stored = spark.createDataFrame([], "__gh long, __n long")
        spans, batch_counts = duplicated_spans_incremental(
            bdf, stored, id_col, text_col, min_tokens
        )
        spans.write.mode("overwrite").parquet(
            os.path.join(spans_path, f"batch={batch_id}")
        )
        update_gram_index(stored, batch_counts).write.mode(
            "overwrite"
        ).parquet(os.path.join(index_path, f"v={batch_id}"))

    return (
        docs_stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .start()
    )


def stream_corpus_drift(
    docs_stream: DataFrame,
    reference: DataFrame,
    snapshot_path: str,
    checkpoint: str,
    text_col: str = "text",
):
    """Continuous DISTRIBUTION-DRIFT monitoring of an ingesting corpus
    against a static reference (`operators/drift.py`'s streaming face):
    each micro-batch's token counts fold into a running count table
    (versioned snapshots, same replay-safe scheme as
    ``stream_summary_maintenance`` — a replayed batch rebuilds its
    version from the newest strictly-older one, so the additive counts
    are never double-folded), and the drift summary of
    (all streamed text so far) vs (reference) is recomputed from the
    maintained COUNT TABLE — the raw stream is never rescanned.

    Token counts are exactly mergeable by SUM, so the maintained table
    equals the count table over all data seen regardless of
    micro-batching; the emitted drift row therefore EQUALS the batch
    ``distribution_drift`` over the union of the streamed documents
    (tested live). Per batch: one batch-sized token aggregate + a merge
    over (touched + stored) vocabulary rows; vocabulary-sized state,
    not corpus-sized. Read the latest drift with ``read_snapshot(
    snapshot_path)`` filtered to ``kind='drift'``; kind='tok' rows
    carry the running counts."""
    import os

    from pyspark.sql import functions as F

    from ..operators.drift import _token_counts, drift_from_counts

    def _versions() -> list[int]:
        if not os.path.isdir(snapshot_path):
            return []
        return sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(snapshot_path)
            if d.startswith("v=")
        )

    def write_batch(bdf: DataFrame, batch_id: int) -> None:
        spark = bdf.sparkSession
        delta = _token_counts(bdf, text_col, "c")
        prior = [v for v in _versions() if v < batch_id]
        if prior:
            stored = (
                spark.read.parquet(os.path.join(snapshot_path, f"v={prior[-1]}"))
                .filter(F.col("kind") == "tok")
                .select("tok", F.col("n1").alias("c"))
            )
            delta = stored.unionByName(delta)
        counts = delta.groupBy("tok").agg(F.sum("c").alias("c"))
        summary = drift_from_counts(
            counts.select("tok", F.col("c").alias("c_a")),
            _token_counts(reference, text_col, "c_b"),
        )
        metrics = ("n_a", "n_b", "v", "tv_num", "kl_ab_q", "kl_ba_q", "js_q")
        out = counts.select(
            F.lit("tok").alias("kind"), "tok", F.col("c").alias("n1"),
        ).unionByName(
            summary.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(F.lit(m).alias("tok"), F.col(m).alias("n1"))
                            for m in metrics
                        ]
                    )
                ).alias("kv")
            ).select(
                F.lit("drift").alias("kind"),
                F.col("kv.tok").alias("tok"),
                F.col("kv.n1").alias("n1"),
            )
        )
        out.write.mode("overwrite").parquet(
            os.path.join(snapshot_path, f"v={batch_id}")
        )

    return (
        docs_stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .start()
    )


def stream_bloom_dedup(
    docs_stream: DataFrame,
    out_path: str,
    snapshot_path: str,
    checkpoint: str,
    key_col: str,
    n_bits: int = 1 << 16,
    k: int = 5,
    hash_fn: str = "xxhash64",
    order_col: str | None = None,
):
    """Continuous BLOOM-gATED ingestion (`operators/bloom.py`'s
    streaming face): each micro-batch is probed against the MAINTAINED
    filter (built over everything previously admitted), survivors are
    appended to ``out_path`` as one part-dir per batch, and the filter
    word-table folds the survivors' bits in by BIT_OR — the classic
    crawl-frontier "have I already ingested this URL/document" gate,
    with O(n_bits) state forever and the new batch never shuffled
    against history.

    Versioning/idempotence follow ``stream_cdc_upsert``: filter version
    ``v=<batch_id>`` is rebuilt from the newest STRICTLY-OLDER version
    and batch output lands under ``b=<batch_id>`` (overwritten whole on
    replay), so a replayed batch re-derives the same survivors instead
    of double-filtering against its own bits. Error model is the
    operator's: no false survivals of true duplicates; ~fpp of
    genuinely-new keys wrongly dropped.

    Within-batch duplicates: pass ``order_col`` for FULLY deterministic
    dedup (keep the lowest ``order_col`` per key — ``exact_dedup``, the
    same contract as ``bloom_dedup_incremental``); a replayed or
    task-retried batch then re-admits byte-identical rows. With
    ``order_col=None`` the keep is ``dropDuplicates`` — deterministic
    at the KEY level only (the key set, filter state, and downstream
    dedup decisions are stable, but which payload row represents a
    duplicated key may vary across replays)."""
    import os

    from ..operators.bloom import bloom_build, bloom_probe
    from ..operators.dedup import exact_dedup

    def _versions() -> list[int]:
        if not os.path.isdir(snapshot_path):
            return []
        return sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(snapshot_path)
            if d.startswith("v=")
        )

    def write_batch(bdf: DataFrame, batch_id: int) -> None:
        spark = bdf.sparkSession
        if order_col is not None:
            fresh = exact_dedup(bdf, [key_col], order_col)
        else:
            fresh = bdf.dropDuplicates([key_col])
        prior = [v for v in _versions() if v < batch_id]
        if prior:
            stored = spark.read.parquet(
                os.path.join(snapshot_path, f"v={prior[-1]}")
            )
            survivors = (
                bloom_probe(fresh, key_col, stored, n_bits, k=k, hash_fn=hash_fn)
                .filter(~F.col("maybe_seen"))
                .drop("maybe_seen")
            )
        else:
            stored = None
            survivors = fresh
        survivors.write.mode("overwrite").parquet(
            os.path.join(out_path, f"b={batch_id}")
        )
        admitted = spark.read.parquet(os.path.join(out_path, f"b={batch_id}"))
        delta = bloom_build(admitted, key_col, n_bits, k=k, hash_fn=hash_fn)
        if stored is not None:
            delta = stored.unionByName(delta)
        merged = delta.groupBy("word_idx").agg(F.bit_or("word").alias("word"))
        merged.write.mode("overwrite").parquet(
            os.path.join(snapshot_path, f"v={batch_id}")
        )

    return (
        docs_stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .start()
    )


def snapshot_changes(
    spark: SparkSession,
    snapshot_path: str,
    from_version: int,
    to_version: int,
    key_cols: list[str],
) -> DataFrame:
    """The CHANGE FEED between two snapshot versions: time-travel both
    versions (`read_snapshot`) and diff them (`operators.merge.
    diff_snapshots`) — the minimal I/U/D log that turns the older state
    into the newer one. This is the read-side inverse of
    ``stream_cdc_upsert``: the maintenance stream folds change logs
    into versions; this recovers the NET change log between any two
    versions for downstream incremental consumers (the Delta/Iceberg
    "table changes" pattern), with intermediate churn collapsed
    (insert-then-delete between the versions emits nothing)."""
    from ..operators.merge import diff_snapshots

    old = read_snapshot(spark, snapshot_path, from_version)
    new = read_snapshot(spark, snapshot_path, to_version)
    return diff_snapshots(old, new, key_cols)


def stream_index_maintenance(
    stream_df: DataFrame,
    data_path: str,
    index_path: str,
    checkpoint: str,
    cols: list[str],
):
    """Continuous ingestion with a continuously-CURRENT footer index —
    the streaming face of ``operators/fileindex.py``'s incremental
    maintenance, same versioned replay-safe scheme as
    ``stream_cdc_upsert`` / ``stream_corpus_drift``.

    Each micro-batch lands as an idempotent ``batch=<id>`` partition
    under ``data_path`` (overwrite-by-batch: a replayed batch rewrites
    its own partition instead of appending duplicate rows), then the
    stored index advances one version from the newest strictly-older
    version via ``update_file_index`` — footer reads only for the files
    the batch changed, never a re-walk of the whole table. Every
    version indexes exactly the files on disk after its batch, so
    ``prune_files`` / ``read_pruned`` against
    ``read_snapshot(index_path)`` stay correct mid-stream; per batch
    the index work is O(files in the batch), the property that keeps a
    100 TB ingesting table's skipping metadata maintainable."""
    import os

    from ..operators.fileindex import build_file_index, update_file_index

    def _versions() -> list[int]:
        if not os.path.isdir(index_path):
            return []
        return sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(index_path)
            if d.startswith("v=")
        )

    def write_batch(bdf: DataFrame, batch_id: int) -> None:
        spark = bdf.sparkSession
        bdf.write.mode("overwrite").parquet(
            os.path.join(data_path, f"batch={batch_id}")
        )
        prior = [v for v in _versions() if v < batch_id]
        if prior:
            stored = spark.read.parquet(
                os.path.join(index_path, f"v={prior[-1]}")
            )
            idx = update_file_index(spark, data_path, stored, cols)
        else:
            idx = build_file_index(spark, data_path, cols)
        idx.write.mode("overwrite").parquet(
            os.path.join(index_path, f"v={batch_id}")
        )

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )
