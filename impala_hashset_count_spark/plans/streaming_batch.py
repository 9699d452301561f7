"""The streaming operators as batch registry entries + the multimodal
metadata query.

``streaming_windows_batch`` and ``streaming_interval_join_batch`` run
the ``streaming/windows.py`` faces themselves on the static events
table: ``withWatermark`` is a no-op on a batch DataFrame, so the DuckDB
oracles check the streaming operators' own code. Three batch twins
remain, each for the reason in its docstring: ``dedup_batch`` and
``distinct_batch`` because their faces cannot run on a batch frame,
``sessionize_batch`` because it is faster than the face. The streaming
tests (tests/test_streaming.py) assert the live readStream pipelines
equal these plans."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.multimodal import (
    attach_binary_payload,
    extract_audio_features,
    extract_image_metadata,
    frame_sample_hashes,
    resize_images,
    wav_roundtrip_features,
)
from ..session import fanout
from ..sources.tables import load_table
from ..streaming.windows import (
    stream_interval_join_full_outer,
    stream_sliding_counts,
    stream_static_enrich,
    stream_tumbling_counts,
)
from .registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


@register(
    "streaming_windows_batch",
    oracle="""
        SELECT 'tumbling' AS kind,
               STRFTIME(TIME_BUCKET(INTERVAL '6 hours', ts), '%Y-%m-%d %H:%M:%S')
                   AS window_start,
               event_type,
               COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS distinct_users
        FROM events
        GROUP BY 2, 3
        UNION ALL
        SELECT 'sliding' AS kind, window_start,
               CAST(NULL AS VARCHAR) AS event_type,
               n_events,
               CAST(NULL AS BIGINT) AS distinct_users
        FROM (
            WITH placed AS (
                SELECT TIME_BUCKET(INTERVAL '3 hours', ts) AS b, event_id FROM events
                UNION ALL
                SELECT TIME_BUCKET(INTERVAL '3 hours', ts) - INTERVAL '3 hours', event_id
                FROM events
            )
            SELECT STRFTIME(b, '%Y-%m-%d %H:%M:%S') AS window_start,
                   COUNT(*) AS n_events
            FROM placed
            GROUP BY 1
        )
    """,
    headline=True,
)
def streaming_windows_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 6h and sliding 6h/3h event-time windows in one tagged
    result, built by the streaming faces ``stream_tumbling_counts`` and
    ``stream_sliding_counts`` on the static events table (``withWatermark``
    is a no-op on a batch DataFrame). One events scan feeds both window
    placements."""
    ev = _t(spark, sf_dir, "events")
    t = stream_tumbling_counts(ev).select(
        F.lit("tumbling").alias("kind"),
        "window_start",
        "event_type",
        "n_events",
        "distinct_users",
    )
    s = stream_sliding_counts(ev).select(
        F.lit("sliding").alias("kind"),
        "window_start",
        F.lit(None).cast("string").alias("event_type"),
        "n_events",
        F.lit(None).cast("long").alias("distinct_users"),
    )
    return t.union(s)


def sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min islands) per user — the batch
    twin of both session_window streaming and the
    applyInPandasWithState custom operator (``sessionize_stateful``).
    Kept because ``stream_session_windows`` plus a per-user
    re-aggregation gives the same rows but runs slower."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    # `ts` may arrive as TIMESTAMP or TIMESTAMP_NTZ depending on how the
    # parquet writer flagged isAdjustedToUTC; NTZ forbids direct numeric
    # casts, so widen to TIMESTAMP first (a no-op for LTZ). The gap is a
    # difference of two identically-shifted instants, so the session-tz
    # offset cancels.
    secs = lambda c: c.cast("timestamp").cast("double")  # noqa: E731
    is_new = F.when(
        prev.isNull() | (secs(F.col("ts")) - secs(prev) > 30 * 60),
        1,
    ).otherwise(0)
    return (
        ev.select("user_id", "ts", "event_id")
        .withColumn("is_new", is_new)
        .groupBy("user_id")
        .agg(
            F.sum("is_new").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


def dedup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First event per (user, type) — the deterministic batch twin of
    dropDuplicatesWithinWatermark. Kept because Spark rejects the face
    on a batch frame (``dropDuplicatesWithinWatermark is not supported
    with batch DataFrames``)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.select("user_id", "event_type", "event_id", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", F.col("event_id").alias("first_event_id"))
    )


def distinct_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event_type running exact distinct users — the batch twin of
    ``streaming.windows.hashset_count_stateful`` with the reference's
    faithful semantics (string count, NULL — not "0" — when every
    user_id in the group is NULL; the reference's hashset-count.cc:507-510).
    Kept because Spark rejects the face on a batch frame
    (``applyInPandasWithState is unsupported in batch query``)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.when(F.count("user_id") == 0, F.lit(None).cast("string"))
        .otherwise(F.count_distinct("user_id").cast("string"))
        .alias("hashset_count")
    )


# the streaming top-k sketch's slot capacity — ONE definition shared
# by the entry's stream_top_users_sketch call and the oracle's two
# saturation-boundary literals below (they must stay locked together:
# a drift only manifests beyond the suite SF where ndv crosses the
# boundary, so the sf0.01 gate cannot catch it — r6 advisor finding).
_TOPK_SKETCH_CAPACITY = 65536


@register(
    "streaming_state_batch",
    headline=True,
    oracle="""
        WITH g AS (
            SELECT user_id, ts,
                   CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             > INTERVAL '30 minutes'
                             OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             IS NULL
                        THEN 1 ELSE 0 END AS is_new
            FROM events
        )
        SELECT 'sessionize' AS kind, user_id,
               CAST(NULL AS VARCHAR) AS event_type,
               CAST(NULL AS BIGINT) AS first_event_id,
               CAST(SUM(is_new) AS BIGINT) AS n_sessions,
               COUNT(*) AS n_events,
               CAST(NULL AS VARCHAR) AS hashset_count
        FROM g
        GROUP BY user_id
        UNION ALL
        SELECT 'dedup' AS kind, user_id, event_type,
               event_id AS first_event_id,
               CAST(NULL AS BIGINT) AS n_sessions,
               CAST(NULL AS BIGINT) AS n_events,
               CAST(NULL AS VARCHAR) AS hashset_count
        FROM (
            SELECT user_id, event_type, event_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY ts, event_id
                   ) AS rn
            FROM events
        ) WHERE rn = 1
        UNION ALL
        SELECT 'distinct' AS kind, CAST(NULL AS BIGINT) AS user_id,
               event_type,
               CAST(NULL AS BIGINT) AS first_event_id,
               CAST(NULL AS BIGINT) AS n_sessions,
               CAST(NULL AS BIGINT) AS n_events,
               CASE WHEN COUNT(user_id) = 0 THEN NULL
                    ELSE CAST(COUNT(DISTINCT user_id) AS VARCHAR)
               END AS hashset_count
        FROM events
        GROUP BY event_type
        UNION ALL
        SELECT 'topk_sk' AS kind, CAST(u AS BIGINT) AS user_id, event_type,
               CAST(NULL AS BIGINT) AS first_event_id,
               CAST(rnk AS BIGINT) AS n_sessions,
               n AS n_events,
               CAST(NULL AS VARCHAR) AS hashset_count
        FROM (
            SELECT event_type, u, n,
                   ROW_NUMBER() OVER (
                       PARTITION BY event_type ORDER BY n DESC, u
                   ) AS rnk
            FROM (
                SELECT event_type, CAST(user_id AS VARCHAR) AS u,
                       COUNT(*) AS n
                FROM events GROUP BY 1, 2
            )
        ) WHERE rnk <= 3
          AND event_type IN (
              SELECT event_type FROM events WHERE user_id IS NOT NULL
              GROUP BY event_type
              HAVING COUNT(DISTINCT CAST(user_id AS VARCHAR)) <= {capacity}
          )
        UNION ALL
        -- the saturation sentinel, mirrored: a group whose EXACT
        -- distinct-user count exceeds the sketch capacity emits
        -- (rnk=0, NULL user, NULL count) instead of approximation
        -- content — the ndv saturation_guard's contract, exact at
        -- every SF (fires at the sf10 sweep: 150k users vs 65536)
        SELECT 'topk_sk' AS kind, CAST(NULL AS BIGINT) AS user_id,
               event_type,
               CAST(NULL AS BIGINT) AS first_event_id,
               CAST(0 AS BIGINT) AS n_sessions,
               CAST(NULL AS BIGINT) AS n_events,
               CAST(NULL AS VARCHAR) AS hashset_count
        FROM events WHERE user_id IS NOT NULL
        GROUP BY event_type
        HAVING COUNT(DISTINCT CAST(user_id AS VARCHAR)) > {capacity}
    """.replace("{capacity}", str(_TOPK_SKETCH_CAPACITY)),
)
def streaming_state_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three stateful-streaming batch twins in one tagged result:
    gap-based sessionization (``sessionize_batch``), first-event-per-key
    dedup (``dedup_batch``, dropDuplicatesWithinWatermark's
    deterministic twin), and the reference UDA's streaming face —
    running exact distinct users per event_type with faithful
    string/NULL semantics (``streaming.windows.hashset_count_stateful``;
    SURVEY.md §8). tests/test_streaming.py asserts the live readStream
    pipelines equal the underlying plans."""
    def _b_sess():
        return sessionize_batch(spark, sf_dir).select(
            F.lit("sessionize").alias("kind"),
            "user_id",
            F.lit(None).cast("string").alias("event_type"),
            F.lit(None).cast("long").alias("first_event_id"),
            F.col("n_sessions").cast("long").alias("n_sessions"),
            "n_events",
            F.lit(None).cast("string").alias("hashset_count"),
        )

    def _b_ded():
        return dedup_batch(spark, sf_dir).select(
            F.lit("dedup").alias("kind"),
            "user_id",
            "event_type",
            "first_event_id",
            F.lit(None).cast("long").alias("n_sessions"),
            F.lit(None).cast("long").alias("n_events"),
            F.lit(None).cast("string").alias("hashset_count"),
        )

    def _b_dist():
        return distinct_batch(spark, sf_dir).select(
            F.lit("distinct").alias("kind"),
            F.lit(None).cast("long").alias("user_id"),
            "event_type",
            F.lit(None).cast("long").alias("first_event_id"),
            F.lit(None).cast("long").alias("n_sessions"),
            F.lit(None).cast("long").alias("n_events"),
            "hashset_count",
        )

    sess, ded, dist = fanout(_b_sess, _b_ded, _b_dist)
    # the streaming frequent-items sketch's batch twin — the SAME
    # operator code (groupBy + sketch agg + in-array ranking is
    # engine-agnostic) run on the batch table, hash-mirrored by the
    # exact top-3 WITHIN capacity and by the saturation sentinel
    # beyond it (saturation_guard='ndv': distinct users per
    # event_type are ~150/SF-0.01-unit — 1.5k at the bench SF, 15k at
    # sf1, 150k at sf10, where 65536 slots saturate BY DESIGN and the
    # r8 sweep caught the in-between regime: the estimate is neither
    # exact nor empty but a shrunken eviction-defined array no oracle
    # can reproduce; the ndv guard suppresses approximation content
    # and the sentinel itself sits under the driver hash at every
    # SF — capacity sizing is no longer a per-SF treadmill). The live
    # stream==batch equality is tests/test_streaming.py::
    # test_stream_top_users_sketch_matches_batch_exact.
    from ..streaming.windows import stream_top_users_sketch

    tks = stream_top_users_sketch(
        load_table(spark, sf_dir, "events"), k=3,
        max_items=_TOPK_SKETCH_CAPACITY,
        saturation_guard="ndv",
    ).select(
        F.lit("topk_sk").alias("kind"),
        F.col("user_id").cast("long").alias("user_id"),
        "event_type",
        F.lit(None).cast("long").alias("first_event_id"),
        F.col("rnk").cast("long").alias("n_sessions"),
        F.col("n_events").alias("n_events"),
        F.lit(None).cast("string").alias("hashset_count"),
    )
    return sess.union(ded).union(dist).union(tks)


@register(
    "streaming_interval_join_batch",
    oracle="""
        SELECT 'pair' AS tag,
               l.user_id AS user_id,
               l.event_id AS l_event,
               r.event_id AS r_event
        FROM events l JOIN events r
          ON l.user_id = r.user_id
         AND r.ts > l.ts
         AND r.ts <= l.ts + INTERVAL 10 MINUTE
        UNION ALL
        SELECT 'lone', l.user_id, l.event_id, NULL
        FROM events l
        WHERE NOT EXISTS (
            SELECT 1 FROM events r
            WHERE r.user_id = l.user_id
              AND r.ts > l.ts
              AND r.ts <= l.ts + INTERVAL 10 MINUTE
        )
        UNION ALL
        SELECT 'lone_r', r.user_id, NULL, r.event_id
        FROM events r
        WHERE NOT EXISTS (
            SELECT 1 FROM events l
            WHERE l.user_id = r.user_id
              AND r.ts > l.ts
              AND r.ts <= l.ts + INTERVAL 10 MINUTE
        )
        UNION ALL
        SELECT 'enrich', e.user_id, e.event_id,
               CAST(c.c_nationkey AS BIGINT)
        FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def streaming_interval_join_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three stream-stream interval joins and the stream-static
    enrichment, tagged, from the streaming faces run on the static
    events table. One ``stream_interval_join_full_outer(ev, ev)`` gives
    all join rows, tagged by the NULL side (``event_id`` is the events
    key, never NULL, so a NULL side marks an unmatched row):
    - ``pair``: the INNER semantics, a same-user follow-up within 10
      minutes;
    - ``lone`` (NULL ``r_event``): an event with NO follow-up; pair +
      lone is the LEFT OUTER face's result;
    - ``lone_r`` (NULL ``l_event``): an event with no PRECEDING event
      in-window; pair + lone + lone_r is the FULL OUTER result.
    The ``enrich`` branch is ``stream_static_enrich``: every event
    left-joined to its customer's nation key over a broadcast dimension
    — stateless, no watermark."""
    ev = _t(spark, sf_dir, "events")
    joined = stream_interval_join_full_outer(ev, ev).select(
        F.when(F.col("l_event").isNull(), "lone_r")
        .when(F.col("r_event").isNull(), "lone")
        .otherwise("pair")
        .alias("tag"),
        "user_id",
        "l_event",
        "r_event",
    )
    cust = _t(spark, sf_dir, "customer")
    enrich = stream_static_enrich(
        ev, cust, "user_id", "c_custkey", ("c_nationkey",), "left"
    ).select(
        F.lit("enrich").alias("tag"),
        "user_id",
        F.col("event_id").alias("l_event"),
        F.col("c_nationkey").cast("long").alias("r_event"),
    )
    return joined.unionByName(enrich)


def _jpeg_oracle_sql() -> tuple[str, str]:
    """(CTEs, union-select) for the ``jpeg`` tag: recompute the REAL
    baseline-JPEG decode's output pixels ARITHMETICALLY — the fixture
    coefficients S = q * t as literal formulas of (doc_id, block), the
    2^12-scaled integer IDCT basis (``JPEG_IDCT_TABLE``) as list
    literals, the same positive-bias floor division, level shift, and
    clamp — so the oracle puts the decoder's huffman/run/EOB/restart/
    dequant/zigzag/IDCT chain under the driver's hash signal with zero
    trust in the Python side. Generated from the SAME module constants
    the codec uses (no transcription to drift)."""
    from ..operators.multimodal import JPEG_FIXTURE_QTABLE, JPEG_IDCT_TABLE

    t = {
        u: "[" + ", ".join(str(v) for v in JPEG_IDCT_TABLE[u]) + "]"
        for u in (0, 1, 2)
    }
    q = JPEG_FIXTURE_QTABLE
    ctes = f"""
        jb AS (SELECT doc_id, UNNEST(RANGE(4)) AS b FROM documents),
        jc AS (
            SELECT doc_id, b, f.u, f.v, f.s FROM jb, LATERAL (VALUES
                (0, 0, ((doc_id * 5 + b * 7) % 121 - 60) * {q[0][0]}),
                (1, 0, ((doc_id + b) % 15 - 7) * {q[0][1]}),
                (0, 1, ((doc_id * 3 + b) % 13 - 6) * {q[1][0]}),
                (2, 2, ((doc_id * 7 + b) % 9 - 4) * {q[2][2]})
            ) AS f(u, v, s)
        ),
        jxy AS (
            SELECT doc_id, b, y, UNNEST(RANGE(8)) AS x
            FROM (SELECT doc_id, b, UNNEST(RANGE(8)) AS y FROM jb)
        ),
        jacc AS (
            SELECT c.doc_id, c.b, g.x, g.y,
                   SUM(c.s
                       * (CASE c.u WHEN 0 THEN {t[0]}[g.x + 1]
                               WHEN 1 THEN {t[1]}[g.x + 1]
                               ELSE {t[2]}[g.x + 1] END)
                       * (CASE c.v WHEN 0 THEN {t[0]}[g.y + 1]
                               WHEN 1 THEN {t[1]}[g.y + 1]
                               ELSE {t[2]}[g.y + 1] END)) AS acc
            FROM jc c JOIN jxy g ON c.doc_id = g.doc_id AND c.b = g.b
            GROUP BY 1, 2, 3, 4
        ),
        jpix AS (
            SELECT doc_id, b, x, y,
                   LEAST(255, GREATEST(0,
                       (acc + 8388608 + 1099511627776) // 16777216
                       - 65536 + 128)) AS p
            FROM jacc
        ),
        jsum AS (
            SELECT doc_id,
                   CAST(SUM(p) AS BIGINT) AS pix_sum,
                   CAST(SUM(CASE WHEN x % 2 = 0 AND y % 2 = 0 THEN p
                                 ELSE 0 END) AS BIGINT) AS out_sum
            FROM jpix GROUP BY doc_id
        )"""
    union = """
        UNION ALL
        SELECT 'jpeg' AS tag, doc_id,
               CAST(256 AS INTEGER) AS byte_len,
               CAST(16 AS INTEGER) AS width,
               CAST(16 AS INTEGER) AS height,
               CAST(1 AS INTEGER) AS channels,
               CAST(1 AS INTEGER) AS n_frames,
               CAST(16 AS INTEGER) AS src_width,
               CAST(16 AS INTEGER) AS src_height,
               CAST(8 AS INTEGER) AS out_width,
               CAST(8 AS INTEGER) AS out_height,
               CAST(64 AS INTEGER) AS out_bytes,
               pix_sum, out_sum
        FROM jsum
        UNION ALL
        SELECT 'jpeg_prog' AS tag, doc_id,
               CAST(256 AS INTEGER) AS byte_len,
               CAST(16 AS INTEGER) AS width,
               CAST(16 AS INTEGER) AS height,
               CAST(1 AS INTEGER) AS channels,
               CAST(1 AS INTEGER) AS n_frames,
               CAST(16 AS INTEGER) AS src_width,
               CAST(16 AS INTEGER) AS src_height,
               CAST(8 AS INTEGER) AS out_width,
               CAST(8 AS INTEGER) AS out_height,
               CAST(64 AS INTEGER) AS out_bytes,
               pix_sum, out_sum
        FROM jsum"""
    return ctes, union


def _jpeg420_oracle_sql() -> tuple[str, str]:
    """(CTEs, union-select) for the ``jpeg420`` tag: the CHROMA-
    SUBSAMPLED decode path under the driver hash. The fixture is
    DC-only (``jpeg420_fixture_dcs``) so every 8x8 region decodes to a
    constant — acc = S * T[0][x] * T[0][y] with T[0][*] uniform — and
    the oracle reduces to per-quadrant closed-form integer arithmetic:
    the IDCT fixed point, the per-component DQT binding (distinct luma
    and chroma q[0][0]), the replication upsample (chroma constant
    spans the MCU), and the 2^16 fixed-point YCbCr->RGB with its
    positive-bias floor. Any sampling-factor parse, MCU block-order,
    DQT-binding, upsample, or color-convert bug flips a sum. Generated
    from the SAME module constants the codec uses."""
    from ..operators.multimodal import (
        JPEG_FIXTURE_QTABLE,
        JPEG_FIXTURE_QTABLE_C,
        JPEG_IDCT_TABLE,
    )

    qy = JPEG_FIXTURE_QTABLE[0][0]
    qc = JPEG_FIXTURE_QTABLE_C[0][0]
    t2 = JPEG_IDCT_TABLE[0][0] ** 2

    def idc(expr: str, q00: int) -> str:
        return (
            f"LEAST(255, GREATEST(0, (({expr}) * {q00} * {t2} "
            "+ 8388608 + 1099511627776) // 16777216 - 65536 + 128))"
        )

    def fxp(expr: str) -> str:
        return f"(({expr}) + 32768 + 1073741824) // 65536 - 16384"

    ctes = f"""
        j4y AS (
            SELECT doc_id, b,
                   {idc("(doc_id * 3 + b * 11) % 121 - 60", qy)} AS yv,
                   {idc("(doc_id * 5) % 81 - 40", qc)} AS cbv,
                   {idc("(doc_id * 7) % 81 - 40", qc)} AS crv
            FROM (SELECT doc_id, UNNEST(RANGE(4)) AS b FROM documents)
        ),
        j4rgb AS (
            SELECT doc_id, b,
                   LEAST(255, GREATEST(0,
                       yv + ({fxp("91881 * (crv - 128)")}))) AS r,
                   LEAST(255, GREATEST(0,
                       yv - ({fxp("22554 * (cbv - 128) + 46802 * (crv - 128)")}))) AS g,
                   LEAST(255, GREATEST(0,
                       yv + ({fxp("116130 * (cbv - 128)")}))) AS bb
            FROM j4y
        ),
        j4sum AS (
            SELECT doc_id,
                   CAST(SUM(64 * (r + g + bb)) AS BIGINT) AS pix_sum,
                   CAST(SUM(16 * (r + g + bb)) AS BIGINT) AS out_sum
            FROM j4rgb GROUP BY doc_id
        )"""
    union = """
        UNION ALL
        SELECT 'jpeg420' AS tag, doc_id,
               CAST(768 AS INTEGER) AS byte_len,
               CAST(16 AS INTEGER) AS width,
               CAST(16 AS INTEGER) AS height,
               CAST(3 AS INTEGER) AS channels,
               CAST(1 AS INTEGER) AS n_frames,
               CAST(16 AS INTEGER) AS src_width,
               CAST(16 AS INTEGER) AS src_height,
               CAST(8 AS INTEGER) AS out_width,
               CAST(8 AS INTEGER) AS out_height,
               CAST(192 AS INTEGER) AS out_bytes,
               pix_sum, out_sum
        FROM j4sum"""
    return ctes, union


_JPEG_ORACLE_CTES, _JPEG_ORACLE_UNION = _jpeg_oracle_sql()
_JPEG420_ORACLE_CTES, _JPEG420_ORACLE_UNION = _jpeg420_oracle_sql()

# the dhash_pairs tag's participation budget — ONE definition shared
# by the entry's stride derivation and the oracle's dhp_n scalar (the
# same lock-together rule as _TOPK_SKETCH_CAPACITY). The planted
# fixture's groups are doc_id % 256, so group sizes — and the TRUE
# near-pair answer — grow linearly with the corpus and the pair set
# quadratically: at sf10 (500k docs) that is ~5e8 genuine pairs, a
# generator-fixture artifact no engine can make linear (found by the
# r7 sf10 sweep: one band bucket held a whole 2k-member group, a
# 25-minute single-task straggler, and the oracle's serial fold had
# ~1e9 rows to hash). Both sides therefore stride the fixture down to
# ~_DHASH_PAIR_DOCS participating docs — (doc_id DIV 256) % s = 0
# with s = ceil(n/cap) derived from the SAME corpus count on each
# side — keeping per-group sizes ~20 at EVERY SF. At the driver gate
# (<= 5120 docs) s = 1: bit-identical to the unstrided definition.
_DHASH_PAIR_DOCS = 5120

#: sf_dir -> documents row count, memoized so the stride derivation's
#: count job runs ONCE per dataset per process instead of on every
#: build of the multimodal entry (parity sweeps / explain / plan-budget
#: paths all rebuild the plan; the count itself is a column-pruned
#: parquet count — cheap, but not free at sf10+). The documents tables
#: are immutable inputs, so process-lifetime memoization is safe.
_DOC_COUNT_CACHE: dict[str, int] = {}


def _documents_count(d, sf_dir: str) -> int:
    if sf_dir not in _DOC_COUNT_CACHE:
        _DOC_COUNT_CACHE[sf_dir] = d.count()
    return _DOC_COUNT_CACHE[sf_dir]


@register(
    "multimodal_image_pipeline",
    oracle="""
        WITH m AS (
            SELECT doc_id, OCTET_LENGTH(ENCODE(text)) AS n,
                   64 + OCTET_LENGTH(ENCODE(text)) % 576 AS w,
                   64 + (OCTET_LENGTH(ENCODE(text)) // 7) % 448 AS h
            FROM documents
        ),
        dims AS (
            SELECT doc_id,
                   8 + doc_id % 24 AS w,
                   8 + (doc_id // 3) % 16 AS h
            FROM documents
        ),
        pix AS (
            SELECT doc_id,
                   (doc_id * 7 + UNNEST(RANGE(w * h * 3)) * 13) % 256 AS v
            FROM dims
        ),
        psum AS (SELECT doc_id, CAST(SUM(v) AS BIGINT) AS pix_sum
                 FROM pix GROUP BY doc_id),
        od AS (
            SELECT doc_id, w, h,
                   CAST(GREATEST(1, FLOOR(w * LEAST(16.0 / w, 16.0 / h)))
                        AS BIGINT) AS ow,
                   CAST(GREATEST(1, FLOOR(h * LEAST(16.0 / w, 16.0 / h)))
                        AS BIGINT) AS oh
            FROM dims
        ),
        oy AS (
            SELECT doc_id, w, h, ow, oh, UNNEST(RANGE(oh)) AS y FROM od
        ),
        oxy AS (
            SELECT doc_id, w, h, ow, oh, y, UNNEST(RANGE(ow)) AS x FROM oy
        ),
        opix AS (
            SELECT doc_id,
                   (doc_id * 7
                    + ((LEAST(h - 1, y * h // oh) * w
                        + LEAST(w - 1, x * w // ow)) * 3
                       + UNNEST(RANGE(3))) * 13) % 256 AS v
            FROM oxy
        ),
        osum AS (SELECT doc_id, CAST(SUM(v) AS BIGINT) AS out_sum
                 FROM opix GROUP BY doc_id),
        dh_cells AS (
            SELECT doc_id, w, h, r, c,
                   LEAST(h - 1, r * h // 8) AS y,
                   LEAST(w - 1, c * w // 9) AS x1,
                   LEAST(w - 1, (c + 1) * w // 9) AS x2
            FROM (SELECT doc_id, w, h, UNNEST(RANGE(8)) AS r FROM dims),
                 (SELECT UNNEST(RANGE(8)) AS c)
        ),
        dh_luma AS (
            SELECT doc_id, r, c,
                   (299 * ((doc_id * 7 + ((y * w + x1) * 3 + 0) * 13) % 256)
                  + 587 * ((doc_id * 7 + ((y * w + x1) * 3 + 1) * 13) % 256)
                  + 114 * ((doc_id * 7 + ((y * w + x1) * 3 + 2) * 13) % 256))
                       // 1000 AS l1,
                   (299 * ((doc_id * 7 + ((y * w + x2) * 3 + 0) * 13) % 256)
                  + 587 * ((doc_id * 7 + ((y * w + x2) * 3 + 1) * 13) % 256)
                  + 114 * ((doc_id * 7 + ((y * w + x2) * 3 + 2) * 13) % 256))
                       // 1000 AS l2
            FROM dh_cells
        ),
        dh AS (
            SELECT doc_id,
                   CAST(SUM(CASE WHEN r < 4 AND l1 > l2
                                 THEN CAST(1 AS BIGINT) << (31 - (r * 8 + c))
                                 ELSE 0 END) AS BIGINT) AS dhash_hi,
                   CAST(SUM(CASE WHEN r >= 4 AND l1 > l2
                                 THEN CAST(1 AS BIGINT)
                                      << (31 - ((r - 4) * 8 + c))
                                 ELSE 0 END) AS BIGINT) AS dhash_lo
            FROM dh_luma GROUP BY doc_id
        ),
        dhp AS (
            SELECT doc_id, doc_id % 256 AS grp,
                   CASE WHEN doc_id % 3 = 0 THEN NULL
                        ELSE (doc_id * 7) % 64 END AS fp
            FROM documents
        ),
        dhp_bits AS (
            SELECT doc_id,
                   CAST(SUM(CASE WHEN j < 32 AND bit
                                 THEN CAST(1 AS BIGINT) << (31 - j)
                                 ELSE 0 END) AS BIGINT) AS hi,
                   CAST(SUM(CASE WHEN j >= 32 AND bit
                                 THEN CAST(1 AS BIGINT) << (63 - j)
                                 ELSE 0 END) AS BIGINT) AS lo
            FROM (
                SELECT d.doc_id, js.j,
                       ((((d.grp >> (7 - js.j // 8)) & 1) = 1)
                        <> (d.fp IS NOT NULL AND js.j = d.fp)) AS bit
                FROM dhp d, (SELECT UNNEST(RANGE(64)) AS j) js
            ) GROUP BY doc_id
        ),
        dhp_n AS (
            SELECT CAST(GREATEST(1, CEIL(COUNT(*) / {dhp_cap}.0))
                        AS BIGINT) AS s
            FROM documents
        ),
        dhp_part AS (
            SELECT d.* FROM dhp d, dhp_n
            WHERE (d.doc_id // 256) % dhp_n.s = 0
        ),
        dhp_pairs AS (
            SELECT a.doc_id AS id_1, b.doc_id AS id_2,
                   CASE WHEN a.fp IS NULL AND b.fp IS NULL THEN 0
                        WHEN a.fp IS NULL OR b.fp IS NULL THEN 1
                        WHEN a.fp = b.fp THEN 0
                        ELSE 2 END AS hamming
            FROM dhp_part a JOIN dhp_part b
              ON a.grp = b.grp AND a.doc_id < b.doc_id
        ),
        gdims AS (
            SELECT doc_id, 8 + doc_id % 16 AS w,
                   8 + (doc_id // 2) % 8 AS h,
                   2 + doc_id % 3 AS nf
            FROM documents
        ),
        gpix AS (
            SELECT doc_id, nf, i // (w * h) AS t,
                   (doc_id + 3 * (i % w) + 7 * ((i // w) % h)
                    + 11 * (i // (w * h))) % 256 AS k
            FROM (SELECT doc_id, w, h, nf,
                         UNNEST(RANGE(w * h * nf)) AS i
                  FROM gdims)
        ),
        gfs AS (
            SELECT doc_id, nf, t,
                   CAST(SUM(k + (2 * k) % 256 + (7 * k) % 256) AS BIGINT)
                       AS fsum
            FROM gpix GROUP BY doc_id, nf, t
        ),
        gsum AS (
            SELECT doc_id,
                   CAST(SUM(fsum) AS BIGINT) AS pix_sum,
                   CAST(SUM(CASE WHEN t = nf - 1 THEN fsum END) AS BIGINT)
                       AS out_sum
            FROM gfs GROUP BY doc_id
        ),""".replace("{dhp_cap}", str(_DHASH_PAIR_DOCS))
    + _JPEG_ORACLE_CTES + ","
    + _JPEG420_ORACLE_CTES + """
        SELECT 'stub' AS tag, doc_id,
               CAST(n AS INTEGER) AS byte_len,
               CAST(w AS INTEGER) AS width,
               CAST(h AS INTEGER) AS height,
               CAST(3 AS INTEGER) AS channels,
               CAST(1 + n % 8 AS INTEGER) AS n_frames,
               CAST(w AS INTEGER) AS src_width,
               CAST(h AS INTEGER) AS src_height,
               CAST(GREATEST(1, FLOOR(w * LEAST(224.0 / w, 224.0 / h)))
                    AS INTEGER) AS out_width,
               CAST(GREATEST(1, FLOOR(h * LEAST(224.0 / w, 224.0 / h)))
                    AS INTEGER) AS out_height,
               CAST(GREATEST(1, FLOOR(w * LEAST(224.0 / w, 224.0 / h)))
                    * GREATEST(1, FLOOR(h * LEAST(224.0 / w, 224.0 / h)))
                    * 3 AS INTEGER) AS out_bytes,
               CAST(NULL AS BIGINT) AS pix_sum,
               CAST(NULL AS BIGINT) AS out_sum
        FROM m
        UNION ALL
        SELECT 'png' AS tag, od.doc_id,
               CAST(od.w * od.h * 3 AS INTEGER) AS byte_len,
               CAST(od.w AS INTEGER) AS width,
               CAST(od.h AS INTEGER) AS height,
               CAST(3 AS INTEGER) AS channels,
               CAST(1 AS INTEGER) AS n_frames,
               CAST(od.w AS INTEGER) AS src_width,
               CAST(od.h AS INTEGER) AS src_height,
               CAST(od.ow AS INTEGER) AS out_width,
               CAST(od.oh AS INTEGER) AS out_height,
               CAST(od.ow * od.oh * 3 AS INTEGER) AS out_bytes,
               psum.pix_sum, osum.out_sum
        FROM od JOIN psum ON od.doc_id = psum.doc_id
                JOIN osum ON od.doc_id = osum.doc_id
        UNION ALL
        SELECT 'dhash' AS tag, dims.doc_id,
               CAST(dims.w * dims.h * 3 AS INTEGER) AS byte_len,
               CAST(dims.w AS INTEGER) AS width,
               CAST(dims.h AS INTEGER) AS height,
               CAST(3 AS INTEGER) AS channels,
               CAST(1 AS INTEGER) AS n_frames,
               CAST(dims.w AS INTEGER) AS src_width,
               CAST(dims.h AS INTEGER) AS src_height,
               CAST(9 AS INTEGER) AS out_width,
               CAST(8 AS INTEGER) AS out_height,
               CAST(8 AS INTEGER) AS out_bytes,
               dh.dhash_hi AS pix_sum,
               dh.dhash_lo AS out_sum
        FROM dims JOIN dh ON dims.doc_id = dh.doc_id
        UNION ALL
        SELECT 'dhash_sig' AS tag, b.doc_id,
               CAST(216 AS INTEGER) AS byte_len,
               CAST(9 AS INTEGER) AS width,
               CAST(8 AS INTEGER) AS height,
               CAST(3 AS INTEGER) AS channels,
               CAST(1 AS INTEGER) AS n_frames,
               CAST(9 AS INTEGER) AS src_width,
               CAST(8 AS INTEGER) AS src_height,
               CAST(9 AS INTEGER) AS out_width,
               CAST(8 AS INTEGER) AS out_height,
               CAST(8 AS INTEGER) AS out_bytes,
               b.hi AS pix_sum, b.lo AS out_sum
        FROM dhp_bits b
        UNION ALL
        SELECT 'dhash_pairs' AS tag, p.id_1 AS doc_id,
               CAST(NULL AS INTEGER) AS byte_len,
               CAST(NULL AS INTEGER) AS width,
               CAST(NULL AS INTEGER) AS height,
               CAST(NULL AS INTEGER) AS channels,
               CAST(NULL AS INTEGER) AS n_frames,
               CAST(NULL AS INTEGER) AS src_width,
               CAST(NULL AS INTEGER) AS src_height,
               CAST(NULL AS INTEGER) AS out_width,
               CAST(NULL AS INTEGER) AS out_height,
               CAST(NULL AS INTEGER) AS out_bytes,
               p.id_2 AS pix_sum, CAST(p.hamming AS BIGINT) AS out_sum
        FROM dhp_pairs p
        UNION ALL
        SELECT 'gif' AS tag, g.doc_id,
               CAST(d.w * d.h * d.nf AS INTEGER) AS byte_len,
               CAST(d.w AS INTEGER) AS width,
               CAST(d.h AS INTEGER) AS height,
               CAST(3 AS INTEGER) AS channels,
               CAST(d.nf AS INTEGER) AS n_frames,
               CAST(d.w AS INTEGER) AS src_width,
               CAST(d.h AS INTEGER) AS src_height,
               CAST(NULL AS INTEGER) AS out_width,
               CAST(NULL AS INTEGER) AS out_height,
               CAST(NULL AS INTEGER) AS out_bytes,
               g.pix_sum, g.out_sum
        FROM gsum g JOIN gdims d USING (doc_id)
    """ + _JPEG_ORACLE_UNION + _JPEG420_ORACLE_UNION,
)
def multimodal_image_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The image branch of the multimodal plumbing end-to-end, tagged:

    - ``stub``: binary payload column -> byte-balanced repartition
      (``size_balanced`` — at media scale a few giant payloads would
      otherwise skew tasks) -> mapInPandas metadata extraction AND
      mapInPandas aspect-fit resize into 224x224, joined on doc_id.
      Decode/resample is the documented deterministic STUB
      (fake_decode/fake_resize; the PIL path is gated) — the oracle
      mirrors the math over OCTET_LENGTH, proving the Arrow batch shape
      produces exactly the declared schema and values. Payload byte
      accounting (out_bytes == out_w*out_h*3 == len(payload)) is
      asserted in tests/test_multimodal_ivf.py.
    - ``png``: the REAL COMPRESSED-format decode tier proven by the
      driver's hard signal (``png_roundtrip_features``): per doc,
      deterministic ramp pixels are encoded as a PNG with CYCLING
      per-scanline filters and decoded back through the real
      chunk-walk + CRC + zlib-inflate + five-filter reconstruction
      parser (``decode_png``) inside one mapInPandas stage, then
      nearest-neighbor resized; the oracle recomputes the decoded and
      resized pixel SUMS arithmetically (generate_series over the same
      ramp), so any CRC, inflate, filter, or resample bug hash-fails.
    - ``jpeg``: the REAL ENTROPY-CODED format tier — the format web
      image corpora actually use — proven the same way
      (``jpeg_roundtrip_features``): deterministic quantized
      coefficients are written as a canonical baseline JPEG
      (DQT/SOF0/DHT/SOS + DRI restarts) and decoded back through the
      real marker-walking huffman/dequant/integer-IDCT parser
      (``decode_jpeg``, stdlib+numpy only); the oracle recomputes the
      DECODED pixels arithmetically from the same coefficient formulas
      and 2^12 IDCT basis literals, so any huffman, run/EOB, restart,
      zigzag, dequant, IDCT, or clamp bug hash-fails.
    - ``jpeg420``: the CHROMA-SUBSAMPLED decode path
      (``jpeg420_roundtrip_features``): a DC-only 4:2:0 color fixture
      (Y 2x2 + Cb/Cr 1x1, TWO DQT tables) decoded through the
      interleaved-MCU loop, replication upsample, and fixed-point
      YCbCr->RGB; DC-only blocks decode to per-quadrant constants, so
      the oracle recomputes the RGB sums closed-form — any
      sampling-factor, MCU block-order, DQT-binding, upsample, or
      color-convert bug hash-fails.
    - ``jpeg_prog``: the PROGRESSIVE (SOF2) decode path
      (``jpeg_prog_roundtrip_features``): the SAME coefficients as the
      ``jpeg`` tag written as a multi-scan progressive stream (DC
      first/refinement, AC spectral bands with EOB-runs,
      successive-approximation correction bits, restarts) and decoded
      through the scan accumulator; progressive reconstruction is
      coefficient-exact, so the baseline tag's pixel oracle certifies
      this path too — a scan-assembly bug diverges from the
      arithmetic recomputation and hash-fails.
    - ``dhash`` (r5): the PERCEPTUAL-HASH dedup tier
      (``dhash_roundtrip_features`` / ``operators.multimodal.dhash64``
      — the image counterpart of text SimHash): ramp pixels through a
      real BMP container, the magic-byte-sniffing decode, integer
      luma, the 9x8 nearest-neighbor thumbnail, and the 64
      gradient-sign bits, emitted as two 32-bit halves (pix_sum = hi,
      out_sum = lo) recomputed bit-for-bit by the oracle — any
      decode, luma-weight, sampling, bit-order, or packing bug
      hash-fails. The banded Hamming near-dup join over these hashes
      (``dhash_near_pairs`` — pigeonhole-exact at <= 3 bits with 4
      bands, LSH-style ubiquity guard) is hashed on the PLANTED corpus
      below, not on the ramp corpus (which is structurally self-similar
      by construction — every doc would pair with every doc, the
      correct dHash answer but a quadratic row set).
    - ``dhash_sig`` / ``dhash_pairs`` (r6): the banded Hamming
      NEAR-PAIR JOIN under the driver hash, on a planted
      NON-degenerate corpus (``planted_dhash_sig``: an 8x-repetition
      group code puts distinct groups >= 8 bits apart; each doc flips
      <= 1 bit, so the TRUE <=3-bit pair set is exactly the
      within-group pairs, each with a closed-form Hamming distance).
      Per doc, the signature round-trips a REAL 9x8 BMP through the
      real decode inside ``dhash64`` and its hi/lo halves sit under
      the hash (``dhash_sig`` — a planting or decode bug fails here
      first); then ``dhash_near_pairs`` (4-band equi-join,
      pigeonhole-exact at <= 3 bits, bit_count verification) must
      reproduce the oracle's arithmetic pair enumeration EXACTLY —
      ids and per-pair Hamming distance both under the hash
      (``dhash_pairs``).
    - ``gif`` (r8): the MULTI-FRAME (video-shaped) container tier
      (``gif_roundtrip_features``): per doc, 2-4 frames of
      deterministic palette indices encoded as a real animated GIF89a
      (genuine variable-width LZW with mid-stream CLEARs, graphic
      control extensions, a NETSCAPE loop block decoders must skip)
      and decoded back through the real container walk + LZW
      decompressor (``decode_gif``); the decoded-RGB sum over all
      frames AND the last frame's sum sit under the hash, so any
      sub-block, palette, code-width, CLEAR-reset, KwKwK or
      frame-ordering bug hash-fails against the oracle's arithmetic
      recomputation."""
    from ..operators.multimodal import (
        dhash_near_pairs,
        dhash_planted_features,
        dhash_roundtrip_features,
        gif_roundtrip_features,
        jpeg420_roundtrip_features,
        jpeg_prog_roundtrip_features,
        jpeg_roundtrip_features,
        png_roundtrip_features,
        size_balanced,
    )

    d = _t(spark, sf_dir, "documents")
    payloads = size_balanced(attach_binary_payload(d, "doc_id", "text"), "payload")
    meta = extract_image_metadata(payloads)
    rez = resize_images(payloads, target=224).drop("payload")
    stub = (
        meta.join(rez, "doc_id")
        .withColumn("tag", F.lit("stub"))
        .withColumn("pix_sum", F.lit(None).cast("long"))
        .withColumn("out_sum", F.lit(None).cast("long"))
    )
    png = png_roundtrip_features(payloads, target=16).select(
        F.lit("png").alias("tag"),
        "doc_id",
        (F.col("width") * F.col("height") * 3).cast("int").alias("byte_len"),
        "width",
        "height",
        F.lit(3).cast("int").alias("channels"),
        F.lit(1).cast("int").alias("n_frames"),
        F.col("width").alias("src_width"),
        F.col("height").alias("src_height"),
        "out_width",
        "out_height",
        (F.col("out_width") * F.col("out_height") * 3).cast("int").alias("out_bytes"),
        "pix_sum",
        "out_sum",
    )
    jpeg = jpeg_roundtrip_features(payloads, target=8).select(
        F.lit("jpeg").alias("tag"),
        "doc_id",
        (F.col("width") * F.col("height")).cast("int").alias("byte_len"),
        "width",
        "height",
        F.lit(1).cast("int").alias("channels"),
        F.lit(1).cast("int").alias("n_frames"),
        F.col("width").alias("src_width"),
        F.col("height").alias("src_height"),
        "out_width",
        "out_height",
        (F.col("out_width") * F.col("out_height")).cast("int").alias("out_bytes"),
        "pix_sum",
        "out_sum",
    )
    jpeg_prog = jpeg_prog_roundtrip_features(payloads, target=8).select(
        F.lit("jpeg_prog").alias("tag"),
        "doc_id",
        (F.col("width") * F.col("height")).cast("int").alias("byte_len"),
        "width",
        "height",
        F.lit(1).cast("int").alias("channels"),
        F.lit(1).cast("int").alias("n_frames"),
        F.col("width").alias("src_width"),
        F.col("height").alias("src_height"),
        "out_width",
        "out_height",
        (F.col("out_width") * F.col("out_height")).cast("int").alias("out_bytes"),
        "pix_sum",
        "out_sum",
    )
    jpeg420 = jpeg420_roundtrip_features(payloads, target=8).select(
        F.lit("jpeg420").alias("tag"),
        "doc_id",
        (F.col("width") * F.col("height") * 3).cast("int").alias("byte_len"),
        "width",
        "height",
        F.lit(3).cast("int").alias("channels"),
        F.lit(1).cast("int").alias("n_frames"),
        F.col("width").alias("src_width"),
        F.col("height").alias("src_height"),
        "out_width",
        "out_height",
        (F.col("out_width") * F.col("out_height") * 3).cast("int").alias("out_bytes"),
        "pix_sum",
        "out_sum",
    )
    dhash = dhash_roundtrip_features(payloads).select(
        F.lit("dhash").alias("tag"),
        "doc_id",
        (F.col("width") * F.col("height") * 3).cast("int").alias("byte_len"),
        "width",
        "height",
        F.lit(3).cast("int").alias("channels"),
        F.lit(1).cast("int").alias("n_frames"),
        F.col("width").alias("src_width"),
        F.col("height").alias("src_height"),
        F.lit(9).cast("int").alias("out_width"),
        F.lit(8).cast("int").alias("out_height"),
        F.lit(8).cast("int").alias("out_bytes"),
        F.col("dhash_hi").alias("pix_sum"),
        F.col("dhash_lo").alias("out_sum"),
    )
    planted = dhash_planted_features(d)
    nulli = F.lit(None).cast("int")
    dsig = planted.select(
        F.lit("dhash_sig").alias("tag"),
        "doc_id",
        F.lit(216).cast("int").alias("byte_len"),
        F.lit(9).cast("int").alias("width"),
        F.lit(8).cast("int").alias("height"),
        F.lit(3).cast("int").alias("channels"),
        F.lit(1).cast("int").alias("n_frames"),
        F.lit(9).cast("int").alias("src_width"),
        F.lit(8).cast("int").alias("src_height"),
        F.lit(9).cast("int").alias("out_width"),
        F.lit(8).cast("int").alias("out_height"),
        F.lit(8).cast("int").alias("out_bytes"),
        F.col("dhash_hi").alias("pix_sum"),
        F.col("dhash_lo").alias("out_sum"),
    )
    # stride the planted fixture to ~_DHASH_PAIR_DOCS participating
    # docs (see the constant's comment): one bounded, per-dataset
    # MEMOIZED count derives the same s the oracle's dhp_n scalar
    # computes; s = 1 at the driver gate, so gate results are
    # bit-identical to the unstrided form. NOTE: the first build per
    # dataset runs this count eagerly at plan-construction time — the
    # stride must be a literal in both the plan and the oracle.
    import math

    n_docs = _documents_count(d, sf_dir)
    stride = max(1, math.ceil(n_docs / _DHASH_PAIR_DOCS))
    part = dhash_planted_features(
        d.where(F.expr(f"(doc_id DIV 256) % {stride} = 0"))
    )
    nulli2 = F.lit(None).cast("int")
    gif = gif_roundtrip_features(d).select(
        F.lit("gif").alias("tag"),
        "doc_id",
        (F.col("width") * F.col("height") * F.col("n_frames"))
        .cast("int")
        .alias("byte_len"),
        "width",
        "height",
        F.lit(3).cast("int").alias("channels"),
        "n_frames",
        F.col("width").alias("src_width"),
        F.col("height").alias("src_height"),
        nulli2.alias("out_width"),
        nulli2.alias("out_height"),
        nulli2.alias("out_bytes"),
        "pix_sum",
        "out_sum",
    )
    dpairs = dhash_near_pairs(
        part.select("doc_id", "dhash"), max_hamming=3, bands=4
    ).select(
        F.lit("dhash_pairs").alias("tag"),
        F.col("id_1").alias("doc_id"),
        nulli.alias("byte_len"),
        nulli.alias("width"),
        nulli.alias("height"),
        nulli.alias("channels"),
        nulli.alias("n_frames"),
        nulli.alias("src_width"),
        nulli.alias("src_height"),
        nulli.alias("out_width"),
        nulli.alias("out_height"),
        nulli.alias("out_bytes"),
        F.col("id_2").alias("pix_sum"),
        F.col("hamming").cast("long").alias("out_sum"),
    )
    return (
        stub.select(
            "tag", "doc_id", "byte_len", "width", "height", "channels",
            "n_frames", "src_width", "src_height", "out_width", "out_height",
            "out_bytes", "pix_sum", "out_sum",
        )
        .unionByName(png)
        .unionByName(jpeg)
        .unionByName(jpeg_prog)
        .unionByName(jpeg420)
        .unionByName(dhash)
        .unionByName(dsig)
        .unionByName(dpairs)
        .unionByName(gif)
    )


@register(
    "multimodal_av_features",
    oracle="""
        WITH a AS (
            SELECT doc_id, text, LENGTH(text) AS n
            FROM documents
            WHERE LENGTH(text) = OCTET_LENGTH(ENCODE(text))
        ),
        fh AS (
            SELECT doc_id,
                   MD5(SUBSTRING(text, 0 * (n // 4) + 1, GREATEST(n // 4, 1))) AS fh_0,
                   MD5(SUBSTRING(text, 1 * (n // 4) + 1, GREATEST(n // 4, 1))) AS fh_1,
                   MD5(SUBSTRING(text, 2 * (n // 4) + 1, GREATEST(n // 4, 1))) AS fh_2,
                   MD5(SUBSTRING(text, 3 * (n // 4) + 1, GREATEST(n // 4, 1))) AS fh_3
            FROM a
        )
        SELECT 'stub' AS tag, d.doc_id,
               CAST(OCTET_LENGTH(ENCODE(d.text)) AS INTEGER) AS byte_len,
               CAST(8000 * (1 << (OCTET_LENGTH(ENCODE(d.text)) % 3)) AS INTEGER)
                   AS sample_rate,
               CAST(1 + OCTET_LENGTH(ENCODE(d.text)) % 2 AS INTEGER) AS n_channels,
               CAST(OCTET_LENGTH(ENCODE(d.text)) * 32 AS BIGINT) AS n_samples,
               (OCTET_LENGTH(ENCODE(d.text)) * 32.0)
                   / (8000 * (1 << (OCTET_LENGTH(ENCODE(d.text)) % 3))) AS duration_s,
               fh.fh_0, fh.fh_1, fh.fh_2, fh.fh_3,
               CAST(NULL AS INTEGER) AS peak, CAST(NULL AS DOUBLE) AS rms
        FROM documents d LEFT JOIN fh ON d.doc_id = fh.doc_id
        UNION ALL
        SELECT 'wav' AS tag, doc_id,
               CAST(44 + 2 * ns AS INTEGER) AS byte_len,
               CAST(16000 AS INTEGER) AS sample_rate,
               CAST(1 AS INTEGER) AS n_channels,
               CAST(ns AS BIGINT) AS n_samples,
               CAST(ns AS DOUBLE) / CAST(16000 AS DOUBLE) AS duration_s,
               NULL AS fh_0, NULL AS fh_1, NULL AS fh_2, NULL AS fh_3,
               CAST(MAX(ABS(v)) AS INTEGER) AS peak,
               SQRT(CAST(SUM(v * v) AS DOUBLE) / ns) AS rms
        FROM (
            SELECT doc_id, ns,
                   ((doc_id * 31 + UNNEST(RANGE(ns)) * 7) % 65536) - 32768 AS v
            FROM (
                SELECT doc_id,
                       OCTET_LENGTH(ENCODE(text)) % 256 + 4 AS ns
                FROM documents
            )
        )
        GROUP BY doc_id, ns
    """,
)
def multimodal_av_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio + 'video' branches of the multimodal plumbing in one row
    per document: mapInPandas audio feature extraction (sample rate,
    channels, samples, duration — deterministic STUB decode, oracle
    mirrored over OCTET_LENGTH) left-joined with the per-doc frame
    fingerprints (4 byte-range slices per payload, each hashed JVM-side
    — no Python in that loop — pivoted to fh_0..fh_3). Frame hashing is
    restricted to ASCII payloads because the DuckDB oracle can only
    slice/hash VARCHAR — on ASCII, byte slices == char slices; non-ASCII
    docs carry NULL frame hashes. Production uses the xxhash64 variant
    with no such restriction.

    The tagged 'wav' arm is the REAL audio decode tier proven by the
    driver's hard signal: per doc, deterministic ramp PCM is encoded as
    a canonical RIFF/WAVE file by ``encode_wav`` and decoded back by the
    real chunk-walking ``decode_wav`` parser inside one mapInPandas
    stage; the oracle recomputes byte_len/n_samples/peak/rms
    arithmetically (generate_series over the same ramp), so any header,
    chunk-walk, or sample-extraction bug hash-fails."""
    d = _t(spark, sf_dir, "documents")
    payloads = attach_binary_payload(d, "doc_id", "text")
    audio = extract_audio_features(payloads)
    ascii_docs = d.filter(F.length("text") == F.octet_length("text"))
    frames = frame_sample_hashes(
        attach_binary_payload(ascii_docs, "doc_id", "text"), n_frames=4, hash_fn="md5"
    )
    fh = frames.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("frame_id") == i, F.col("frame_hash"))).alias(f"fh_{i}")
            for i in range(4)
        ]
    )
    stub = audio.join(fh, "doc_id", "left").select(
        F.lit("stub").alias("tag"),
        "doc_id",
        "byte_len",
        "sample_rate",
        "n_channels",
        "n_samples",
        "duration_s",
        "fh_0",
        "fh_1",
        "fh_2",
        "fh_3",
        F.lit(None).cast("int").alias("peak"),
        F.lit(None).cast("double").alias("rms"),
    )
    wav = wav_roundtrip_features(payloads).select(
        F.lit("wav").alias("tag"),
        "doc_id",
        "byte_len",
        "sample_rate",
        "n_channels",
        "n_samples",
        "duration_s",
        F.lit(None).cast("string").alias("fh_0"),
        F.lit(None).cast("string").alias("fh_1"),
        F.lit(None).cast("string").alias("fh_2"),
        F.lit(None).cast("string").alias("fh_3"),
        "peak",
        "rms",
    )
    return stub.unionByName(wav)
