"""Source/sink parity: every format the engine claims (parquet, csv,
json, orc) round-trips through write_sink -> read_source with values
intact, and partitioned writes produce prunable hive layouts.

NUL bytes and non-ASCII survive the hashset_count path (the reference
corrupts on embedded `\\0` — `/root/reference/README.md:9` — and this
rebuild explicitly must not)."""

import os

from pyspark.sql import functions as F

from impala_hashset_count_spark.operators.hashset_count import hashset_count_df
from impala_hashset_count_spark.sources.tables import (
    load_table,
    read_source,
    write_sink,
)


def _roundtrip(spark, df, fmt, path, **opts):
    write_sink(df, fmt, path, **opts)
    schema = df.schema if fmt in ("csv", "json") else None
    back = read_source(spark, fmt, path, schema=schema, **opts)
    return back


def test_roundtrip_all_formats(spark, sf_small, tmp_path):
    src = load_table(spark, sf_small, "nation")
    expect = sorted(map(tuple, src.collect()))
    for fmt in ("parquet", "orc", "json", "csv"):
        opts = {"header": "true"} if fmt == "csv" else {}
        back = _roundtrip(
            spark, src, fmt, os.path.join(str(tmp_path), fmt), **opts
        )
        assert sorted(map(tuple, back.select(*src.columns).collect())) == expect, fmt


def test_partitioned_write_prunes(spark, sf_small, tmp_path):
    src = load_table(spark, sf_small, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = os.path.join(str(tmp_path), "orders_part")
    write_sink(src, "parquet", path, partition_by=["o_orderstatus"])
    # hive layout on disk: one dir per status value
    dirs = {d for d in os.listdir(path) if d.startswith("o_orderstatus=")}
    assert len(dirs) >= 2
    back = read_source(spark, "parquet", path).filter(F.col("o_orderstatus") == "F")
    # partition pruning visible in the plan: only the matching dir is read
    assert back.count() == src.filter(F.col("o_orderstatus") == "F").count()
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    assert "o_orderstatus" in plan.split("PartitionFilters", 1)[1].splitlines()[0]


def test_write_clustered_disjoint_ranges(spark, sf_small, tmp_path):
    """Range-clustered output: per-file key ranges must be disjoint so
    parquet min/max stats prune file-level reads downstream."""
    import pyarrow.parquet as pq

    from impala_hashset_count_spark.sources.tables import write_clustered

    src = load_table(spark, sf_small, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    path = os.path.join(str(tmp_path), "li_clustered")
    write_clustered(src, path, cluster_by=["l_orderkey"], n_files=4)

    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert 1 < len(files) <= 4
    ranges = []
    for f in files:
        md = pq.ParquetFile(os.path.join(path, f)).metadata
        idx = next(
            i for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "l_orderkey"
        )
        mins = [md.row_group(g).column(idx).statistics.min for g in range(md.num_row_groups)]
        maxs = [md.row_group(g).column(idx).statistics.max for g in range(md.num_row_groups)]
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file key ranges {(lo1, hi1)} vs {(lo2, hi2)}"
    # values intact
    back = spark.read.parquet(path)
    assert back.count() == src.count()


def test_foreach_batch_sink_idempotent_layout(spark, sf_small, tmp_path):
    from impala_hashset_count_spark.streaming.windows import (
        events_stream,
        foreach_batch_parquet_sink,
    )

    out = os.path.join(str(tmp_path), "fb_out")
    ckpt = os.path.join(str(tmp_path), "fb_ckpt")
    stream = events_stream(spark, sf_small).filter(F.col("event_type") == "view")
    q = foreach_batch_parquet_sink(stream, out, ckpt)
    q.processAllAvailable()
    q.stop()
    batch_n = (
        load_table(spark, sf_small, "events")
        .filter(F.col("event_type") == "view")
        .count()
    )
    back = spark.read.option("basePath", out).parquet(out)
    assert back.count() == batch_n
    # batch-keyed layout on disk (the idempotence unit)
    assert any(d.startswith("batch_id=") for d in os.listdir(out))


def test_nul_and_utf8_values_survive(spark):
    rows = [
        ("k1", "a\x00b"),
        ("k1", "a\x00c"),   # differs only after the NUL
        ("k1", "a"),
        ("k1", "é中文"),
        ("k1", None),
    ]
    df = spark.createDataFrame(rows, "k string, v string")
    out = hashset_count_df(df, ["k"], ["v"]).collect()
    # the reference would corrupt on embedded NUL (README.md:9); we must
    # count a\0b and a\0c as DISTINCT values
    assert out[0]["hashset_count_v"] == "4"


def test_z_order_write_clusters_all_dims(spark, tmp_path):
    """Z-order layout: every output file must cover a SMALL rectangle in
    BOTH dimensions (enabling min/max file pruning on either column),
    where lexicographic clustering leaves the trailing column's per-file
    extent at ~full range."""
    import pyarrow.parquet as pq

    from impala_hashset_count_spark.operators.zorder import cluster_write
    from impala_hashset_count_spark.sources.tables import write_clustered

    # 64x64 uniform integer grid
    grid = spark.range(64 * 64).selectExpr(
        "CAST(id % 64 AS INT) AS x", "CAST(id DIV 64 AS INT) AS y"
    )
    zpath = os.path.join(str(tmp_path), "zorder")
    lpath = os.path.join(str(tmp_path), "lex")
    cluster_write(grid, ["x", "y"], zpath, n_files=16, bits=6)
    write_clustered(grid, lpath, cluster_by=["x", "y"], n_files=16)

    def extents(path, col):
        out = []
        for f in os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(path, f)).metadata
            idx = next(
                i for i in range(md.num_columns)
                if md.row_group(0).column(i).path_in_schema == col
            )
            lo = min(md.row_group(g).column(idx).statistics.min for g in range(md.num_row_groups))
            hi = max(md.row_group(g).column(idx).statistics.max for g in range(md.num_row_groups))
            out.append(hi - lo)
        return out

    z_x, z_y = extents(zpath, "x"), extents(zpath, "y")
    l_y = extents(lpath, "y")
    # z-order: both dims tight per file (a 16-file split of a 64x64 Z
    # curve gives 16x16 tiles -> extent ~15 of 63 per dim)
    assert sum(z_x) / len(z_x) < 0.45 * 63
    assert sum(z_y) / len(z_y) < 0.45 * 63
    # lexicographic: trailing column spans ~everything in most files
    assert sum(l_y) / len(l_y) > 0.8 * 63


def test_corrupt_json_records_quarantined_not_dropped(spark, tmp_path):
    """Ingestion robustness: PERMISSIVE mode parses good rows and
    quarantines malformed lines into _corrupt_record (so a 100 TB
    ingest neither dies on one bad line nor silently loses it);
    FAILFAST surfaces the error instead."""
    src = tmp_path / "messy.jsonl"
    src.write_text(
        '{"id": 1, "v": "ok"}\n'
        "THIS IS NOT JSON\n"
        '{"id": 2, "v": "also ok"}\n'
        '{"id": "wrong type", "v": 3}\n'
    )
    from impala_hashset_count_spark.sources.tables import read_source

    df = read_source(
        spark,
        "json",
        str(src),
        schema="id bigint, v string, _corrupt_record string",
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt_record",
    ).cache()  # one pass; the corrupt-record column forbids lazy double-scan
    try:
        good = df.filter("_corrupt_record IS NULL")
        bad = df.filter("_corrupt_record IS NOT NULL")
        assert {(r.id, r.v) for r in good.collect()} == {(1, "ok"), (2, "also ok")}
        assert bad.count() == 2  # the non-JSON line and the type mismatch
    finally:
        df.unpersist()

    import pytest as _pytest

    with _pytest.raises(Exception):
        read_source(
            spark, "json", str(src), schema="id bigint, v string", mode="FAILFAST"
        ).collect()


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Schema evolution: a column added mid-stream is visible with
    mergeSchema and NULL-padded for old files — the append-only
    100 TB table pattern."""
    base = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id bigint, v string").write.parquet(
        base + "/batch=1"
    )
    spark.createDataFrame(
        [(2, "b", 3.5)], "id bigint, v string, score double"
    ).write.parquet(base + "/batch=2")
    merged = spark.read.option("mergeSchema", "true").parquet(base)
    assert set(merged.columns) == {"id", "v", "score", "batch"}
    rows = {r.id: r.score for r in merged.collect()}
    assert rows[1] is None and rows[2] == 3.5


def test_dynamic_partition_pruning_on_partitioned_join(spark, sf_small, tmp_path):
    """A hive-partitioned fact joined to a filtered dim must prune
    partitions at RUNTIME via dynamic partition pruning (the
    dynamicpruningexpression in PartitionFilters): at 100 TB this is
    what keeps a fact-dim join from scanning every partition when the
    dim filter is only known at run time. (Runtime bloom-filter
    injection, the row-level analogue, deliberately does NOT trigger
    here: the filtered dim side broadcasts, and broadcast joins don't
    need a runtime filter.)"""
    import contextlib
    import io

    base = os.path.join(str(tmp_path), "orders_by_priority")
    load_table(spark, sf_small, "orders").write.partitionBy(
        "o_orderpriority"
    ).parquet(base)
    fact = spark.read.parquet(base)
    dim = (
        load_table(spark, sf_small, "orders")
        .select("o_orderpriority")
        .distinct()
        .filter("o_orderpriority LIKE '1-%'")
    )
    joined = fact.join(dim, "o_orderpriority")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        joined.explain("formatted")
    plan = buf.getvalue()
    assert "dynamicpruningexpression" in plan.lower(), plan[:2000]
    # and the result is correct: only 1-URGENT rows survive
    n_expected = (
        load_table(spark, sf_small, "orders")
        .filter("o_orderpriority LIKE '1-%'")
        .count()
    )
    assert joined.count() == n_expected


def test_binaryfile_source_feeds_multimodal_pipeline(spark, tmp_path):
    """The production media-ingestion path: spark.read.format
    ('binaryFile') turns a directory of media blobs into (path,
    modificationTime, length, content) rows, and the content column
    feeds the multimodal mapInPandas operators directly — no custom
    reader code between object store and engine. (pathGlobFilter +
    recursiveFileLookup are how a 100 TB media lake scopes the scan.)"""
    from impala_hashset_count_spark.operators.multimodal import (
        extract_image_metadata,
    )

    media = tmp_path / "media"
    media.mkdir()
    payloads = {
        "a.img": b"\x89fakepng" + b"x" * 100,
        "b.img": b"\x89fakepng" + b"y" * 257,
        "skip.txt": b"not media",
    }
    for name, blob in payloads.items():
        (media / name).write_bytes(blob)

    blobs = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.img")
        .load(str(media))
    )
    assert {"path", "modificationTime", "length", "content"} <= set(blobs.columns)
    assert blobs.count() == 2  # the glob filter excluded skip.txt

    rows = blobs.select(
        F.element_at(F.split("path", "/"), -1).alias("name"), "length", "content"
    ).collect()
    by_name = {r.name: r for r in rows}
    assert bytes(by_name["a.img"].content) == payloads["a.img"]
    assert by_name["b.img"].length == len(payloads["b.img"])

    # content -> the image metadata operator (deterministic stub
    # decode), exactly as attach_binary_payload-produced columns do
    meta_in = blobs.select(
        F.monotonically_increasing_id().alias("doc_id"),
        F.col("content").alias("payload"),
    )
    meta = extract_image_metadata(meta_in)
    got = {r.byte_len for r in meta.collect()}
    assert got == {len(payloads["a.img"]), len(payloads["b.img"])}


def test_text_line_source_roundtrip(spark, sf_small, tmp_path):
    """The raw-text line source (`spark.read.text`): the ingestion
    format for unstructured corpora before any schema exists. One doc
    per line out, line order immaterial (each line becomes a row;
    newline-free docs round-trip byte-exact)."""
    import os

    d = (
        load_table(spark, sf_small, "documents")
        .select("text")
        .where("text IS NOT NULL AND text NOT LIKE '%' || chr(10) || '%'")
    )
    expect = sorted(r.text for r in d.collect())
    out = os.path.join(str(tmp_path), "lines")
    d.write.mode("overwrite").text(out)
    back = spark.read.text(out)
    assert sorted(r.value for r in back.collect()) == expect
    # lines source is schema-on-read: exactly one string column 'value'
    assert [f.name for f in back.schema.fields] == ["value"]
    assert back.schema.fields[0].dataType.simpleString() == "string"


def test_xml_source_roundtrip(spark, sf_small, tmp_path):
    """Spark 4 ships the (formerly spark-xml) XML source built in:
    round-trip a table through rowTag layout with the schema passed
    explicitly on read (inference would be an extra full pass at
    scale). Escaping of text content (comments contain punctuation)
    must survive."""
    src = load_table(spark, sf_small, "nation")
    path = os.path.join(str(tmp_path), "xml")
    write_sink(src, "xml", path, rowTag="row")
    back = read_source(spark, "xml", path, schema=src.schema, rowTag="row")
    assert sorted(map(tuple, back.select(*src.columns).collect())) == sorted(
        map(tuple, src.collect())
    )


def test_variant_semi_structured_ingestion(spark, sf_small):
    """Spark 4 VARIANT surface over the events table's JSON props:
    parse_json -> variant column, typed path extraction
    (try_variant_get), schema discovery (schema_of_variant), and
    agreement with the string-path get_json_object reading of the same
    field. VARIANT is the schema-on-read shape for semi-structured
    ingestion at scale — binary-encoded, no per-row re-parse per
    field access."""
    ev = load_table(spark, sf_small, "events").limit(500)
    v = ev.select(
        "event_id",
        "props",
        F.parse_json("props").alias("v"),
    )
    rows = v.select(
        "event_id",
        F.try_variant_get("v", "$.k", "long").alias("k_v"),
        F.get_json_object("props", "$.k").cast("long").alias("k_j"),
        F.schema_of_variant("v").alias("sch"),
    ).collect()
    assert rows
    non_null = [r for r in rows if r.k_v is not None]
    assert non_null, "props should carry a k field — vacuous test otherwise"
    assert all(r.k_v == r.k_j for r in rows)
    assert all(r.sch.startswith("OBJECT<") for r in rows)
    # a malformed path extracts NULL, not an error
    bad = v.select(F.try_variant_get("v", "$.nope.deep", "int").alias("x")).collect()
    assert all(r.x is None for r in bad)


def test_observation_metrics_piggyback_on_one_pass(spark, sf_small):
    """df.observe(): operational metrics (row count, null count, sum)
    computed DURING the main action — no second scan. The pattern every
    production pipeline stage needs for free data-quality counters at
    100 TB (a separate metrics query would double the read)."""
    from pyspark.sql import Observation

    li = load_table(spark, sf_small, "lineitem")
    obs = Observation("q")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum(F.col("l_quantity").isNull().cast("long")).alias("null_qty"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )
    out = observed.filter(F.col("l_quantity") > 25).count()
    m = obs.get
    assert m["rows_seen"] == li.count()
    assert m["null_qty"] == 0
    expect_sum = li.agg(F.round(F.sum("l_quantity"), 2).alias("s")).collect()[0].s
    assert m["sum_qty"] == expect_sum
    assert 0 < out < m["rows_seen"]


def test_gzip_compressed_ingestion(spark, tmp_path):
    """Transparent codec ingestion: Spark reads .gz text/csv/jsonl
    directly (decompression happens inside the scan — at 100 TB the
    common landing format for raw web text is compressed shards). Note
    gzip shards are NOT splittable: one shard == at most one task, so
    production keeps shards at ~task size; verified here by the scan
    producing exactly the written rows from multiple shards."""
    import gzip
    import json
    import os

    lines = [f"doc {i} payload" for i in range(50)]
    txt_dir = tmp_path / "txt"
    txt_dir.mkdir()
    for shard in range(3):
        with gzip.open(txt_dir / f"part-{shard}.txt.gz", "wt") as f:
            for i in range(shard * 50, shard * 50 + 50):
                f.write(f"doc {i} payload\n")
    got = sorted(r.value for r in spark.read.text(str(txt_dir)).collect())
    assert len(got) == 150 and got[0] == "doc 0 payload"

    csv_p = tmp_path / "t.csv.gz"
    with gzip.open(csv_p, "wt") as f:
        f.write("id,name\n1,a\n2,b\n")
    cdf = spark.read.option("header", True).csv(str(csv_p))
    assert sorted((r.id, r.name) for r in cdf.collect()) == [("1", "a"), ("2", "b")]

    jl_p = tmp_path / "t.jsonl.gz"
    with gzip.open(jl_p, "wt") as f:
        for i in range(5):
            f.write(json.dumps({"k": i, "v": f"s{i}"}) + "\n")
    jdf = spark.read.json(str(jl_p))
    assert sorted((r.k, r.v) for r in jdf.collect()) == [(i, f"s{i}") for i in range(5)]

    # and the write side: gzip-compressed json output round-trips
    out = os.path.join(str(tmp_path), "out_json_gz")
    jdf.write.option("compression", "gzip").json(out)
    assert any(f.endswith(".json.gz") for f in os.listdir(out))
    back = spark.read.json(out)
    assert sorted((r.k, r.v) for r in back.collect()) == [(i, f"s{i}") for i in range(5)]


def test_dynamic_partition_overwrite_replaces_only_touched_partitions(
    spark, sf_small, tmp_path
):
    """partitionOverwriteMode=dynamic: an overwrite write replaces ONLY
    the partitions present in the incoming frame — the idempotent
    reprocess-one-day pattern a 100 TB ingesting table depends on
    (static mode would truncate every other partition first). The CDC
    snapshot store and stream_index_maintenance get idempotence from
    explicit batch/version dirs; this is the same guarantee for plain
    hive-partitioned layouts."""
    path = os.path.join(str(tmp_path), "orders_dyn")
    src = load_table(spark, sf_small, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    src.write.partitionBy("o_orderpriority").parquet(path)
    before = spark.read.parquet(path)
    n_total = before.count()
    n_urgent = before.filter("o_orderpriority = '1-URGENT'").count()

    # reprocess the URGENT partition: halve the price, overwrite
    redo = (
        src.filter("o_orderpriority = '1-URGENT'")
        .withColumn("o_totalprice", F.col("o_totalprice") / 2)
    )
    saved = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        redo.write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", saved)

    after = spark.read.parquet(path)
    # untouched partitions intact, touched partition replaced not doubled
    assert after.count() == n_total
    assert after.filter("o_orderpriority = '1-URGENT'").count() == n_urgent
    got = (
        after.filter("o_orderpriority = '1-URGENT'")
        .agg(F.sum("o_totalprice"))
        .first()[0]
    )
    want = redo.agg(F.sum("o_totalprice")).first()[0]
    assert abs(got - want) < 1e-6
    assert sorted(
        map(tuple, after.filter("o_orderpriority <> '1-URGENT'").collect())
    ) == sorted(
        map(tuple, src.filter("o_orderpriority <> '1-URGENT'").collect())
    )


def test_spread_small_fires_only_below_size_cap(spark, sf_small, monkeypatch):
    """Small-input spreading contract: at or under the size cap the
    helper repartitions to core count with values unchanged; above it
    the SAME DataFrame comes back, so a large input never grows an
    accidental shuffle."""
    from impala_hashset_count_spark.sources import tables
    from impala_hashset_count_spark.sources.tables import load_table, spread_small

    cores = spark.sparkContext.defaultParallelism
    base = load_table(spark, sf_small, "documents")
    wide = spread_small(base)
    # single-row-group bench file, far under the cap -> spreads
    assert wide.rdd.getNumPartitions() == cores
    assert base.rdd.getNumPartitions() < cores
    # values identical (row order is not part of the contract)
    assert sorted(map(tuple, wide.collect())) == sorted(
        map(tuple, base.collect())
    )

    # an in-memory input is probed the same way and spread
    local = spark.createDataFrame([(i, str(i)) for i in range(10)], "k int, v string")
    assert spread_small(local).rdd.getNumPartitions() == cores

    # above the cap -> no-op, the same plan object
    monkeypatch.setattr(tables, "SPREAD_MAX_BYTES_PER_CORE", 1)
    assert spread_small(base) is base
