"""IVF ANN + multimodal audio/video plumbing tests."""

from pyspark.sql import functions as F

from impala_hashset_count_spark.operators.multimodal import (
    attach_binary_payload,
    extract_audio_features,
    fake_decode_audio,
    frame_sample_hashes,
)
from impala_hashset_count_spark.operators.similarity import brute_force_topk, ivf_topk
from impala_hashset_count_spark.sources.tables import load_table


def test_ivf_topk_recall_vs_bruteforce(spark, sf_small):
    e = load_table(spark, sf_small, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(e, q, "vec_id", "embedding", k=5).collect()
    approx = ivf_topk(e, q, "vec_id", "embedding", k=5, n_cells=8, nprobe=3).collect()
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(exact_sets[qid] & approx_sets.get(qid, set())) / len(exact_sets[qid])
        for qid in exact_sets
    ]
    mean_recall = sum(recalls) / len(recalls)
    # probing 3/8 cells should recover most true neighbors
    assert mean_recall >= 0.5, f"mean recall {mean_recall}"


def test_ivf_deterministic_across_runs(spark, sf_small):
    e = load_table(spark, sf_small, "embeddings")
    q = e.filter(F.col("vec_id") < 3)
    a = ivf_topk(e, q, "vec_id", "embedding", k=5, n_cells=8, nprobe=2).collect()
    b = ivf_topk(e, q, "vec_id", "embedding", k=5, n_cells=8, nprobe=2).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_ivf_topk_scales_to_full_query_table(spark, sf_small):
    """Probe planning is distributed (broadcast centroids + rank-limited
    window) — the query side can be the WHOLE embeddings table. The
    former driver-side collect loop would have serialized here."""
    e = load_table(spark, sf_small, "embeddings")
    out = ivf_topk(e, e, "vec_id", "embedding", k=3, n_cells=8, nprobe=2)
    per_query = out.groupBy("query_id").agg(F.count("*").alias("n")).collect()
    assert len(per_query) == e.count()
    assert all(r["n"] <= 3 for r in per_query)


def test_audio_features_match_stub(spark, sf_small):
    d = load_table(spark, sf_small, "documents").limit(20)
    payloads = attach_binary_payload(d, "doc_id", "text")
    out = {r.doc_id: r for r in extract_audio_features(payloads).collect()}
    for r in payloads.collect():
        sr, ch, ns, dur = fake_decode_audio(bytes(r.payload))
        got = out[r.doc_id]
        assert (got.sample_rate, got.n_channels, got.n_samples) == (sr, ch, ns)
        assert got.duration_s == dur
        assert got.byte_len == len(bytes(r.payload))


def test_frame_hashes_shape_and_determinism(spark):
    rows = [(1, "abcd" * 20), (2, "zyxw" * 3)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    payloads = attach_binary_payload(df, "doc_id", "text")
    out = frame_sample_hashes(payloads, n_frames=4).collect()
    assert len(out) == 8  # 4 frames per doc
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.frame_id, r.frame_hash))
    assert sorted(fid for fid, _ in by_doc[1]) == [0, 1, 2, 3]
    # identical slices of a repeating payload hash identically:
    # "abcd"*20 is 80 bytes; each 20-byte slice is "abcd"*5
    h = dict(by_doc[1])
    assert h[0] == h[1] == h[2] == h[3]
    # md5 variant returns hex strings
    md5_out = frame_sample_hashes(payloads, n_frames=4, hash_fn="md5").collect()
    assert all(len(r.frame_hash) == 32 for r in md5_out)


def test_real_image_resize_when_pil_available(spark):
    """Real decode+resize tier: runs where PIL exists, SKIPS (does not
    fake) otherwise. Same output contract as the stub tier."""
    import pytest as _pytest

    _pytest.importorskip("PIL")
    import io

    from PIL import Image

    from impala_hashset_count_spark.operators.multimodal import (
        real_resize,
        resize_images,
    )

    def png_bytes(w, h, color):
        buf = io.BytesIO()
        Image.new("RGB", (w, h), color).save(buf, format="PNG")
        return buf.getvalue()

    rows = [(1, png_bytes(448, 224, (255, 0, 0))), (2, png_bytes(100, 300, (0, 255, 0)))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r.doc_id: r for r in resize_images(df, target=224, decode="real").collect()}
    for doc_id, payload in rows:
        w, h, ow, oh, data = real_resize(payload, 224)
        got = out[doc_id]
        assert (got.src_width, got.src_height) == (w, h)
        assert (got.out_width, got.out_height) == (ow, oh)
        assert got.out_bytes == ow * oh * 3
        assert bytes(got.payload) == data


def test_resize_real_path_gated_without_pil(spark):
    """Where PIL is absent, decode='real' must raise, not silently fall
    back to the stub (the stub is an explicit choice, never a fallback)."""
    import pytest as _pytest

    try:
        import PIL  # noqa: F401

        _pytest.skip("PIL present; gate not applicable")
    except ImportError:
        pass
    from impala_hashset_count_spark.operators.multimodal import resize_images

    df = spark.createDataFrame([(1, b"x")], "doc_id long, payload binary")
    with _pytest.raises(NotImplementedError):
        resize_images(df, decode="real")


def test_resize_byte_accounting_and_determinism(spark):
    from impala_hashset_count_spark.operators.multimodal import (
        fake_resize,
        resize_images,
    )

    rows = [(1, "a" * 100), (2, "b" * 7), (3, "wide doc " * 80)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    payloads = attach_binary_payload(df, "doc_id", "text")
    out = {r.doc_id: r for r in resize_images(payloads, target=224).collect()}
    for r in payloads.collect():
        got = out[r.doc_id]
        w, h, ow, oh, data = fake_resize(bytes(r.payload), 224)
        assert (got.src_width, got.src_height) == (w, h)
        assert (got.out_width, got.out_height) == (ow, oh)
        # the resized payload is exactly out_w*out_h*3 bytes
        assert got.out_bytes == len(bytes(got.payload)) == ow * oh * 3
        assert bytes(got.payload) == data
        # aspect fit: the longer edge hits the target (within 1px floor)
        assert max(got.out_width, got.out_height) in (223, 224)


def test_bmp_roundtrip_encode_decode():
    """Round-trip REAL pixels through the stdlib codec, including an
    odd width (exercises 4-byte row padding)."""
    from impala_hashset_count_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
    )

    for w, h in [(5, 3), (4, 4), (1, 1), (7, 2)]:
        rgb = bytes((x * 37 + 11) % 256 for x in range(w * h * 3))
        payload = encode_bmp(w, h, rgb)
        assert payload[:2] == b"BM"
        got_w, got_h, got_rgb = decode_bmp(payload)
        assert (got_w, got_h) == (w, h)
        assert got_rgb == rgb


def test_bmp_top_down_variant_decodes_identically():
    """Negative-height BMPs store rows top-down; the decoder must yield
    the same pixels either way."""
    import struct

    from impala_hashset_count_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
    )

    w, h = 5, 3
    rgb = bytes((x * 53 + 7) % 256 for x in range(w * h * 3))
    bottom_up = encode_bmp(w, h, rgb)
    # rewrite as top-down: negate height and reverse stored row order
    row_size = (w * 3 + 3) & ~3
    off = 54
    rows = [bottom_up[off + i * row_size : off + (i + 1) * row_size] for i in range(h)]
    top_down = (
        bottom_up[:22] + struct.pack("<i", -h) + bottom_up[26:off] + b"".join(reversed(rows))
    )
    assert decode_bmp(top_down) == decode_bmp(bottom_up) == (w, h, rgb)


def test_bmp_rejects_non_bmp_and_truncated():
    import pytest

    from impala_hashset_count_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
    )

    with pytest.raises(ValueError):
        decode_bmp(b"JFIF not a bmp")
    ok = encode_bmp(4, 2, bytes(24))
    with pytest.raises(ValueError):
        decode_bmp(ok[:-5])


def test_real_bmp_decode_resize_end_to_end(spark):
    """NON-SKIPPED real decode: generate BMPs, run the Spark
    mapInPandas resize at the 'bmp' tier, and check dimensions AND
    exact nearest-neighbor pixel output against an independent Python
    computation. This is the real decode->resize path, no codec libs,
    no stubs."""
    from impala_hashset_count_spark.operators.multimodal import (
        encode_bmp,
        resize_images,
    )

    fixtures = {}
    for doc_id, (w, h) in enumerate([(8, 5), (3, 9), (16, 16)], start=1):
        rgb = bytes((doc_id * 31 + x * 17) % 256 for x in range(w * h * 3))
        fixtures[doc_id] = (w, h, rgb, encode_bmp(w, h, rgb))
    df = spark.createDataFrame(
        [(i, fx[3]) for i, fx in fixtures.items()], "doc_id bigint, payload binary"
    )
    out = {r.doc_id: r for r in resize_images(df, target=6, decode="bmp").collect()}
    assert set(out) == set(fixtures)
    for doc_id, (w, h, rgb, _payload) in fixtures.items():
        r = out[doc_id]
        scale = min(6 / w, 6 / h)
        ow, oh = max(1, int(w * scale)), max(1, int(h * scale))
        assert (r.src_width, r.src_height) == (w, h)
        assert (r.out_width, r.out_height) == (ow, oh)
        assert r.out_bytes == ow * oh * 3 == len(bytes(r.payload))
        # independent nearest-neighbor reference
        expect = bytearray()
        for y in range(oh):
            sy = min(h - 1, y * h // oh)
            for x in range(ow):
                sx = min(w - 1, x * w // ow)
                s = (sy * w + sx) * 3
                expect += rgb[s : s + 3]
        assert bytes(r.payload) == bytes(expect)


def test_bmp_property_roundtrip_random_images():
    """Hypothesis: any (w, h, pixels) round-trips byte-exact through
    the stdlib BMP codec, including widths with every padding residue."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from impala_hashset_count_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
    )

    dims = st.tuples(st.integers(1, 9), st.integers(1, 6))

    @settings(max_examples=25, deadline=None)
    @given(dims, st.randoms())
    def run(wh, rnd):
        w, h = wh
        rgb = bytes(rnd.randrange(256) for _ in range(w * h * 3))
        assert decode_bmp(encode_bmp(w, h, rgb)) == (w, h, rgb)

    run()


def test_wav_roundtrip_encode_decode():
    from impala_hashset_count_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
        ramp_pcm16,
    )

    pcm = ramp_pcm16(7, 10)
    wav = encode_wav(16000, 1, pcm)
    assert len(wav) == 44 + len(pcm)
    rate, ch, n_frames, data = decode_wav(wav)
    assert (rate, ch, n_frames) == (16000, 1, 10)
    assert data == pcm
    # stereo: frames collapse channel pairs
    stereo = encode_wav(8000, 2, pcm)
    rate, ch, n_frames, data = decode_wav(stereo)
    assert (rate, ch, n_frames) == (8000, 2, 5)
    assert data == pcm


def test_wav_decode_skips_unknown_chunks_with_word_alignment():
    import struct

    from impala_hashset_count_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
        ramp_pcm16,
    )

    pcm = ramp_pcm16(3, 6)
    wav = encode_wav(22050, 1, pcm)
    # splice an odd-sized junk chunk between fmt and data: the parser
    # must skip it using RIFF word alignment (size 5 -> 6 bytes on disk)
    fmt_end = 12 + 8 + 16
    junk = struct.pack("<4sI", b"LIST", 5) + b"abcde\x00"
    spliced = wav[:fmt_end] + junk + wav[fmt_end:]
    rate, ch, n_frames, data = decode_wav(spliced)
    assert (rate, ch, n_frames) == (22050, 1, 6)
    assert data == pcm


def test_wav_decode_rejects_bad_payloads():
    import pytest

    from impala_hashset_count_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
        ramp_pcm16,
    )

    with pytest.raises(ValueError):
        decode_wav(b"RIFFxxxxNOPE")
    with pytest.raises(ValueError):
        decode_wav(b"BM\x00\x00")
    wav = encode_wav(16000, 1, ramp_pcm16(1, 8))
    with pytest.raises(ValueError):
        decode_wav(wav[:-3])  # truncated data chunk
    # 8-bit PCM is rejected, not mis-decoded
    import struct

    eight_bit = bytearray(wav)
    struct.pack_into("<H", eight_bit, 12 + 8 + 14, 8)
    with pytest.raises(ValueError):
        decode_wav(bytes(eight_bit))


def test_wav_features_match_pure_python():
    import math

    from impala_hashset_count_spark.operators.multimodal import (
        encode_wav,
        ramp_pcm16,
        wav_features,
    )

    doc_id, n = 42, 17
    wav = encode_wav(16000, 1, ramp_pcm16(doc_id, n))
    byte_len, rate, ch, ns, dur, peak, rms = wav_features(wav)
    vals = [((doc_id * 31 + i * 7) % 65536) - 32768 for i in range(n)]
    assert (byte_len, rate, ch, ns) == (44 + 2 * n, 16000, 1, n)
    assert dur == n / 16000
    assert peak == max(abs(v) for v in vals)
    assert rms == math.sqrt(float(sum(v * v for v in vals)) / n)


def test_wav_roundtrip_features_end_to_end(spark, sf_small):
    import math

    from impala_hashset_count_spark.operators.multimodal import (
        attach_binary_payload,
        wav_roundtrip_features,
    )

    d = spark.read.parquet(f"{sf_small}/documents.parquet").limit(20)
    payloads = attach_binary_payload(d, "doc_id", "text")
    rows = {r.doc_id: r for r in wav_roundtrip_features(payloads).collect()}
    src = {r.doc_id: bytes(r.payload) for r in payloads.collect()}
    assert rows.keys() == src.keys()
    for doc_id, payload in src.items():
        n = len(payload) % 256 + 4
        vals = [((doc_id * 31 + i * 7) % 65536) - 32768 for i in range(n)]
        r = rows[doc_id]
        assert r.byte_len == 44 + 2 * n
        assert (r.sample_rate, r.n_channels, r.n_samples) == (16000, 1, n)
        assert r.duration_s == n / 16000
        assert r.peak == max(abs(v) for v in vals)
        assert r.rms == math.sqrt(float(sum(v * v for v in vals)) / n)


def test_pq_topk_recall_vs_bruteforce(spark, sf_small):
    from pyspark.sql import functions as F

    from impala_hashset_count_spark.operators.similarity import (
        brute_force_topk,
        pq_topk,
    )

    e = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(e, q, "vec_id", "embedding", k=10).collect()
    }
    got_rows = pq_topk(e, q, "vec_id", "embedding", dim=64, k=10).collect()
    got = {(r.query_id, r.neighbor_id) for r in got_rows}
    assert len(got_rows) == 50
    recall = len(exact & got) / len(exact)
    assert recall >= 0.7, recall  # measured 0.86 with the default config
    # re-rank emits EXACT cosine: every (q, n) pair common with the
    # brute-force tier must carry the identical rounded score
    ex_scores = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in brute_force_topk(e, q, "vec_id", "embedding", k=10).collect()
    }
    for r in got_rows:
        if (r.query_id, r.neighbor_id) in ex_scores:
            assert r.cos_sim == ex_scores[(r.query_id, r.neighbor_id)]


def test_pq_encode_codes_shape_and_determinism(spark, sf_small):
    from impala_hashset_count_spark.operators.similarity import (
        pq_encode,
        train_pq,
    )

    e = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    books = train_pq(e, "embedding", dim=64, m=8, k_codes=32)
    assert len(books) == 8 and all(len(b) == 32 for b in books)
    assert all(len(c) == 8 for b in books for c in b)
    outs = []
    for parts in (2, 32):
        codes = pq_encode(e.repartition(parts), "vec_id", "embedding", books)
        rows = {r.vec_id: tuple(r.codes) for r in codes.collect()}
        outs.append(rows)
    assert outs[0] == outs[1]  # partitioning-invariant argmin
    assert all(len(c) == 8 for c in outs[0].values())
    assert all(0 <= v < 32 for c in outs[0].values() for v in c)
    # codebooks are deterministic across retrains (seeded k-means)
    books2 = train_pq(e, "embedding", dim=64, m=8, k_codes=32)
    assert books == books2


def test_pq_dim_validation():
    import pytest

    from impala_hashset_count_spark.operators.similarity import train_pq

    with pytest.raises(ValueError):
        train_pq(None, "embedding", dim=10, m=4)


def test_ivfpq_topk_composes_and_recalls(spark, sf_small):
    from pyspark.sql import functions as F

    from impala_hashset_count_spark.operators.similarity import (
        brute_force_topk,
        ivfpq_topk,
    )

    e = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(e, q, "vec_id", "embedding", k=10).collect()
    }
    rows = ivfpq_topk(e, q, "vec_id", "embedding", dim=64, k=10).collect()
    got = {(r.query_id, r.neighbor_id) for r in rows}
    assert len(rows) == 50
    # coarse-cell restriction caps recall below the PQ-only tier on
    # these near-uniform synthetic embeddings (measured 0.46 at
    # nprobe=4/16 vs 0.86 full-scan PQ) — the price of touching only
    # nprobe/n_cells of the corpus
    assert len(exact & got) / len(exact) >= 0.3
    # ranks are dense 1..10 per query
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, 11)) for v in per_q.values())


# ---------------------------------------------------------------------
# Real PNG decode tier (stdlib zlib inflate + five-filter reconstruction)
# ---------------------------------------------------------------------

def test_png_roundtrip_every_filter_type():
    """encode(filter=f) -> decode recovers exact pixels for each of the
    five PNG filters individually AND the cycling mode that uses all of
    them, across shapes incl. 1x1 and non-square."""
    from impala_hashset_count_spark.operators.multimodal import (
        decode_png,
        encode_png,
        ramp_rgb,
    )

    for filt in ("cycle", 0, 1, 2, 3, 4):
        for (w, h) in [(1, 1), (8, 5), (3, 9), (31, 23)]:
            rgb = ramp_rgb(97, w, h)
            assert decode_png(encode_png(w, h, rgb, filters=filt)) == (w, h, rgb)


def test_png_random_payload_roundtrip_and_multichunk_idat():
    import os

    from impala_hashset_count_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    rgb = os.urandom(24 * 17 * 3)
    png = encode_png(24, 17, rgb, filters="cycle")
    # the encoder splits IDAT into two chunks — count them
    assert png.count(b"IDAT") == 2
    assert decode_png(png) == (24, 17, rgb)


def test_png_rejects_corruption():
    import pytest

    from impala_hashset_count_spark.operators.multimodal import (
        decode_png,
        encode_png,
        ramp_rgb,
    )

    png = encode_png(8, 8, ramp_rgb(5, 8, 8))
    with pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"BM" + png[2:])
    flipped = bytearray(png)
    flipped[60] ^= 0xFF  # inside IDAT data -> CRC mismatch
    with pytest.raises(ValueError, match="CRC mismatch"):
        decode_png(bytes(flipped))
    with pytest.raises(ValueError):
        decode_png(png[: len(png) // 2])


def test_png_and_bmp_decode_agree():
    """The compressed and uncompressed real-decode tiers recover the
    SAME pixels from the same source image."""
    from impala_hashset_count_spark.operators.multimodal import (
        decode_bmp,
        decode_png,
        encode_bmp,
        encode_png,
        ramp_rgb,
    )

    rgb = ramp_rgb(31, 19, 11)
    assert decode_png(encode_png(19, 11, rgb))[2] == decode_bmp(encode_bmp(19, 11, rgb))[2] == rgb


def test_real_png_decode_resize_end_to_end(spark):
    """NON-SKIPPED real compressed-format decode through the Spark
    stage: encode PNGs with cycling filters, run resize_images at the
    'png' tier, check dimensions and exact pixel output against the
    'bmp' tier fed the same pixels."""
    from impala_hashset_count_spark.operators.multimodal import (
        encode_bmp,
        encode_png,
        ramp_rgb,
        resize_images,
    )

    fixtures = {i: (w, h, ramp_rgb(i, w, h)) for i, (w, h) in
                enumerate([(8, 5), (3, 9), (16, 16)], start=1)}
    png_df = spark.createDataFrame(
        [(i, encode_png(w, h, rgb, "cycle")) for i, (w, h, rgb) in fixtures.items()],
        "doc_id bigint, payload binary",
    )
    bmp_df = spark.createDataFrame(
        [(i, encode_bmp(w, h, rgb)) for i, (w, h, rgb) in fixtures.items()],
        "doc_id bigint, payload binary",
    )
    p_rows = {r.doc_id: r for r in resize_images(png_df, target=6, decode="png").collect()}
    b_rows = {r.doc_id: r for r in resize_images(bmp_df, target=6, decode="bmp").collect()}
    assert set(p_rows) == set(fixtures)
    for i in fixtures:
        p, b = p_rows[i], b_rows[i]
        assert (p.src_width, p.src_height, p.out_width, p.out_height) == (
            b.src_width, b.src_height, b.out_width, b.out_height)
        assert bytes(p.payload) == bytes(b.payload)
        assert p.out_bytes == p.out_width * p.out_height * 3


def test_png_roundtrip_features_matches_python_model(spark):
    """The registry 'png' arm's sums equal an independent pure-Python
    recompute of the deterministic ramp (no codec involved on the
    model side)."""
    from impala_hashset_count_spark.operators.multimodal import (
        png_roundtrip_features,
    )

    df = spark.createDataFrame(
        [(i, b"x") for i in (0, 1, 7, 23, 100)], "doc_id bigint, payload binary"
    )
    rows = {r.doc_id: r for r in png_roundtrip_features(df, target=16).collect()}
    for did in (0, 1, 7, 23, 100):
        w = 8 + did % 24
        h = 8 + (did // 3) % 16
        pix = [(did * 7 + i * 13) % 256 for i in range(w * h * 3)]
        scale = min(16 / w, 16 / h)
        ow, oh = max(1, int(w * scale)), max(1, int(h * scale))
        out_sum = 0
        for y in range(oh):
            sy = min(h - 1, y * h // oh)
            for x in range(ow):
                sx = min(w - 1, x * w // ow)
                base = (sy * w + sx) * 3
                out_sum += pix[base] + pix[base + 1] + pix[base + 2]
        r = rows[did]
        assert (r.width, r.height, r.out_width, r.out_height) == (w, h, ow, oh)
        assert r.pix_sum == sum(pix)
        assert r.out_sum == out_sum


# --- JPEG baseline codec (round 5) -----------------------------------


def test_jpeg_zigzag_matches_standard_prefix():
    from impala_hashset_count_spark.operators.multimodal import _ZZ

    # the canonical first 16 entries of the JPEG zigzag sequence in
    # row-major index form: 0,1,8,16,9,2,3,10,17,24,32,25,18,11,4,5
    got = [r * 8 + c for r, c in _ZZ[:16]]
    assert got == [0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5]
    assert sorted(r * 8 + c for r, c in _ZZ) == list(range(64))


def test_jpeg_fixture_huffman_tables_are_canonical_feasible():
    from impala_hashset_count_spark.operators.multimodal import (
        _AC_BITS,
        _AC_VALS,
        _DC_BITS,
        _DC_VALS,
        _huff_codes,
    )

    for bits, vals in ((_DC_BITS, _DC_VALS), (_AC_BITS, _AC_VALS)):
        assert sum(bits) == len(vals)
        kraft = sum(n * 2 ** -(ln + 1) for ln, n in enumerate(bits))
        assert kraft <= 1.0
        codes = _huff_codes(bits, vals)
        # prefix-free: no code is a prefix of another
        as_strs = [format(c, f"0{ln}b") for ln, c in codes.values()]
        for i, a in enumerate(as_strs):
            for j, b in enumerate(as_strs):
                if i != j:
                    assert not b.startswith(a)


def test_jpeg_gray_roundtrip_exact_and_restart_invariant():
    import numpy as np

    from impala_hashset_count_spark.operators.multimodal import (
        JPEG_FIXTURE_QTABLE,
        JPEG_IDCT_TABLE,
        decode_jpeg,
        encode_jpeg_baseline,
        jpeg_fixture_blocks,
    )

    t = np.asarray(JPEG_IDCT_TABLE, dtype=np.int64)
    qt = np.asarray(JPEG_FIXTURE_QTABLE, dtype=np.int64)
    for did in (0, 1, 37, 499, 12345):
        blocks = jpeg_fixture_blocks(did)
        expect = np.zeros((16, 16), dtype=np.int64)
        for b, blk in enumerate(blocks):
            s = np.asarray(blk, dtype=np.int64) * qt
            acc = np.einsum("vu,ux,vy->yx", s, t, t)
            pix = (acc + (1 << 23) + (1 << 40)) // (1 << 24) - (1 << 16) + 128
            my, mx = divmod(b, 2)
            expect[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] = np.clip(
                pix, 0, 255
            )
        for ri in (0, 1, 2, 3):
            jpg = encode_jpeg_baseline(
                16, 16, [blocks], [JPEG_FIXTURE_QTABLE], restart_interval=ri
            )
            w, h, nc, gray = decode_jpeg(jpg)
            assert (w, h, nc) == (16, 16, 1)
            got = np.frombuffer(gray, dtype=np.uint8).reshape(16, 16)
            assert np.array_equal(got.astype(np.int64), expect), (did, ri)


def test_jpeg_zrl_long_zero_run_roundtrip():
    # a lone coefficient 20 zigzag positions past DC forces a ZRL
    # (16-zero run) symbol plus a (4, size) pair — both decode paths
    import numpy as np

    from impala_hashset_count_spark.operators.multimodal import (
        _ZZ,
        decode_jpeg,
        encode_jpeg_baseline,
    )

    qt = [[1] * 8 for _ in range(8)]
    q = [[0] * 8 for _ in range(8)]
    r, c = _ZZ[21]
    q[r][c] = -33
    q[0][0] = 40
    jpg = encode_jpeg_baseline(8, 8, [[q]], [qt])
    w, h, nc, gray = decode_jpeg(jpg)
    assert (w, h, nc) == (8, 8, 1)
    # decode must reproduce the coefficients exactly: re-derive pixels
    from impala_hashset_count_spark.operators.multimodal import (
        JPEG_IDCT_TABLE,
    )

    t = np.asarray(JPEG_IDCT_TABLE, dtype=np.int64)
    s = np.asarray(q, dtype=np.int64)
    acc = np.einsum("vu,ux,vy->yx", s, t, t)
    pix = np.clip(
        (acc + (1 << 23) + (1 << 40)) // (1 << 24) - (1 << 16) + 128, 0, 255
    )
    assert np.array_equal(
        np.frombuffer(gray, dtype=np.uint8).reshape(8, 8).astype(np.int64),
        pix,
    )


def test_jpeg_color_decode_and_rejections():
    import numpy as np
    import pytest

    from impala_hashset_count_spark.operators.multimodal import (
        JPEG_FIXTURE_QTABLE,
        decode_jpeg,
        encode_jpeg_baseline,
        jpeg_fixture_blocks,
    )

    blocks = jpeg_fixture_blocks(7)
    jc = encode_jpeg_baseline(
        16, 16, [blocks, blocks, blocks],
        [JPEG_FIXTURE_QTABLE, JPEG_FIXTURE_QTABLE],
    )
    w, h, nc, rgb = decode_jpeg(jc)
    assert (w, h, nc) == (16, 16, 3) and len(rgb) == 16 * 16 * 3
    # identical Y/Cb/Cr planes at Cb=Cr values near 128 stay finite and
    # deterministic; decoding twice is byte-identical
    assert decode_jpeg(jc)[3] == rgb
    arr = np.frombuffer(rgb, dtype=np.uint8)
    assert arr.min() >= 0 and arr.max() <= 255

    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"\x00\x01")
    good = encode_jpeg_baseline(8, 8, [[blocks[0]]], [JPEG_FIXTURE_QTABLE])
    with pytest.raises(ValueError):
        decode_jpeg(good[:40])  # truncated mid-segments
    # genuinely unsupported frame types rejected (SOF2 is SUPPORTED
    # since the progressive decoder landed — its rejection probe moved
    # to lossless SOF3 and arithmetic-coded SOF9)
    for sof_marker in (0xC3, 0xC9):
        bad = bytearray(good)
        bad[good.index(b"\xff\xc0") + 1] = sof_marker
        with pytest.raises(ValueError, match="SOF0.*SOF2"):
            decode_jpeg(bytes(bad))


def test_resize_images_jpeg_tier(spark):
    """decode='jpeg' routes through the real baseline decoder with the
    shared byte-accounting contract (grayscale expanded to RGB)."""
    from impala_hashset_count_spark.operators.multimodal import (
        JPEG_FIXTURE_QTABLE,
        encode_jpeg_baseline,
        jpeg_fixture_blocks,
        resize_images,
    )

    rows = [
        (did, encode_jpeg_baseline(
            16, 16, [jpeg_fixture_blocks(did)], [JPEG_FIXTURE_QTABLE]
        ))
        for did in (1, 2, 3)
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = resize_images(df, target=8, decode="jpeg").collect()
    assert len(out) == 3
    for r in out:
        assert (r.src_width, r.src_height) == (16, 16)
        assert (r.out_width, r.out_height) == (8, 8)
        assert r.out_bytes == 8 * 8 * 3 == len(r.payload)


def test_jpeg_property_random_blocks_roundtrip_exact():
    """Property: for ANY quantized coefficient blocks (random sparsity
    — long zero runs, dense blocks, negative amplitudes), any quant
    table, any restart interval, and non-multiple-of-8 dimensions, the
    decoder reproduces the exact integer-IDCT pixels (cropped to w x h).
    This is the falsifiability net beyond the fixture formulas: any
    Huffman/run/EOB/ZRL/restart/zigzag/dequant/crop bug breaks it."""
    import numpy as np
    from hypothesis import given, settings, strategies as st

    from impala_hashset_count_spark.operators.multimodal import (
        JPEG_IDCT_TABLE,
        decode_jpeg,
        encode_jpeg_baseline,
    )

    t = np.asarray(JPEG_IDCT_TABLE, dtype=np.int64)

    @settings(max_examples=40, deadline=None)
    @given(st.data())
    def run(data):
        w = data.draw(st.integers(4, 20), label="w")
        h = data.draw(st.integers(4, 20), label="h")
        ri = data.draw(st.integers(0, 3), label="restart")
        mx, my = (w + 7) // 8, (h + 7) // 8
        qt = [
            [data.draw(st.integers(1, 64)) for _ in range(8)]
            for _ in range(8)
        ]
        blocks = []
        for _ in range(mx * my):
            q = np.zeros((8, 8), dtype=np.int64)
            # sparse positions incl. possible >16 zigzag gaps (ZRL)
            for _ in range(data.draw(st.integers(0, 6))):
                r = data.draw(st.integers(0, 7))
                c = data.draw(st.integers(0, 7))
                q[r][c] = data.draw(
                    st.integers(-200, 200).filter(lambda v: v != 0)
                )
            blocks.append(q.tolist())
        jpg = encode_jpeg_baseline(w, h, [blocks], [qt], restart_interval=ri)
        dw, dh, nc, gray = decode_jpeg(jpg)
        assert (dw, dh, nc) == (w, h, 1)
        got = np.frombuffer(gray, dtype=np.uint8).reshape(h, w)
        full = np.zeros((my * 8, mx * 8), dtype=np.int64)
        for b, blk in enumerate(blocks):
            s = np.asarray(blk, dtype=np.int64) * np.asarray(qt)
            acc = np.einsum("vu,ux,vy->yx", s, t, t)
            pix = np.clip(
                (acc + (1 << 23) + (1 << 40)) // (1 << 24) - (1 << 16) + 128,
                0,
                255,
            )
            yy, xx = divmod(b, mx)
            full[yy * 8 : yy * 8 + 8, xx * 8 : xx * 8 + 8] = pix
        assert np.array_equal(got.astype(np.int64), full[:h, :w])

    run()


def _jpeg_ref_decode(comp_blocks, qt, sampling, w, h):
    """Independent assembly model for subsampled decode: per-block
    integer IDCT, MCU-interleaved placement, chroma replication,
    fixed-point color convert — written WITHOUT reusing the decoder's
    MCU loop so a placement/upsample/convert bug cannot cancel out."""
    import numpy as np

    from impala_hashset_count_spark.operators.multimodal import (
        JPEG_IDCT_TABLE,
    )

    t = np.asarray(JPEG_IDCT_TABLE, dtype=np.int64)
    qtn = np.asarray(qt, dtype=np.int64)

    def idct(q):
        s = np.asarray(q, dtype=np.int64) * qtn
        acc = np.einsum("vu,ux,vy->yx", s, t, t)
        return np.clip(
            (acc + (1 << 23) + (1 << 40)) // (1 << 24) - (1 << 16) + 128,
            0,
            255,
        )

    hmax = max(sh for sh, _ in sampling)
    vmax = max(sv for _, sv in sampling)
    mx = (w + 8 * hmax - 1) // (8 * hmax)
    my = (h + 8 * vmax - 1) // (8 * vmax)
    planes = []
    for ci, (sh, sv) in enumerate(sampling):
        p = np.zeros((my * sv * 8, mx * sh * 8), dtype=np.int64)
        for m in range(mx * my):
            myy, mxx = divmod(m, mx)
            for k in range(sh * sv):
                by, bx = divmod(k, sh)
                p[
                    (myy * sv + by) * 8 : (myy * sv + by) * 8 + 8,
                    (mxx * sh + bx) * 8 : (mxx * sh + bx) * 8 + 8,
                ] = idct(comp_blocks[ci][m * sh * sv + k])
        p = np.repeat(p, hmax // sh, axis=1)
        p = np.repeat(p, vmax // sv, axis=0)
        planes.append(p[:h, :w])
    if len(planes) == 1:
        return planes[0]
    y, cb, cr = planes
    bias = 1 << 30

    def fx(v):
        return (v + (1 << 15) + bias) // (1 << 16) - (bias >> 16)

    r = np.clip(y + fx(91881 * (cr - 128)), 0, 255)
    g = np.clip(y - fx(22554 * (cb - 128) + 46802 * (cr - 128)), 0, 255)
    b = np.clip(y + fx(116130 * (cb - 128)), 0, 255)
    return np.stack([r, g, b], axis=-1)


def _jpeg_rand_blocks(rng, n):
    import numpy as np

    out = []
    for _ in range(n):
        q = np.zeros((8, 8), dtype=np.int64)
        for _ in range(rng.randint(0, 6)):
            q[rng.randint(0, 8), rng.randint(0, 8)] = rng.randint(-150, 150)
        out.append(q.tolist())
    return out


def test_jpeg_420_roundtrip_exact():
    """4:2:0 (Y 2x2): the interleaved MCU carries 4 Y blocks + 1 Cb +
    1 Cr; chroma upsampled by replication. Decode must equal the
    independent assembly model bit-for-bit, incl. restart markers."""
    import numpy as np

    from impala_hashset_count_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_baseline,
    )

    rng = np.random.RandomState(41)
    qt = [[1 + ((3 * v + 5 * u) % 9) for u in range(8)] for v in range(8)]
    sampling = [(2, 2), (1, 1), (1, 1)]
    for w, h, ri in ((16, 16, 0), (32, 16, 1), (40, 24, 2)):
        mx, my = (w + 15) // 16, (h + 15) // 16
        comp = [
            _jpeg_rand_blocks(rng, mx * my * 4),
            _jpeg_rand_blocks(rng, mx * my),
            _jpeg_rand_blocks(rng, mx * my),
        ]
        jpg = encode_jpeg_baseline(
            w, h, comp, [qt, qt], restart_interval=ri, sampling=sampling
        )
        dw, dh, nc, rgb = decode_jpeg(jpg)
        assert (dw, dh, nc) == (w, h, 3)
        got = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
        exp = _jpeg_ref_decode(comp, qt, sampling, w, h).astype(np.uint8)
        assert np.array_equal(got, exp), (w, h, ri)


def test_jpeg_422_440_roundtrip_with_crop():
    """4:2:2 (Y 2x1) and 4:4:0 (Y 1x2) with non-MCU-multiple crops:
    the partial-MCU padding region is decoded then discarded."""
    import numpy as np

    from impala_hashset_count_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_baseline,
    )

    rng = np.random.RandomState(43)
    qt = [[2 + ((v + 7 * u) % 11) for u in range(8)] for v in range(8)]
    for sampling, w, h in (
        ([(2, 1), (1, 1), (1, 1)], 20, 7),
        ([(1, 2), (1, 1), (1, 1)], 7, 20),
    ):
        hmax = max(s for s, _ in sampling)
        vmax = max(s for _, s in sampling)
        mx = (w + 8 * hmax - 1) // (8 * hmax)
        my = (h + 8 * vmax - 1) // (8 * vmax)
        comp = [
            _jpeg_rand_blocks(rng, mx * my * sh * sv)
            for sh, sv in sampling
        ]
        jpg = encode_jpeg_baseline(
            w, h, comp, [qt, qt], restart_interval=1, sampling=sampling
        )
        dw, dh, nc, rgb = decode_jpeg(jpg)
        assert (dw, dh, nc) == (w, h, 3)
        got = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
        exp = _jpeg_ref_decode(comp, qt, sampling, w, h).astype(np.uint8)
        assert np.array_equal(got, exp), sampling


def test_jpeg_subsampled_property_roundtrip():
    """Property: any (h,v) in {1,2} per component, any dims, any
    restart interval — decode equals the independent assembly model."""
    import numpy as np
    from hypothesis import given, settings, strategies as st

    from impala_hashset_count_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_baseline,
    )

    @settings(max_examples=25, deadline=None)
    @given(st.data())
    def run(data):
        sampling = [
            (
                data.draw(st.integers(1, 2), label="yh"),
                data.draw(st.integers(1, 2), label="yv"),
            ),
            (1, 1),
            (1, 1),
        ]
        w = data.draw(st.integers(4, 36), label="w")
        h = data.draw(st.integers(4, 36), label="h")
        ri = data.draw(st.integers(0, 2), label="restart")
        seed = data.draw(st.integers(0, 10_000), label="seed")
        rng = np.random.RandomState(seed)
        qt = [[1 + ((3 * v + 5 * u) % 17) for u in range(8)] for v in range(8)]
        hmax = max(s for s, _ in sampling)
        vmax = max(s for _, s in sampling)
        mx = (w + 8 * hmax - 1) // (8 * hmax)
        my = (h + 8 * vmax - 1) // (8 * vmax)
        comp = [
            _jpeg_rand_blocks(rng, mx * my * sh * sv)
            for sh, sv in sampling
        ]
        jpg = encode_jpeg_baseline(
            w, h, comp, [qt, qt], restart_interval=ri, sampling=sampling
        )
        dw, dh, nc, rgb = decode_jpeg(jpg)
        assert (dw, dh, nc) == (w, h, 3)
        got = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
        exp = _jpeg_ref_decode(comp, qt, sampling, w, h).astype(np.uint8)
        assert np.array_equal(got, exp)

    run()


def test_jpeg_sampling_rejections():
    import numpy as np
    import pytest

    from impala_hashset_count_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_baseline,
    )

    rng = np.random.RandomState(5)
    qt = [[1] * 8 for _ in range(8)]
    blocks = _jpeg_rand_blocks(rng, 1)
    # encoder: factor 3 rejected; wrong block count rejected
    with pytest.raises(ValueError, match="sampling"):
        encode_jpeg_baseline(
            8, 8, [blocks, blocks, blocks], [qt],
            sampling=[(3, 1), (1, 1), (1, 1)],
        )
    with pytest.raises(ValueError, match="blocks"):
        encode_jpeg_baseline(
            16, 16, [blocks, blocks, blocks], [qt],
            sampling=[(2, 2), (1, 1), (1, 1)],
        )
    # decoder: a declared factor beyond 2 raises toward the PIL tier
    good = encode_jpeg_baseline(8, 8, [blocks], [qt])
    sof = good.index(b"\xff\xc0")
    patched = bytearray(good)
    patched[sof + 2 + 2 + 5 + 3 * 0 + 2] = 0x33  # comp0 samp byte -> 3x3
    with pytest.raises(ValueError, match="sampling factors"):
        decode_jpeg(bytes(patched))


def test_jpeg420_roundtrip_features_matches_closed_form(spark):
    """The driver-hashed 4:2:0 arm: decoded/resized RGB sums equal the
    per-quadrant closed-form constants (the same arithmetic the SQL
    oracle emits) — DC-only blocks + two DQT tables + replication
    upsample + fixed-point color convert."""
    from impala_hashset_count_spark.operators.multimodal import (
        JPEG_FIXTURE_QTABLE,
        JPEG_FIXTURE_QTABLE_C,
        JPEG_IDCT_TABLE,
        jpeg420_fixture_dcs,
        jpeg420_roundtrip_features,
    )

    qy = JPEG_FIXTURE_QTABLE[0][0]
    qc = JPEG_FIXTURE_QTABLE_C[0][0]
    t2 = JPEG_IDCT_TABLE[0][0] ** 2

    def clamp(v):
        return max(0, min(255, v))

    def idc(dc, q00):
        return clamp(
            (dc * q00 * t2 + (1 << 23) + (1 << 40)) // (1 << 24)
            - (1 << 16) + 128
        )

    def fx(v):
        return (v + 32768 + (1 << 30)) // 65536 - 16384

    dids = [0, 3, 17, 404]
    df = spark.createDataFrame([(d,) for d in dids], "doc_id long")
    got = {
        r.doc_id: r for r in jpeg420_roundtrip_features(df, target=8).collect()
    }
    for did in dids:
        ydcs, cbdc, crdc = jpeg420_fixture_dcs(did)
        cbv, crv = idc(cbdc, qc), idc(crdc, qc)
        tot = out = 0
        for b in range(4):
            yv = idc(ydcs[b], qy)
            r = clamp(yv + fx(91881 * (crv - 128)))
            g = clamp(yv - fx(22554 * (cbv - 128) + 46802 * (crv - 128)))
            bl = clamp(yv + fx(116130 * (cbv - 128)))
            tot += 64 * (r + g + bl)
            out += 16 * (r + g + bl)
        row = got[did]
        assert (row.width, row.height) == (16, 16)
        assert (row.pix_sum, row.out_sum) == (tot, out), did


# ---------------------------------------------------------------------
# progressive JPEG (SOF2)
# ---------------------------------------------------------------------


def test_jpeg_progressive_matches_baseline_on_fixtures():
    """Progressive scans reconstruct the exact coefficients, so the
    decode must be pixel-identical to the baseline encoding of the
    same blocks — across the default SA script and restart intervals."""
    from impala_hashset_count_spark.operators.multimodal import (
        JPEG_FIXTURE_QTABLE,
        decode_jpeg,
        encode_jpeg_baseline,
        encode_jpeg_progressive,
        jpeg_fixture_blocks,
    )

    for did in (0, 1, 37, 499, 12345):
        blocks = jpeg_fixture_blocks(did)
        base = decode_jpeg(
            encode_jpeg_baseline(16, 16, [blocks], [JPEG_FIXTURE_QTABLE])
        )
        for ri in (0, 1, 2, 3):
            prog = decode_jpeg(
                encode_jpeg_progressive(
                    16, 16, [blocks], [JPEG_FIXTURE_QTABLE],
                    restart_interval=ri,
                )
            )
            assert prog == base, (did, ri)


def test_jpeg_progressive_multilevel_sa_and_band_splits():
    """A 3-level successive-approximation script (Al=2 first scans,
    two refinement passes) and a no-SA script both converge to the
    same pixels as baseline — spectral selection and the correction-
    bit algebra are exercised independently."""
    from impala_hashset_count_spark.operators.multimodal import (
        JPEG_FIXTURE_QTABLE,
        decode_jpeg,
        encode_jpeg_baseline,
        encode_jpeg_progressive,
        jpeg_fixture_blocks,
    )

    scripts = [
        [
            ((0,), 0, 0, 0, 2), ((0,), 1, 10, 0, 2), ((0,), 11, 63, 0, 2),
            ((0,), 0, 0, 1, 1), ((0,), 1, 63, 1, 1),
            ((0,), 0, 0, 1, 0), ((0,), 1, 10, 1, 0), ((0,), 11, 63, 1, 0),
        ],
        [((0,), 0, 0, 0, 0), ((0,), 1, 63, 0, 0)],
    ]
    for did in (3, 88, 1024):
        blocks = jpeg_fixture_blocks(did)
        base = decode_jpeg(
            encode_jpeg_baseline(16, 16, [blocks], [JPEG_FIXTURE_QTABLE])
        )
        for script in scripts:
            prog = decode_jpeg(
                encode_jpeg_progressive(
                    16, 16, [blocks], [JPEG_FIXTURE_QTABLE], scans=script
                )
            )
            assert prog == base, did


def test_jpeg_progressive_refinement_zrl_and_eob_runs():
    """Adversarial refinement-path shapes: a lone zigzag-63
    coefficient (maximal ZRL chains in first AND refinement scans),
    interleaved previously-significant coefficients riding correction
    bits through EOB-runs that span blocks."""
    from impala_hashset_count_spark.operators.multimodal import (
        _ZZ,
        JPEG_FIXTURE_QTABLE,
        decode_jpeg,
        encode_jpeg_baseline,
        encode_jpeg_progressive,
    )

    def blk(assign):
        q = [[0] * 8 for _ in range(8)]
        for zi, v in assign.items():
            r, c = _ZZ[zi]
            q[r][c] = v
        return q

    cases = [
        # all-EOB blocks around one tail coefficient
        [blk({0: 5}), blk({0: -3, 63: 3}), blk({}), blk({0: 1})],
        # prev-significant (abs>1 at Al=1) interleaved with newly-significant
        [blk({0: 2, 5: 6, 40: 1}), blk({1: -7, 22: -1, 63: 1}),
         blk({10: 2, 11: 3}), blk({})],
        # newly-significant exactly at Se and nothing after
        [blk({63: 1}), blk({63: -1}), blk({0: -60}), blk({30: 1})],
    ]
    for blocks in cases:
        base = decode_jpeg(
            encode_jpeg_baseline(16, 16, [blocks], [JPEG_FIXTURE_QTABLE])
        )
        for ri in (0, 2):
            prog = decode_jpeg(
                encode_jpeg_progressive(
                    16, 16, [blocks], [JPEG_FIXTURE_QTABLE],
                    restart_interval=ri,
                )
            )
            assert prog == base


def test_jpeg_progressive_color_subsampled_padded_grid():
    """Color 4:2:0 at 24x24: the luma non-interleaved grid (3x3
    blocks) is smaller than the MCU-padded grid (4x4) — AC scans must
    cover exactly the spec grid while the interleaved DC scan covers
    every MCU block. Padding blocks are zero so baseline equality is
    exact."""
    import numpy as np

    from impala_hashset_count_spark.operators.multimodal import (
        JPEG_FIXTURE_QTABLE,
        JPEG_FIXTURE_QTABLE_C,
        _blk_storage_index,
        _comp_block_grid,
        decode_jpeg,
        encode_jpeg_baseline,
        encode_jpeg_progressive,
    )

    rng = np.random.RandomState(11)
    samps = [(2, 2), (1, 1), (1, 1)]
    w = h = 24

    def comp(ci):
        sh, sv = samps[ci]
        n_mcux = (w + 15) // 16
        n_mcuy = (h + 15) // 16
        blocks = [
            [[0] * 8 for _ in range(8)]
            for _ in range(n_mcux * n_mcuy * sh * sv)
        ]
        bx_n, by_n = _comp_block_grid(w, h, samps, ci)
        for by in range(by_n):
            for bx in range(bx_n):
                q = [[0] * 8 for _ in range(8)]
                q[0][0] = int(rng.randint(-60, 61))
                for _ in range(6):
                    q[rng.randint(0, 8)][rng.randint(0, 8)] = int(
                        rng.randint(-30, 31)
                    )
                blocks[_blk_storage_index(bx, by, sh, sv, n_mcux)] = q
        return blocks

    comps = [comp(0), comp(1), comp(2)]
    qts = [JPEG_FIXTURE_QTABLE, JPEG_FIXTURE_QTABLE_C]
    base = decode_jpeg(
        encode_jpeg_baseline(w, h, comps, qts, sampling=samps)
    )
    prog = decode_jpeg(
        encode_jpeg_progressive(w, h, comps, qts, sampling=samps)
    )
    assert prog == base


def test_jpeg_progressive_property_random_blocks():
    """Property: random blocks, random gray script, random restart —
    progressive decode equals baseline decode (coefficient-exactness
    of the scan assembly)."""
    import numpy as np
    from hypothesis import given, settings, strategies as st

    from impala_hashset_count_spark.operators.multimodal import (
        JPEG_FIXTURE_QTABLE,
        decode_jpeg,
        encode_jpeg_baseline,
        encode_jpeg_progressive,
    )

    @settings(max_examples=20, deadline=None)
    @given(st.data())
    def run(data):
        seed = data.draw(st.integers(0, 100_000), label="seed")
        ri = data.draw(st.integers(0, 3), label="restart")
        split = data.draw(st.integers(1, 62), label="band_split")
        al = data.draw(st.integers(0, 2), label="al")
        rng = np.random.RandomState(seed)
        blocks = _jpeg_rand_blocks(rng, 4)
        script = [((0,), 0, 0, 0, al)]
        script += [((0,), 1, split, 0, al), ((0,), split + 1, 63, 0, al)]
        for lvl in range(al, 0, -1):
            script += [((0,), 0, 0, lvl, lvl - 1), ((0,), 1, 63, lvl, lvl - 1)]
        base = decode_jpeg(
            encode_jpeg_baseline(16, 16, [blocks], [JPEG_FIXTURE_QTABLE])
        )
        prog = decode_jpeg(
            encode_jpeg_progressive(
                16, 16, [blocks], [JPEG_FIXTURE_QTABLE],
                scans=script, restart_interval=ri,
            )
        )
        assert prog == base

    run()


def test_jpeg_progressive_rejections():
    import pytest

    from impala_hashset_count_spark.operators.multimodal import (
        JPEG_FIXTURE_QTABLE,
        encode_jpeg_progressive,
        jpeg_fixture_blocks,
    )

    with pytest.raises(ValueError, match="exactly one component"):
        encode_jpeg_progressive(
            16, 16,
            [jpeg_fixture_blocks(1), jpeg_fixture_blocks(2),
             jpeg_fixture_blocks(3)],
            [JPEG_FIXTURE_QTABLE],
            sampling=[(1, 1)] * 3,
            scans=[((0, 1, 2), 0, 0, 0, 0), ((0, 1), 1, 63, 0, 0)],
        )


def test_frozen_cell_assignment_matches_fitted_model(spark, sf_small):
    """The incremental IVF append face: assigning rows against the
    FROZEN centroid matrix (pure projection, no ml model) reproduces
    the fitted k-means transform's cells on the training rows, and a
    held-out 'new batch' lands on its true Euclidean-argmin cell
    (numpy ground truth) — so a stored index grows by appends without
    re-fitting or re-reading history."""
    import numpy as np

    from impala_hashset_count_spark.operators.similarity import (
        assign_ivf_cells,
        assign_ivf_cells_frozen,
    )

    e = load_table(spark, sf_small, "embeddings")
    hist = e.filter(F.col("vec_id") % 5 != 0)
    batch = e.filter(F.col("vec_id") % 5 == 0)

    assigned, centroids = assign_ivf_cells(hist, "embedding", n_cells=8)
    model_cells = {r.vec_id: r.cell for r in assigned.select("vec_id", "cell").collect()}
    frozen_cells = {
        r.vec_id: r.cell
        for r in assign_ivf_cells_frozen(hist, "embedding", centroids)
        .select("vec_id", "cell")
        .collect()
    }
    assert frozen_cells == model_cells

    cents = np.array(centroids)
    got = assign_ivf_cells_frozen(batch, "embedding", centroids).select(
        "vec_id", "embedding", "cell"
    ).collect()
    assert len(got) > 0
    for r in got:
        d2 = ((cents - np.array(r.embedding, dtype=float)) ** 2).sum(axis=1)
        assert r.cell == int(np.argmin(d2)), r.vec_id

    # the plan is map-only: no exchange, no python
    plan = assign_ivf_cells_frozen(batch, "embedding", centroids)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan


# ---------------------------------------------------------------------
# Perceptual dHash image dedup
# ---------------------------------------------------------------------


def test_dhash_format_invariant_and_deterministic():
    """The same pixels through BMP and PNG containers hash
    identically (dHash sees decoded pixels, not bytes)."""
    from impala_hashset_count_spark.operators.multimodal import (
        dhash64,
        encode_bmp,
        encode_png,
        ramp_rgb,
    )

    rgb = ramp_rgb(5, 20, 14)
    hb = dhash64(encode_bmp(20, 14, rgb))
    hp = dhash64(encode_png(20, 14, rgb))
    assert hb == hp
    assert dhash64(encode_bmp(20, 14, rgb)) == hb
    assert -(2**63) <= hb < 2**63


def test_dhash_small_perturbation_small_hamming():
    """A few perturbed pixels move the hash a few bits at most; a
    different image is far away."""
    import numpy as np

    from impala_hashset_count_spark.operators.multimodal import (
        dhash64,
        encode_bmp,
        ramp_rgb,
    )

    w, h = 36, 28
    base = bytearray(ramp_rgb(1, w, h))
    near = bytearray(base)
    for off in (0, 100, 500):  # nudge a few channels slightly
        near[off] = (near[off] + 6) % 256
    # reversing the pixel stream flips every luma gradient sign — the
    # structurally-opposite image (a phase-shifted ramp would be the
    # SAME structure, which dHash correctly hashes nearby)
    far = bytes(bytearray(base)[::-1])

    h0 = dhash64(encode_bmp(w, h, bytes(base)))
    h1 = dhash64(encode_bmp(w, h, bytes(near)))
    h2 = dhash64(encode_bmp(w, h, far))

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert ham(h0, h1) <= 3
    assert ham(h0, h2) > 8  # measured 15: far outside any dedup radius


def test_dhash_near_pairs_pigeonhole_exact(spark):
    """With 4 bands and max_hamming=3, EVERY pair within 3 bits is
    found (pigeonhole), none beyond the threshold survive — verified
    against a brute-force python ground truth over synthetic hashes,
    including sign-bit values."""
    import itertools
    import random

    from impala_hashset_count_spark.operators.multimodal import (
        dhash_near_pairs,
    )

    rng = random.Random(7)
    base = rng.getrandbits(64)
    vals = [base]
    for k in (1, 2, 3, 4, 9):  # flips incl. > threshold
        v = base
        for bit in rng.sample(range(64), k):
            v ^= 1 << bit
        vals.append(v)
    vals.append(base ^ (1 << 63))  # sign-bit flip: hamming 1
    signed = [v - (1 << 64) if v >= (1 << 63) else v for v in vals]
    rows = list(enumerate(signed))
    df = spark.createDataFrame(rows, "doc_id long, dhash long")
    got = sorted(
        (r.id_1, r.id_2, r.hamming)
        for r in dhash_near_pairs(df, max_hamming=3).collect()
    )

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    want = sorted(
        (i, j, ham(signed[i], signed[j]))
        for i, j in itertools.combinations(range(len(signed)), 2)
        if ham(signed[i], signed[j]) <= 3
    )
    assert got == want and len(want) >= 3


def test_image_dhashes_end_to_end_near_dup(spark):
    """binaryFile-shaped frame -> fused decode+hash pass -> banded
    join: the re-encoded twin (PNG of the same pixels) and the mildly
    perturbed copy pair with the original; the unrelated image does
    not."""
    from impala_hashset_count_spark.operators.multimodal import (
        dhash_near_pairs,
        encode_bmp,
        encode_png,
        image_dhashes,
        ramp_rgb,
    )

    w, h = 24, 18
    base = ramp_rgb(3, w, h)
    near = bytearray(base)
    near[50] = (near[50] + 5) % 256
    rows = [
        (1, encode_bmp(w, h, base)),
        (2, encode_png(w, h, base)),          # exact twin, other format
        (3, encode_bmp(w, h, bytes(near))),   # near twin
        (4, encode_bmp(w, h, ramp_rgb(9, w, h))),  # unrelated
    ]
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    hashes = image_dhashes(df)
    pairs = {
        (r.id_1, r.id_2): r.hamming
        for r in dhash_near_pairs(hashes, max_hamming=3).collect()
    }
    assert pairs.get((1, 2)) == 0
    assert (1, 3) in pairs and pairs[(1, 3)] <= 3
    assert not any(4 in p for p in pairs)


def test_dhash_band_ubiquity_guard(spark):
    """max_band_ids drops a degenerate band value shared by a crowd
    (flat thumbnails all hash 0) while distinctive bands still pair."""
    from impala_hashset_count_spark.operators.multimodal import (
        dhash_near_pairs,
    )

    # 30 docs all hash 0 (flat) + two near twins with distinctive bits
    rows = [(i, 0) for i in range(30)]
    twin = (0x1234_5678_9ABC_DEF0 - (1 << 64)) if 0x1234_5678_9ABC_DEF0 >= (1 << 63) else 0x1234_5678_9ABC_DEF0
    rows += [(100, twin), (101, twin ^ 1)]
    df = spark.createDataFrame(rows, "doc_id long, dhash long")
    got = {(r.id_1, r.id_2) for r in dhash_near_pairs(
        df, max_hamming=3, max_band_ids=5
    ).collect()}
    assert (100, 101) in got
    assert not any(a < 100 and b < 100 for a, b in got)


def test_jpeg_fill_bytes_and_multiscan_rejection():
    """Spec-legal 0xFF fill bytes may pad before any marker (B.1.1.2)
    — the walk must skip them, not raise 'marker expected'. A baseline
    multi-scan file (SOS ns < frame component count) is out of scope
    and must fail with a CLEAR unsupported-format error, not an
    IndexError deep in comp_huff."""
    import pytest

    from impala_hashset_count_spark.operators.multimodal import (
        JPEG_FIXTURE_QTABLE,
        decode_jpeg,
        encode_jpeg_baseline,
        jpeg_fixture_blocks,
    )

    blocks = jpeg_fixture_blocks(5)
    jpg = encode_jpeg_baseline(8, 8, [[blocks[0]]], [JPEG_FIXTURE_QTABLE])
    # inject a run of fill bytes immediately after SOI, before the
    # first real segment's 0xFF lead-in
    padded = jpg[:2] + b"\xff\xff" + jpg[2:]
    assert decode_jpeg(padded)[3] == decode_jpeg(jpg)[3]

    color = encode_jpeg_baseline(
        8, 8, [[blocks[0]], [blocks[0]], [blocks[0]]],
        [JPEG_FIXTURE_QTABLE, JPEG_FIXTURE_QTABLE],
    )
    sos = color.find(b"\xff\xda")
    assert sos > 0
    multiscan = bytearray(color)
    multiscan[sos + 4] = 1  # ns=1 of 3 frame components
    with pytest.raises(ValueError, match="multi-scan"):
        decode_jpeg(bytes(multiscan))


def test_planted_dhash_corpus_properties(spark):
    """The planted dHash corpus (the non-degenerate fixture that puts
    dhash_near_pairs under the driver hash): the 8x-repetition group
    code keeps distinct groups >= 6 bits apart after the <=1-bit
    per-doc flips, so the TRUE <=3-bit pair set is exactly the
    within-group pairs — and the banded join reproduces it, Hamming
    distances included, on a 400-doc slice."""
    from impala_hashset_count_spark.operators.multimodal import (
        dhash_near_pairs,
        planted_dhash_bmp,
        planted_dhash_sig,
        dhash64,
    )

    n = 400  # covers >1 doc in many of the 256 groups
    sigs = {}
    for did in range(n):
        sig, fp = planted_dhash_sig(did)
        # BMP round-trip through the REAL decode is exact
        assert (dhash64(planted_dhash_bmp(did)) & ((1 << 64) - 1)) == sig
        sigs[did] = sig

    # closed-form expected pair set: within-group only
    def ham(a, b):
        return bin(a ^ b).count("1")

    expected = {}
    for a in range(n):
        for b in range(a + 1, n):
            d = ham(sigs[a], sigs[b])
            if a % 256 == b % 256:
                assert d <= 2
                expected[(a, b)] = d
            else:
                assert d >= 6  # never inside max_hamming=3

    rows = [
        (did, s - (1 << 64) if s >= (1 << 63) else s)
        for did, s in sigs.items()
    ]
    df = spark.createDataFrame(rows, "doc_id long, dhash long")
    got = {
        (r.id_1, r.id_2): r.hamming
        for r in dhash_near_pairs(df, max_hamming=3, bands=4).collect()
    }
    assert got == expected


# --- GIF (LZW, multi-frame) codec tier ----------------------------------

def test_lzw_round_trip_properties():
    """Encode->decode identity across code sizes, stream lengths, the
    KwKwK pattern, table-full resets and forced mid-stream CLEARs."""
    import random

    from impala_hashset_count_spark.operators.multimodal import (
        _lzw_decode,
        _lzw_encode,
    )

    rnd = random.Random(7)
    for mcs in (2, 4, 8):
        for n in (1, 5, 300, 6000):
            data = bytes(rnd.randrange(1 << mcs) for _ in range(n))
            assert _lzw_decode(_lzw_encode(data, mcs), mcs) == data
            assert (
                _lzw_decode(_lzw_encode(data, mcs, clear_every=None), mcs)
                == data
            )
    # KwKwK (code == next_code) and degenerate all-same-symbol streams
    data = bytes([0, 1] * 400)
    assert _lzw_decode(_lzw_encode(data, 2, clear_every=None), 2) == data
    data = bytes(20000)
    assert _lzw_decode(_lzw_encode(data, 8, clear_every=None), 8) == data


def test_lzw_decode_rejects_corruption():
    import pytest as _pytest

    from impala_hashset_count_spark.operators.multimodal import (
        _lzw_decode,
        _lzw_encode,
    )

    good = _lzw_encode(bytes(range(64)) * 4, 8)
    with _pytest.raises(ValueError, match="truncated"):
        _lzw_decode(good[:-2], 8)
    # a code far beyond the table: flip high bits early in the stream
    bad = bytearray(good)
    bad[2] ^= 0xFF
    with _pytest.raises(ValueError):
        _lzw_decode(bytes(bad), 8)


def test_gif_round_trip_and_closed_form_sums():
    """decode(encode(frames)) returns the exact palette-mapped pixels,
    and the per-frame RGB sums equal the closed-form arithmetic the
    DuckDB oracle uses."""
    from impala_hashset_count_spark.operators.multimodal import (
        decode_gif,
        encode_gif,
        gif_frame_indices,
        gif_palette,
    )

    pal = gif_palette()
    for did in (0, 1, 7, 123, 4567, 99991):
        w, h, nf = 8 + did % 16, 8 + (did // 2) % 8, 2 + did % 3
        frames = [gif_frame_indices(did, w, h, t) for t in range(nf)]
        g = encode_gif(w, h, pal, frames)
        assert g[:6] == b"GIF89a" and g[-1] == 0x3B
        dw, dh, dec = decode_gif(g)
        assert (dw, dh, len(dec)) == (w, h, nf)
        for t, f in enumerate(dec):
            assert len(f) == w * h * 3
            cf = sum(
                k + (2 * k) % 256 + (7 * k) % 256
                for y in range(h)
                for x in range(w)
                for k in [(did + 3 * x + 7 * y + 11 * t) % 256]
            )
            assert sum(f) == cf, (did, t)


def test_lzw_final_code_width_boundary():
    """r8 ADVICE regression: when the FINAL data code's table entry (on
    the decoder side) crosses a width boundary, the encoder must emit
    EOI at the grown width — the old encoder skipped the end-of-stream
    bookkeeping and the decoder read EOI one bit-width wide, raising
    'truncated' on a valid stream (or worse, misreading a code)."""
    import random

    from impala_hashset_count_spark.operators.multimodal import (
        _lzw_decode,
        _lzw_encode,
    )

    # the advisor's exact repro: mcs=2, clear_every=3 lands the final
    # data code exactly on the 3-bit table-capacity boundary
    data = bytes.fromhex("010202010200000101000103000200000000020203")
    assert _lzw_decode(_lzw_encode(data, 2, clear_every=3), 2) == data
    # sweep small code sizes x aggressive clear cadences so every
    # (width-boundary, end-of-stream) alignment is exercised
    rnd = random.Random(11)
    for mcs in (2, 3, 4):
        for ce in (1, 2, 3, 5, 7, None):
            for n in range(0, 40):
                payload = bytes(rnd.randrange(1 << mcs) for _ in range(n))
                got = _lzw_decode(_lzw_encode(payload, mcs, clear_every=ce), mcs)
                assert got == payload, (mcs, ce, n)


def test_gif_decoder_rejections():
    import pytest as _pytest

    from impala_hashset_count_spark.operators.multimodal import (
        decode_gif,
        encode_gif,
        gif_palette,
    )

    with _pytest.raises(ValueError, match="not a GIF"):
        decode_gif(b"BM" + b"\x00" * 20)
    g = bytearray(encode_gif(8, 8, gif_palette(), [bytes(64)]))
    with _pytest.raises(ValueError, match="truncated"):
        decode_gif(bytes(g[:-1]))  # trailer gone


def test_gif_decoder_truncation_is_valueerror_not_indexerror():
    """r8 ADVICE regression: truncation ANYWHERE mid-structure (inside
    an extension's sub-blocks, inside image data sub-blocks, before the
    LZW code size) must raise the documented ValueError, never leak an
    IndexError from the sub-block walk."""
    import pytest as _pytest

    from impala_hashset_count_spark.operators.multimodal import (
        decode_gif,
        encode_gif,
        gif_frame_indices,
        gif_palette,
    )

    g = encode_gif(10, 6, gif_palette(), [gif_frame_indices(3, 10, 6, 0)])
    # every proper prefix must fail with ValueError (or decode nothing
    # cleanly — impossible here since the trailer is the last byte)
    for cut in range(6, len(g)):
        with _pytest.raises(ValueError):
            decode_gif(g[:cut])


def test_gif_matches_pil_where_available():
    """Cross-decoder conformance: where PIL exists, its GIF decoder
    must reproduce our encoder's frames pixel-for-pixel (the same
    PIL-gated pattern as the real-decode image tier)."""
    import pytest as _pytest

    _pytest.importorskip("PIL")
    import io

    from PIL import Image, ImageSequence

    from impala_hashset_count_spark.operators.multimodal import (
        encode_gif,
        gif_frame_indices,
        gif_palette,
    )

    pal = gif_palette()
    for did in (3, 44, 1001):
        w, h, nf = 8 + did % 16, 8 + (did // 2) % 8, 2 + did % 3
        frames = [gif_frame_indices(did, w, h, t) for t in range(nf)]
        img = Image.open(io.BytesIO(encode_gif(w, h, pal, frames)))
        got = [
            fr.convert("RGB").tobytes()
            for fr in ImageSequence.Iterator(img)
        ]
        want = [
            bytes(v for i in fr for v in pal[3 * i : 3 * i + 3])
            for fr in frames
        ]
        assert got == want


def test_gif_roundtrip_features_spark_stage(spark, sf_small):
    """The mapInPandas stage emits the closed-form sums for every doc
    at the driver SF — the same values the entry's oracle recomputes."""
    from impala_hashset_count_spark.operators.multimodal import (
        gif_roundtrip_features,
    )
    from impala_hashset_count_spark.sources.tables import load_table

    d = load_table(spark, sf_small, "documents").select("doc_id")
    rows = gif_roundtrip_features(d).collect()
    assert len(rows) == d.count()
    for r in rows[:20]:
        did = r.doc_id
        w, h, nf = 8 + did % 16, 8 + (did // 2) % 8, 2 + did % 3
        assert (r.width, r.height, r.n_frames) == (w, h, nf)
        last = sum(
            k + (2 * k) % 256 + (7 * k) % 256
            for y in range(h)
            for x in range(w)
            for k in [(did + 3 * x + 7 * y + 11 * (nf - 1)) % 256]
        )
        assert r.out_sum == last


def test_pq_faces_share_one_scorer(spark, sf_small):
    """IVF-PQ probing every cell is PQ over the whole corpus — the same
    codebooks, ADC scan and re-rank over the same candidates; probing
    fewer cells drops candidates and changes the result. Small
    codebooks (m=4 x 16 codes) keep the three trainings cheap."""
    from impala_hashset_count_spark.operators.similarity import ivfpq_topk, pq_topk

    e = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 5)
    pq_args = dict(dim=64, k=10, m=4, k_codes=16)

    def canon(df):
        return sorted(map(tuple, df.collect()))

    pq = canon(pq_topk(e, q, "vec_id", "embedding", **pq_args))
    every_cell = ivfpq_topk(e, q, "vec_id", "embedding", n_cells=8, nprobe=8, **pq_args)
    assert canon(every_cell) == pq
    two_cells = ivfpq_topk(e, q, "vec_id", "embedding", n_cells=8, nprobe=2, **pq_args)
    assert canon(two_cells) != pq
