"""Empty-input robustness: at 100 TB, empty partitions and empty date
slices are routine — every major operator must produce an empty result
(not crash on a missing first row, a NULL aggregate, or a zero
denominator)."""

import pytest

from impala_hashset_count_spark.operators import (
    bm25_topn,
    exact_dedup,
    hash_split,
    minhash_lsh_pairs,
    shuffle_rows,
    strip_boilerplate_lines,
    term_doc_stats,
    tfidf_top_terms,
    top_tokens,
    unigram_logprob_scores,
)


@pytest.fixture(scope="module")
def empty_docs(spark):
    return spark.createDataFrame([], "doc_id bigint, text string")


@pytest.mark.parametrize(
    "name,op",
    [
        ("term_doc_stats", lambda d: term_doc_stats(d)),
        ("tfidf_top_terms", lambda d: tfidf_top_terms(d)),
        ("bm25_topn", lambda d: bm25_topn(d, ["x"])),
        ("top_tokens", lambda d: top_tokens(d)),
        ("unigram_logprob_scores", lambda d: unigram_logprob_scores(d)),
        ("strip_boilerplate_lines", lambda d: strip_boilerplate_lines(d)),
        ("shuffle_rows", lambda d: shuffle_rows(d, "doc_id")),
        (
            "hash_split",
            lambda d: hash_split(d, "doc_id", {"a": 0.5, "b": 0.5}),
        ),
        ("exact_dedup", lambda d: exact_dedup(d, ["text"], "doc_id")),
        ("minhash_lsh_pairs", lambda d: minhash_lsh_pairs(d, "doc_id", "text")),
    ],
    ids=lambda p: p if isinstance(p, str) else "",
)
def test_operator_empty_input_yields_empty_output(empty_docs, name, op):
    out = op(empty_docs)
    assert out.count() == 0
    # and the schema is still fully resolved (collect of nothing works)
    assert out.collect() == []


def test_gap_fill_empty_events_yields_empty_spine(spark):
    """Empty input -> NULL min/max bounds -> sequence() of NULLs must
    collapse to zero spine rows, not crash."""
    from impala_hashset_count_spark.operators.analytics import gap_fill

    ev = spark.createDataFrame([], "event_id bigint, user_id bigint, event_type string, ts timestamp")
    out = gap_fill(ev, "ts", "event_type", unit="hour")
    assert out.count() == 0
    assert out.collect() == []


def test_simhash_md5_tier_empty_input(spark):
    from impala_hashset_count_spark.operators.dedup import simhash_pairs

    d = spark.createDataFrame([], "doc_id bigint, text string")
    assert simhash_pairs(d, "doc_id", "text", hash_fn="md5").count() == 0


def test_contamination_ops_empty_corpus_and_empty_eval(spark):
    from impala_hashset_count_spark.operators.decontaminate import (
        contamination_stats,
        decontaminate,
    )

    empty = spark.createDataFrame([], "doc_id bigint, text string")
    docs = spark.createDataFrame([(1, "a b c d e f g h i")], "doc_id bigint, text string")
    # empty corpus: no rows out
    assert contamination_stats(empty, docs).count() == 0
    assert decontaminate(empty, docs).count() == 0
    # empty eval set: nothing is contaminated, corpus passes through
    assert decontaminate(docs, empty).count() == 1
    stats = contamination_stats(docs, empty).collect()
    assert len(stats) == 1 and stats[0].n_hits == 0 and not stats[0].contaminated


def test_bmp_resize_tier_empty_dataframe(spark):
    from impala_hashset_count_spark.operators.multimodal import resize_images

    df = spark.createDataFrame([], "doc_id bigint, payload binary")
    assert resize_images(df, target=8, decode="bmp").count() == 0


def test_png_tier_and_roundtrip_empty_dataframe(spark):
    from impala_hashset_count_spark.operators.multimodal import (
        png_roundtrip_features,
        resize_images,
    )

    df = spark.createDataFrame([], "doc_id bigint, payload binary")
    assert resize_images(df, target=8, decode="png").count() == 0
    assert png_roundtrip_features(df).count() == 0


def test_edit_distance_pairs_empty_and_single_doc(spark):
    from impala_hashset_count_spark.operators.dedup import edit_distance_pairs

    empty = spark.createDataFrame([], "doc_id bigint, text string")
    assert edit_distance_pairs(empty, "doc_id", "text").count() == 0
    one = spark.createDataFrame([(1, "just one document here")],
                                "doc_id bigint, text string")
    assert edit_distance_pairs(one, "doc_id", "text").count() == 0


def test_pagerank_empty_pairs(spark):
    from impala_hashset_count_spark.operators.graph import pagerank_fixed

    empty = spark.createDataFrame([], "id_1 bigint, id_2 bigint")
    assert pagerank_fixed(empty).count() == 0


def test_bloom_empty_history_keeps_everything(spark):
    """An empty history means an all-zero filter: nothing is
    maybe_seen, every new key survives."""
    from impala_hashset_count_spark.operators.bloom import (
        bloom_build,
        bloom_dedup_incremental,
        bloom_probe,
    )

    empty = spark.createDataFrame([], "key string")
    bloom = bloom_build(empty, "key", 256, hash_fn="md5")
    assert bloom.count() == 0
    batch = spark.createDataFrame([("a", 1), ("b", 2)], "key string, ord bigint")
    probed = bloom_probe(batch, "key", bloom, 256, hash_fn="md5")
    assert all(not r.maybe_seen for r in probed.collect())
    assert bloom_dedup_incremental(batch, empty, "key", "ord",
                                   n_bits=256, hash_fn="md5").count() == 2


def test_drift_empty_slices(spark):
    from impala_hashset_count_spark.operators.drift import distribution_drift

    empty = spark.createDataFrame([], "text string")
    docs = spark.createDataFrame([("some words here",)], "text string")
    # one empty side: vocabulary comes entirely from the other side
    row = distribution_drift(empty, docs).collect()[0]
    assert row.n_a == 0 and row.n_b == 3 and row.v == 3
    assert row.tv_num == 0  # c_a*n_b - c_b*n_a = 0 when n_a = 0
    # both empty: a single all-NULL summary row, no crash
    row2 = distribution_drift(empty, empty).collect()[0]
    assert row2.v is None or row2.v == 0


def test_priority_sample_empty_and_all_null_keys(spark):
    from impala_hashset_count_spark.operators.sampling import priority_sample

    empty = spark.createDataFrame([], "key string, w bigint")
    assert priority_sample(empty, "key", "w", k=3).count() == 0
    nulls = spark.createDataFrame([(None, 5), (None, 7)], "key string, w bigint")
    assert priority_sample(nulls, "key", "w", k=3).count() == 0


@pytest.fixture(scope="module")
def embeddings(spark, sf_small):
    from impala_hashset_count_spark.sources.tables import load_table

    return load_table(spark, sf_small, "embeddings")


@pytest.fixture(scope="module")
def pq_books(embeddings):
    from impala_hashset_count_spark.operators import train_pq

    return train_pq(embeddings, "embedding", dim=64)


def test_ann_faces_empty_queries(embeddings, pq_books):
    """An empty query set runs every ANN face to an empty result."""
    from pyspark.sql import functions as F

    from impala_hashset_count_spark.operators import brute_force_topk, lsh_topk, pq_topk

    e = embeddings
    q = e.filter(F.col("vec_id") < 0)
    assert brute_force_topk(e, q, "vec_id", "embedding").collect() == []
    assert lsh_topk(e, q, "vec_id", "embedding", dim=64).collect() == []
    assert pq_topk(e, q, "vec_id", "embedding", dim=64, codebooks=pq_books).collect() == []


def test_pq_topk_sparse_query_partitions(embeddings, pq_books):
    """Five queries over eight partitions leave empty Arrow batches in
    the lookup-table pass; every query still gets its k neighbors."""
    from pyspark.sql import functions as F

    from impala_hashset_count_spark.operators import pq_topk

    e = embeddings
    q = e.filter(F.col("vec_id") < 5).repartition(8)
    rows = pq_topk(e, q, "vec_id", "embedding", dim=64, k=10, codebooks=pq_books).collect()
    assert len(rows) == 50
