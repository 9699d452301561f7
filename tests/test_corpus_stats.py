"""Corpus-level term statistics: TF-IDF, BM25, heavy hitters.

The registry query `corpus_stats_documents` is oracle-checked by
tests/test_oracle.py; here we pin the semantics on planted corpora
(known answers a human can re-derive) and the plan shapes that make the
operators scale."""

import math

import pytest
from pyspark.sql import functions as F

from impala_hashset_count_spark.operators.corpus_stats import (
    bm25_topn,
    doc_frequency,
    term_doc_stats,
    tfidf_top_terms,
    top_tokens,
)

from .test_plans import explain_str


def qfix(x: float, scale: float = 1e4) -> float:
    """Mirror of corpus_stats._qfix for expected values."""
    return math.floor(x * scale + 0.5) / scale


def qsum(xs, scale: float = 1e6) -> float:
    """Mirror of the micro-unit integer-sum quantization: quantize each
    addend to an integer, sum exactly, divide back."""
    return sum(math.floor(x * scale + 0.5) for x in xs) / scale


@pytest.fixture(scope="module")
def tiny(spark):
    rows = [
        (1, "apple banana apple"),
        (2, "banana cherry"),
        (3, "apple apple apple durian"),
        (4, None),
        (5, "   "),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_term_doc_stats_and_df(tiny):
    tf = {
        (r.doc_id, r.term): r.tf for r in term_doc_stats(tiny).collect()
    }
    assert tf[(1, "apple")] == 2
    assert tf[(1, "banana")] == 1
    assert tf[(3, "apple")] == 3
    assert (4, None) not in tf  # NULL text contributes nothing
    assert not any(doc == 5 for doc, _ in tf)  # blank text too
    dfreq = {r.term: r.df for r in doc_frequency(term_doc_stats(tiny)).collect()}
    assert dfreq == {"apple": 2, "banana": 2, "cherry": 1, "durian": 1}


def test_tfidf_known_answer(tiny):
    out = tfidf_top_terms(tiny, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # N = 3 non-blank docs; smooth idf = ln((1+N)/(1+df)) + 1.
    idf = lambda df: math.log((1 + 3) / (1 + df)) + 1  # noqa: E731
    # doc 1: apple tf=2 (df=2), banana tf=1 (df=2) -> apple first.
    d1 = sorted(by_doc[1], key=lambda r: r.rank)
    assert [r.term for r in d1] == ["apple", "banana"]
    assert d1[0].tfidf == pytest.approx(qfix(2 * idf(2)))
    # doc 2: banana and cherry both tf=1, cherry rarer (df=1) -> higher.
    d2 = sorted(by_doc[2], key=lambda r: r.rank)
    assert [r.term for r in d2] == ["cherry", "banana"]
    # rank never exceeds k even where the doc has more distinct terms
    assert all(r.rank <= 2 for r in out)


def test_bm25_ranks_matching_docs(tiny):
    out = bm25_topn(tiny, ["apple"], n=10).collect()
    # Only docs containing 'apple' appear.
    assert sorted(r.doc_id for r in out) == [1, 3]
    top = out[0]
    # doc 3 has higher tf (3 vs 2) and shorter-per-term length; BM25
    # must rank it first.
    assert top.doc_id == 3
    assert all(r.n_matched == 1 for r in out)
    # Hand-computed: N=3, df('apple')=2 (docs 1 and 3),
    # idf = ln(1 + (3-2+0.5)/(2+0.5)); dl: doc1=3, doc3=4,
    # avgdl = (3+2+4)/3.
    idf = math.log(1 + (3 - 2 + 0.5) / (2 + 0.5))
    avgdl = (3 + 2 + 4) / 3
    k1, b = 1.2, 0.75

    def score(tf, dl):
        return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    got = {r.doc_id: r.score for r in out}
    assert got[3] == pytest.approx(qsum([score(3, 4)]))
    assert got[1] == pytest.approx(qsum([score(2, 3)]))


def test_bm25_multi_term_and_empty_query(tiny):
    out = bm25_topn(tiny, ["banana", "cherry"], n=10).collect()
    got = {r.doc_id: r.n_matched for r in out}
    assert got == {1: 1, 2: 2}
    with pytest.raises(ValueError):
        bm25_topn(tiny, [])


def test_bm25_absent_term_contributes_nothing(tiny):
    both = {r.doc_id: r.score for r in bm25_topn(tiny, ["apple"], n=10).collect()}
    plus = {
        r.doc_id: r.score
        for r in bm25_topn(tiny, ["apple", "zzz_not_here"], n=10).collect()
    }
    assert both == plus


def test_top_tokens_counts(tiny):
    out = top_tokens(tiny, k=10).collect()
    got = {r.term: (r.n, r.n_docs) for r in out}
    assert got["apple"] == (5, 2)
    assert got["banana"] == (2, 2)
    assert got["cherry"] == (1, 1)
    # ordered by n desc then term
    assert out[0].term == "apple"


def test_top_tokens_k_limit(spark, sf_small):
    d = spark.read.parquet(f"{sf_small}/documents.parquet")
    out = top_tokens(d, k=7)
    assert out.count() == 7


def test_tfidf_plan_broadcasts_vocab_and_rank_limits(spark, sf_small):
    d = spark.read.parquet(f"{sf_small}/documents.parquet")
    plan = explain_str(tfidf_top_terms(d, k=3))
    # vocabulary-sized df table broadcast back onto the (doc, term)
    # side: the corpus-proportional side must not shuffle for the join
    assert "BroadcastHashJoin" in plan
    # per-doc top-k via rank-limited window, not a global sort
    assert "WindowGroupLimit" in plan


def test_bm25_and_toptok_plans_use_top_k_sort(spark, sf_small):
    d = spark.read.parquet(f"{sf_small}/documents.parquet")
    assert "TakeOrderedAndProject" in explain_str(bm25_topn(d, ["scan"], n=5))
    assert "TakeOrderedAndProject" in explain_str(top_tokens(d, k=5))


def test_tfidf_sort_merge_fallback_matches_broadcast(tiny):
    fast = sorted(map(tuple, tfidf_top_terms(tiny, k=2, broadcast_vocab=True).collect()))
    slow = sorted(map(tuple, tfidf_top_terms(tiny, k=2, broadcast_vocab=False).collect()))
    assert fast == slow


def test_property_tf_df_toptok_match_python_reference(spark):
    """Random small corpora: term_doc_stats / doc_frequency /
    top_tokens must equal a direct Python computation (the same
    whitespace tokenization, re.split)."""
    import re
    from collections import Counter

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    word = st.text(alphabet="ab c\t\n", min_size=0, max_size=12)
    corpus = st.lists(word, min_size=1, max_size=8)

    @settings(
        max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow]
    )
    @given(corpus)
    def run(texts):
        rows = [(i, t) for i, t in enumerate(texts)]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        expected_tf = Counter()
        for i, t in rows:
            for tok in re.split(r"\s+", t.strip()):
                if tok:
                    expected_tf[(i, tok)] += 1
        tf_rows = term_doc_stats(df).collect()
        assert {(r.doc_id, r.term): r.tf for r in tf_rows} == dict(expected_tf)
        expected_df = Counter(term for (_, term) in expected_tf)
        dfreq = doc_frequency(term_doc_stats(df)).collect()
        assert {r.term: r.df for r in dfreq} == dict(expected_df)
        expected_n = Counter()
        for (_, term), c in expected_tf.items():
            expected_n[term] += c
        tt = top_tokens(df, k=1000).collect()
        assert {r.term: r.n for r in tt} == dict(expected_n)
        assert {r.term: r.n_docs for r in tt} == dict(expected_df)

    run()


def test_unigram_logprob_known_answer(tiny):
    from impala_hashset_count_spark.operators.corpus_stats import (
        unigram_logprob_scores,
    )

    out = {
        r.doc_id: (r.n_tokens, r.mean_lp)
        for r in unigram_logprob_scores(tiny).collect()
    }
    # corpus tokens: apple x5, banana x2, cherry x1, durian x1 -> T = 9
    T = 9.0
    lp = lambda c: math.log(c / T)  # noqa: E731
    # micro-unit integer sum of per-term addends, then / n_tokens
    d1 = qsum([2 * lp(5), 1 * lp(2)]) / 3   # "apple banana apple"
    d3 = qsum([3 * lp(5), 1 * lp(1)]) / 4   # "apple apple apple durian"
    assert out[1] == (3, pytest.approx(d1))
    assert out[3] == (4, pytest.approx(d3))
    # NULL/blank docs score nothing
    assert 4 not in out and 5 not in out
    # common-word documents must outscore rare-word documents
    assert out[1][1] > out[2][1]


def test_partition_sweep_hash_stability(spark, sf_small, monkeypatch):
    """The round-2 driver hash-fail was a summation-order sensitivity:
    ROUND(float-sum, 6) flipped on the 6th decimal between engines.
    The fix quantizes addends to exact integer micro-units before
    summation; this sweep proves the canonical output is BIT-identical
    across shuffle-partition counts (2 / 8 / 32), i.e. independent of
    summation order — a tested property, not luck."""
    from impala_hashset_count_spark.plans import all_queries

    q = all_queries()["corpus_stats_documents"]
    outs = []
    for n in ("2", "8", "32"):
        # tune_session (inside the registry wrapper) re-reads this env
        # var and re-applies spark.sql.shuffle.partitions per call.
        monkeypatch.setenv("SPARK_GRAFT_CPUS", n)
        rows = sorted(map(tuple, q.fn(spark, sf_small).collect()))
        outs.append(rows)
    assert outs[0] == outs[1] == outs[2]


def test_top_tokens_from_tf_equals_direct(spark, sf_small):
    """The tf-derived variant must equal the direct corpus computation
    exactly (same counts, same (n desc, term) order)."""
    from impala_hashset_count_spark.operators.corpus_stats import (
        term_doc_stats,
        top_tokens,
        top_tokens_from_tf,
    )

    d = spark.read.parquet(f"{sf_small}/documents.parquet")
    direct = [tuple(r) for r in top_tokens(d, k=30).collect()]
    derived = [tuple(r) for r in top_tokens_from_tf(term_doc_stats(d), k=30).collect()]
    assert direct == derived


def test_top_tokens_sketch_exact_under_capacity(spark, sf_small):
    from pyspark.sql import functions as F

    from impala_hashset_count_spark.functions.text import tokens
    from impala_hashset_count_spark.operators.corpus_stats import (
        top_tokens_sketch,
    )

    d = spark.read.parquet(f"{sf_small}/documents.parquet")
    exact = {
        r.w: r["count"]
        for r in d.select(F.explode(tokens(F.col("text"))).alias("w"))
        .filter("w != ''")
        .groupBy("w")
        .count()
        .collect()
    }
    got = top_tokens_sketch(d, k=10).collect()
    assert len(got) == 10
    # ample capacity => the sketch is exact: every estimate equals the
    # true count, and no non-top item outranks a true heavy hitter
    for r in got:
        assert exact[r.token] == r.est_count, r
    kth = sorted(exact.values(), reverse=True)[9]
    assert all(r.est_count >= kth for r in got)


def test_top_tokens_sketch_merge_equals_global(spark, sf_small):
    from impala_hashset_count_spark.operators.corpus_stats import (
        top_tokens_sketch,
    )

    d = spark.read.parquet(f"{sf_small}/documents.parquet")
    glob = [(r.token, r.est_count) for r in top_tokens_sketch(d, k=15).collect()]
    via_lang = [
        (r.token, r.est_count)
        for r in top_tokens_sketch(d, k=15, group_col="lang").collect()
    ]
    via_src = [
        (r.token, r.est_count)
        for r in top_tokens_sketch(d, k=15, group_col="source").collect()
    ]
    # combine-of-accumulated-sketches == one global accumulation:
    # the mergeable-summary property that makes the stored sketch
    # table answer any coarser rollup
    assert glob == via_lang == via_src


def test_top_tokens_sketch_finds_heavy_hitter_at_low_capacity(spark):
    from impala_hashset_count_spark.operators.corpus_stats import (
        top_tokens_sketch,
    )

    # genuinely skewed stream: 'hot' dominates a long tail of
    # singletons (the documents corpus is near-uniform, where a
    # 10-slot summary legitimately reports nothing)
    rows = [(i, "hot hot hot hot") for i in range(200)] + [
        (1000 + i, f"tail{i}") for i in range(300)
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    # saturation_guard="none": this test exercises the sketch's raw
    # beyond-capacity approximation contract (the head survives)
    tight = top_tokens_sketch(
        d, k=3, max_items=10, saturation_guard="none"
    ).collect()
    assert tight and tight[0].token == "hot"
    assert tight[0].est_count >= 800  # true count 800; no undercount of the head


def test_top_tokens_sketch_saturation_sentinel(spark):
    """The ndv guard (default): a corpus whose EXACT distinct-token
    count exceeds max_items emits ONE (NULL, 0) sentinel row instead of
    the eviction-order-defined shrunken estimate (the r9 sf100 finding:
    at ~100k distinct vs 10k slots the estimate shrank to ZERO rows,
    silently emptying the entry's toptok_sk branch). Within capacity
    the guard changes nothing."""
    from impala_hashset_count_spark.operators.corpus_stats import (
        top_tokens_sketch,
    )

    rows = [(i, f"tok{i} tok{i} common") for i in range(50)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    # 51 distinct > 10 slots: sentinel, grouped and ungrouped
    for kwargs in ({}, {"group_col": "doc_id"}):
        got = top_tokens_sketch(d, k=3, max_items=10, **kwargs).collect()
        assert [(r.token, r.est_count) for r in got] == [(None, 0)], kwargs
    # 51 distinct <= 100 slots: exact, guard silent
    ok = top_tokens_sketch(d, k=1, max_items=100).collect()
    assert [(r.token, r.est_count) for r in ok] == [("common", 50)]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="saturation_guard"):
        top_tokens_sketch(d, saturation_guard="bogus")


# --- bigram LM with Stupid Backoff --------------------------------------

def test_bigram_logprob_matches_python_model_all_backoff_paths(spark):
    """Spark output equals a Python model on data constructed so every
    lp path fires: seen bigram (ln(c12/c1)), unseen-bigram/seen-word
    backoff (ln(0.4*c2/T)), and the OOV floor (ln(0.4/T))."""
    import math

    from impala_hashset_count_spark.operators.corpus_stats import (
        bigram_logprob_scores,
    )

    train_rows = [(0, "the cat sat on the mat"), (20, "the dog sat")]
    score_rows = train_rows + [
        (1, "the cat sat"),            # all bigrams seen
        (2, "cat the"),                # unseen bigram, both words seen
        (3, "the zebra runs"),         # zebra/runs are OOV
        (4, "single"),                 # one token: no row
        (5, None),                     # NULL text: no row
        (6, "the cat the cat sat"),    # REPEATED bigram (the,cat): k=2
    ]
    schema = "doc_id bigint, text string"
    train = spark.createDataFrame(train_rows, schema)
    docs = spark.createDataFrame(score_rows, schema)
    got = {
        r.doc_id: (r.n_bigrams, r.lp_micro)
        for r in bigram_logprob_scores(docs, train).collect()
    }

    # python model
    toks = lambda t: t.split()  # noqa: E731
    c12, c = {}, {}
    for _, t in train_rows:
        ws = toks(t)
        for w in ws:
            c[w] = c.get(w, 0) + 1
        for a, b in zip(ws, ws[1:]):
            c12[(a, b)] = c12.get((a, b), 0) + 1
    T = sum(c.values())

    def lp(a, b):
        if (a, b) in c12:
            return math.log(c12[(a, b)] / c[a])
        return math.log(0.4 * c.get(b, 1) / T)

    want = {}
    for i, t in score_rows:
        if t is None or len(toks(t)) < 2:
            continue
        ws = toks(t)
        # quantize per pair TYPE with the multiplicity applied BEFORE
        # the floor — floor(k*lp*1e6+0.5), the operator/oracle
        # contract; per-instance flooring (k*floor(lp*1e6+0.5)) can
        # differ by up to k-1 micro-units on repeated bigrams (doc 6)
        from collections import Counter

        ks = Counter(zip(ws, ws[1:]))
        micro = sum(
            math.floor(k * lp(a, b) * 1e6 + 0.5) for (a, b), k in ks.items()
        )
        want[i] = (len(ws) - 1, micro)
    assert got == want
    assert 4 not in got and 5 not in got
    # sanity on the constructed paths: doc 1 scores higher per-bigram
    # than doc 2 (backoff), which scores higher than doc 3 (OOV floor)
    per = {i: got[i][1] / got[i][0] for i in (1, 2, 3)}
    assert per[1] > per[2] > per[3]


def test_corpus_entry_reuses_term_doc_exchange(spark, sf_small):
    """The tfidf / toptok / unigram_lp branches of corpus_stats_documents
    share one ``term_doc_stats`` plan, and AQE's exchange reuse runs its
    ``(doc_id, term)`` hash exchange once for all of them — which is why
    the entry needs no persist of the shared frame. Exchange reuse
    matches plan shapes, so this holds at every scale."""
    import re

    from impala_hashset_count_spark.plans import all_queries

    df = all_queries()["corpus_stats_documents"].fn(spark, sf_small)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    reused = re.findall(
        r"ReusedExchange \[[^\]]*\], Exchange hashpartitioning\(doc_id#\d+L?, term#\d+,",
        plan,
    )
    assert reused, "the (doc_id, term) exchange is no longer reused"
