"""Real BPE tokenizer: wrap-encoded JVM replace-chain encoder vs the
classic per-word reference, distributed trainer vs pure-Python, and
the DuckDB mirror used by the driver oracle."""

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from impala_hashset_count_spark.functions.bpe import (
    DEFAULT_MERGES,
    bpe_encode_sql,
    bpe_token_count_expr,
    bpe_tokens_expr,
    encode_word,
    learn_bpe,
    learn_bpe_from_counts,
)


def _ref_doc_tokens(text, merges):
    import re

    if text is None:
        return None
    out = []
    for w in re.findall("[a-z]+", text.lower()):
        out.extend(encode_word(w, merges))
    return out


def test_encode_word_classic_cases():
    merges = [("l", "l"), ("ll", "o"), ("h", "e")]
    assert encode_word("hello", merges) == ["he", "llo"]
    assert encode_word("llll", [("l", "l")]) == ["ll", "ll"]
    # left-to-right greedy on odd runs: BPE pairs (1,2) then (3,4)
    assert encode_word("lllll", [("l", "l")]) == ["ll", "ll", "l"]
    assert encode_word("", merges) == []
    assert encode_word("x", merges) == ["x"]


def test_spark_encoder_matches_reference(spark):
    texts = [
        "Sort ORDER by window merge",
        "hello world",
        "aaa ab abc",  # overlap + prefix traps
        "query the vector column, group & join!",
        "",
        None,
        "  UPPER Case   Punct..",
        "partition partition part",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, text string")
    rows = {
        r.i: r
        for r in df.select(
            "i",
            bpe_tokens_expr("text").alias("toks"),
            bpe_token_count_expr("text").alias("n"),
        ).collect()
    }
    for i, t in enumerate(texts):
        ref = _ref_doc_tokens(t, DEFAULT_MERGES)
        if t is None:
            assert rows[i].toks is None and rows[i].n is None
        else:
            assert rows[i].toks == ref, t
            assert rows[i].n == len(ref), t


@settings(max_examples=200, deadline=None)
@given(
    st.text(alphabet="abcdehlor |<>.XZ", max_size=40),
    st.lists(
        st.tuples(
            st.text(alphabet="abcd", min_size=1, max_size=2),
            st.text(alphabet="abcd", min_size=1, max_size=2),
        ),
        max_size=6,
    ),
)
def test_wrap_replace_semantics_equal_reference(text, raw_merges):
    """The wrap-encoded replace chain (mirrored in pure Python string
    ops here, exactly what Spark/DuckDB execute) must equal the classic
    list-based left-to-right merge for ARBITRARY merge tables — the
    boundary-safety claim (<a><b> can't false-match prefixes/suffixes
    or lose shared boundaries) under adversarial inputs."""
    import re

    # build the symbol inventory a real merge chain would have: each
    # merge's parts must be producible (chars or earlier outputs)
    avail = set("abcd")
    merges = []
    for a, b in raw_merges:
        if a in avail and b in avail:
            merges.append((a, b))
            avail.add(a + b)
    words = re.findall("[a-z]+", text.lower())
    s = "|".join(words)
    s = re.sub("([a-z])", r"<\1>", s)
    for a, b in merges:
        s = s.replace(f"<{a}><{b}>", f"<{a}{b}>")
    got = re.findall("<([a-z]+)>", s)
    ref = []
    for w in words:
        ref.extend(encode_word(w, merges))
    assert got == ref


def test_duckdb_mirror_equals_spark(spark):
    texts = [
        "sort order window merge query group join",
        "aaa ab ba partition Vector",
        "x",
        "",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string"
    )
    srows = {
        r.i: r.n
        for r in df.select(
            "i", bpe_token_count_expr("text").alias("n")
        ).collect()
    }
    con = duckdb.connect()
    enc = bpe_encode_sql("text")
    for i, t in enumerate(texts):
        n = con.execute(
            f"SELECT CAST(LENGTH(e) - LENGTH(REPLACE(e, '<', '')) AS INTEGER) "
            f"FROM (SELECT {enc} AS e FROM (SELECT ? AS text))",
            [t],
        ).fetchone()[0]
        assert n == srows[i], t
    con.close()


def test_learn_bpe_distributed_equals_pure_python(spark, sf_small):
    docs = spark.read.parquet(f"{sf_small}/documents.parquet").limit(200)
    got = learn_bpe(docs, "text", n_merges=12, min_freq=2)
    # pure-python twin over the same word counts
    import re
    from collections import Counter

    wc = Counter()
    for r in docs.select("text").collect():
        if r.text is not None:
            wc.update(re.findall("[a-z]+", r.text.lower()))
    ref = learn_bpe_from_counts(dict(wc), 12, 2)
    assert got == ref
    assert len(got) == 12
    # every merge's parts are producible symbols (chars or prior outputs)
    avail = set("abcdefghijklmnopqrstuvwxyz")
    for a, b in got:
        assert a in avail and b in avail
        avail.add(a + b)


def test_learn_stops_below_min_freq():
    merges = learn_bpe_from_counts({"ab": 1, "cd": 1}, 10, min_freq=2)
    assert merges == []
    merges = learn_bpe_from_counts({"ab": 3}, 10, min_freq=2)
    assert merges == [("a", "b")]


def test_default_merges_chain_is_well_formed():
    avail = set("abcdefghijklmnopqrstuvwxyz")
    for a, b in DEFAULT_MERGES:
        assert a in avail and b in avail, (a, b)
        avail.add(a + b)
    assert len(DEFAULT_MERGES) == len(set(DEFAULT_MERGES))


def test_token_count_edges(spark):
    df = spark.createDataFrame(
        [(0, "12345 !!"), (1, None), (2, "a"), (3, "merge")],
        "i long, text string",
    )
    rows = {r.i: r.n for r in df.select("i", bpe_token_count_expr("text").alias("n")).collect()}
    assert rows[0] == 0  # no [a-z] words
    assert rows[1] is None
    assert rows[2] == 1
    assert rows[3] == 1  # 'merge' fully merges under DEFAULT_MERGES
    assert encode_word("merge", DEFAULT_MERGES) == ["merge"]
