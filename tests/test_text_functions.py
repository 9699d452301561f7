"""Unit tests for the text-function corners not exercised by the
oracle queries: char/word shingles, winnowing fingerprints."""

from pyspark.sql import functions as F

from impala_hashset_count_spark.functions.text import (
    char_shingles,
    word_shingles,
)


def _one(spark, text, col):
    df = spark.createDataFrame([(text,)], "t string")
    return df.select(col("t").alias("v")).collect()[0]["v"]


def test_char_shingles_counts_and_short_input(spark):
    assert _one(spark, "abcdef", lambda c: char_shingles(c, 4)) == [
        "abcd",
        "bcde",
        "cdef",
    ]
    # shorter than n -> zero shingles, not an error
    assert _one(spark, "ab", lambda c: char_shingles(c, 4)) == []


def test_word_shingles_short_and_normal(spark):
    assert _one(spark, "a b c d", lambda c: word_shingles(c, 3)) == [
        "a b c",
        "b c d",
    ]
    # fewer tokens than n -> empty, not a duplicated/invalid slice
    assert _one(spark, "a b", lambda c: word_shingles(c, 3)) == []


def test_poly_winnow_arrow_equals_python_reference(spark):
    """The Arrow numpy tier must equal the pure-Python reference on
    every corner: unicode (non-ASCII codepoints), exact-window-length
    input, block-boundary lengths, short input, empty string, NULL."""
    from impala_hashset_count_spark.functions.text import (
        poly_winnow_py,
        winnowing_fingerprint_poly,
    )

    texts = [
        "the quick brown fox jumps over the lazy dog " * 3,
        "你好世界 spark 引擎 winnowing 指纹测试 abcdefgh",
        "abcdefgh",          # exactly one window
        "abcdefghijkl",      # 5 windows -> one full + one partial block
        "abc",               # shorter than window -> []
        "",                  # empty -> []
        None,                # NULL -> NULL
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, t string")
    got = {
        r.i: r.v
        for r in df.select(
            "i", winnowing_fingerprint_poly("t", 8, 4).alias("v")
        ).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == poly_winnow_py(t, 8, 4), (i, t)


def test_poly_winnow_robust_to_small_edit(spark):
    """Winnowing property: local edits keep most blocks, unrelated
    text shares none."""
    from impala_hashset_count_spark.functions.text import poly_winnow_py

    base = "the quick brown fox jumps over the lazy dog " * 4
    a = set(poly_winnow_py(base, 8, 4))
    b = set(poly_winnow_py(base.replace("lazy", "hazy", 1), 8, 4))
    c = set(poly_winnow_py("completely unrelated text about query planners " * 4, 8, 4))
    assert len(a & b) / len(a | b) > 0.5
    assert len(a & c) / len(a | c) < 0.1


def test_poly_winnow_property_random_unicode(spark):
    """Property (hypothesis): for arbitrary unicode strings, the Arrow
    numpy tier equals the pure-Python reference — one Spark job over
    the whole generated corpus (per-example jobs would be minutes)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from impala_hashset_count_spark.functions.text import (
        poly_winnow_py,
        winnowing_fingerprint_poly,
    )

    corpus = []

    @settings(
        max_examples=60,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        st.text(
            alphabet=st.characters(
                codec="utf-8", exclude_categories=("Cs",)
            ),
            max_size=64,
        )
    )
    def collect(t):
        corpus.append(t)

    collect()
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "i int, t string"
    )
    got = {
        r.i: r.v
        for r in df.select(
            "i", winnowing_fingerprint_poly("t", 8, 4).alias("v")
        ).collect()
    }
    for i, t in enumerate(corpus):
        assert got[i] == poly_winnow_py(t, 8, 4), repr(t)


def test_html_text_planted_fixtures(spark):
    from impala_hashset_count_spark.functions.text import html_text

    rows = [
        (1, '<html><head><style>p{color:red}</style></head>'
            '<body><h1>Title</h1><p>hello <b>world</b></p>'
            '<script>var x = 1 < 2;</script></body></html>'),
        (2, '<!-- header --><p>A&amp;B &lt;tag&gt; &quot;q&quot; '
            '&#39;s&#39;&nbsp;end</p>'),
        (3, 'no markup at all'),
        (4, '<SCRIPT TYPE="text/javascript">alert("x")</SCRIPT>kept'),
        (5, None),
        (6, ''),
    ]
    df = spark.createDataFrame(rows, "id int, h string")
    got = {
        r.id: r.t
        for r in df.select("id", html_text("h").alias("t")).collect()
    }
    assert got[1] == "Title hello world"
    assert got[2] == 'A&B <tag> "q" \'s\' end'
    assert got[3] == "no markup at all"
    assert got[4] == "kept"  # case-insensitive script removal
    assert got[5] is None
    assert got[6] == ""


def test_html_text_spark_equals_duckdb_mirror(spark):
    """Engine parity on adversarial inputs — the property that lets
    html extraction sit on an oracle-hashed surface: unclosed script,
    attribute '>' early-close, entity chains (&amp;lt; decodes ONCE),
    multi-line tags, NUL bytes, unicode."""
    import duckdb

    from impala_hashset_count_spark.functions.text import (
        html_text,
        html_text_sql,
    )

    rows = [
        (1, "<script>never closed... <p>eaten?</p>"),
        (2, '<a href="x>y">early close</a>'),
        (3, "&amp;lt; stays &lt; becomes"),
        (4, "<div\n  class='m'\n>multi\nline</div>"),
        (5, "nul\x00byte <b>kept\x00</b>"),
        (6, "Ünïcødé <i>täg</i> 中文"),
        (7, "a < b and c > d plain math"),
        (8, "<style>a{}</style><style>b{}</style>double"),
    ]
    df = spark.createDataFrame(rows, "id int, h string")
    got = {
        r.id: r.t
        for r in df.select("id", html_text("h").alias("t")).collect()
    }
    assert len(got) == len(rows)
    con = duckdb.connect()
    try:
        con.register(
            "t", spark.createDataFrame(rows, "id int, h string").toPandas()
        )
        expect = dict(
            con.execute(f"SELECT id, {html_text_sql('h')} FROM t").fetchall()
        )
    finally:
        con.close()
    assert got == expect


def test_url_parts_spark_equals_duckdb_mirror(spark):
    """The portable-URL contract: same component extraction on both
    engines (ports, userinfo, fragments, missing pieces, IPs, bare
    hosts, uppercase schemes)."""
    import duckdb

    from impala_hashset_count_spark.functions.text import (
        url_parts,
        url_parts_sql,
    )

    rows = [
        (1, "https://example.com/a/b/c?x=1&y=2#frag"),
        (2, "http://user:pw@sub.host.co.uk:8080/p?q=1"),
        (3, "ftp://10.0.0.1/file.bin"),
        (4, "HTTPS://UPPER.COM"),
        (5, "https://no-path.org?only=query"),
        (6, "not a url at all"),
        (7, "//protocol-relative.com/x"),
        (8, "https://host/#justfrag"),
        (9, None),
    ]
    df = spark.createDataFrame(rows, "id int, u string")
    parts = url_parts("u")
    got = {
        r.id: (r.scheme, r.host, r.port, r.path, r.query)
        for r in df.select(
            "id", *[c.alias(n) for n, c in parts.items()]
        ).collect()
    }
    con = duckdb.connect()
    try:
        con.register("t", df.toPandas())
        sqls = url_parts_sql("u")
        expect = {
            r[0]: tuple(r[1:])
            for r in con.execute(
                "SELECT id, "
                + ", ".join(sqls[k] for k in ("scheme", "host", "port", "path", "query"))
                + " FROM t"
            ).fetchall()
        }
    finally:
        con.close()
    assert got == expect
    assert got[2][1] == "sub.host.co.uk" and got[2][2] == "8080"
    assert got[1][4] == "x=1&y=2"
    assert got[6] == ("", "", "", "", "")


def test_url_features_domain_policy_columns(spark):
    from impala_hashset_count_spark.functions.text import url_features

    rows = [
        (1, "https://docs.example.com/a/b/c?x=1&y=2"),
        (2, "http://example.com/"),
        (3, "https://10.1.2.3/x"),
        (4, "https://single"),
    ]
    df = spark.createDataFrame(rows, "id int, u string")
    feats = url_features("u")
    got = {
        r.id: (r.host, r.reg_domain, r.path_depth, r.n_params, r.is_ip_host)
        for r in df.select(
            "id", *[c.alias(n) for n, c in feats.items()]
        ).collect()
    }
    assert got[1] == ("docs.example.com", "example.com", 3, 2, False)
    assert got[2] == ("example.com", "example.com", 0, 0, False)
    assert got[3] == ("10.1.2.3", "2.3", 1, 0, True)
    assert got[4] == ("single", "single", 0, 0, False)
