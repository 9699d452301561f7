"""Dedup + similarity operator tests beyond the oracle harness:
probabilistic tiers measured against exact tiers, and synthetic
known-answer fixtures."""

import pytest
from pyspark.sql import functions as F

from impala_hashset_count_spark.operators.dedup import (
    embedding_near_dup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from impala_hashset_count_spark.operators.similarity import brute_force_topk, lsh_topk
from impala_hashset_count_spark.sources.tables import load_table


def test_exact_dedup_deterministic(spark):
    rows = [(1, "a", 10), (2, "a", 5), (3, "b", 7), (4, "b", 9), (5, "c", 1)]
    df = spark.createDataFrame(rows, "id int, text string, ord int")
    out = exact_dedup(df, ["text"], "ord").select("id").collect()
    assert sorted(r.id for r in out) == [2, 3, 5]


def test_exact_dedup_incremental(spark):
    """Within-batch dedup keeps the lowest order key; rows whose key
    history already holds are dropped; genuinely new keys survive."""
    from impala_hashset_count_spark.operators.dedup import exact_dedup_incremental

    new = spark.createDataFrame(
        [(10, "a", 3), (11, "a", 1), (12, "b", 2), (13, "d", 5)],
        "id int, fp string, ord int",
    )
    seen = spark.createDataFrame([("a",), ("c",)], "fp string")
    out = exact_dedup_incremental(new, seen, ["fp"], "ord").collect()
    # 'a' exists in history (both new 'a' rows drop); 'b' and 'd' are new
    assert sorted((r["fp"], r["id"]) for r in out) == [("b", 12), ("d", 13)]


def test_minhash_matches_exact_jaccard(spark, sf_small):
    """LSH candidates + exact verification must recover the exact
    near-dup pairs (recall ~1 at j>=0.5 with 32x2 bands)."""
    d = load_table(spark, sf_small, "documents")
    exact = {
        (r.id_1, r.id_2)
        for r in ngram_jaccard_pairs(d, "doc_id", "text", 3, 0.5).collect()
    }
    lsh = {
        (r.id_1, r.id_2)
        for r in minhash_lsh_pairs(d, "doc_id", "text", 3, 64, 32, 0.5).collect()
    }
    assert exact, "fixture should contain planted near-dups"
    # no false positives (verification is exact), recall complete here
    assert lsh == exact


def test_simhash_finds_planted_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    rows = [
        (1, base),
        (2, base.replace("lazy", "sleepy")),   # near-dup of 1
        (3, "completely different content about spark aggregation engines"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    pairs = {(r.id_1, r.id_2) for r in simhash_pairs(df, "doc_id", "text", 6).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_n_chunks_rule():
    """The corpus-size knob: smallest c whose expected random-collision
    candidates stay linear (<= 4/doc), never below d+1."""
    from impala_hashset_count_spark.operators.dedup import (
        simhash_key_specs,
        simhash_n_chunks,
    )

    assert simhash_n_chunks(500) == 4
    assert simhash_n_chunks(65_000) == 4
    assert simhash_n_chunks(500_000) == 5       # sf10
    assert simhash_n_chunks(5_000_000) == 5     # sf100 — the r8 blowup corpus
    assert simhash_n_chunks(50_000_000) == 6
    # d+1 floor holds for other distance bounds
    assert simhash_n_chunks(10, max_hamming=6) == 7
    # c=4/d=3 specs are EXACTLY the historical 4x16 single-chunk join
    assert simhash_key_specs(4, 3) == [((0,), 16), ((1,), 16), ((2,), 16), ((3,), 16)]
    # c=5/d=3: all C(5,2)=10 chunk pairs, 25-26 bit keys
    specs5 = simhash_key_specs(5, 3)
    assert len(specs5) == 10 and {b for _, b in specs5} == {25, 26}


def test_simhash_pairs_invariant_in_chunk_count(spark, sf_small):
    """The pair set is identical at every chunk count (pigeonhole
    recall 1.0 for c >= d+1; the knob only steers candidate volume) —
    on the real corpus AND on an adversarial signature set where the
    d flipped bits straddle the maximum number of chunks."""
    from impala_hashset_count_spark.operators.dedup import (
        simhash_pairs_from_signatures,
    )

    d = load_table(spark, sf_small, "documents")
    baseline = None
    for c in (4, 5, 6, 8):
        got = {
            (r.id_1, r.id_2, r.hamming)
            for r in simhash_pairs(
                d, "doc_id", "text", max_hamming=3, n_chunks=c
            ).collect()
        }
        if baseline is None:
            baseline = got
            assert baseline, "fixture should contain hamming<=3 pairs"
        else:
            assert got == baseline, f"chunk count {c} changed the pair set"

    # adversarial: pairs at EXACTLY hamming 3 with the flips spread
    # across three different chunks of every split under test (bits
    # 1, 21, 51 land in distinct chunks for c in {4,5,6,8}), plus a
    # hamming-4 pair that must stay excluded at d=3
    base = 0x0123_4567_89AB_CDEF
    rows = [
        (1, base),
        (2, base ^ (1 << 1) ^ (1 << 21) ^ (1 << 51)),
        (3, base ^ (1 << 2) ^ (1 << 22) ^ (1 << 42) ^ (1 << 62)),
    ]
    sig = spark.createDataFrame(rows, "doc_id int, simhash long")
    for c in (4, 5, 6, 8):
        got = {
            (r.id_1, r.id_2, r.hamming)
            for r in simhash_pairs_from_signatures(
                sig, "doc_id", max_hamming=3, n_chunks=c
            ).collect()
        }
        assert got == {(1, 2, 3)}, f"c={c}"


def test_simhash_columnar_equals_grouped_formulation(spark, sf_small):
    """The columnar (zero-groupBy-shuffle) signature must equal the
    explode+groupBy conditional-sum formulation bit-for-bit — they are
    the same math over the same token stream."""
    from impala_hashset_count_spark.operators.dedup import simhash_signatures

    d = load_table(spark, sf_small, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok")
    ).withColumn("th", F.xxhash64("tok"))
    bit_sums = [
        F.sum(
            F.when(
                F.shiftright(F.col("th"), i).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(64)
    ]
    agg = toks.groupBy("doc_id").agg(*bit_sums)
    sig = None
    for i in range(64):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, i)
        sig = term if sig is None else sig.bitwiseOR(term)
    grouped = {
        r["doc_id"]: r["simhash"]
        for r in agg.select("doc_id", sig.alias("simhash")).collect()
    }
    columnar = {
        r["doc_id"]: r["simhash"]
        for r in simhash_signatures(d, "doc_id", "text").collect()
    }
    assert columnar == grouped


@pytest.mark.parametrize("hash_fn", ["xxhash64", "md5"])
def test_lsh_band_rows_equal_grouped_formulation(spark, sf_small, hash_fn):
    """The two-lambda signature + banding step must equal the
    explode + per-permutation-column + groupBy-min formulation row for
    row on both hash tiers, and no doc's k mins may be all equal (the
    collapse that Python-lambda HOFs differing only in a captured
    literal produce)."""
    from impala_hashset_count_spark.operators.dedup import (
        _lsh_band_rows,
        doc_shingle_arrays,
    )

    k, bands = 64, 32
    rows = k // bands
    d = load_table(spark, sf_small, "documents")
    # empty shingle sets have no postings to group; only non-empty sets
    # have a min to compare
    docs = doc_shingle_arrays(d, "doc_id", "text", 3, hash_fn=hash_fn).filter(
        F.size("shs") > 0
    )

    def perm(i):
        if hash_fn == "xxhash64":
            return F.xxhash64(F.lit(i), F.col("h"))
        s = F.concat(F.lit(f"{i}:"), F.col("h").cast("string"))
        return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")

    mins = (
        docs.select("doc_id", F.explode("shs").alias("h"))
        .select("doc_id", *[perm(i).alias(f"m{i}") for i in range(k)])
        .groupBy("doc_id")
        .agg(*[F.min(f"m{i}").alias(f"m{i}") for i in range(k)])
    )
    sigs = mins.collect()
    assert sigs
    for r in sigs:
        assert len({r[f"m{i}"] for i in range(k)}) > 1, r["doc_id"]

    def band_val(b):
        sl = [F.col(f"m{b * rows + j}") for j in range(rows)]
        if hash_fn == "xxhash64":
            return F.xxhash64(F.lit(b), F.array(*sl))
        return F.concat_ws("_", *[c.cast("string") for c in sl])

    grouped = mins.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band_id"), band_val(b).alias("band_hash"))
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_hash")
    ref = sorted(tuple(r) for r in grouped.collect())
    lam = sorted(
        tuple(r) for r in _lsh_band_rows(docs, "doc_id", k, bands, hash_fn).collect()
    )
    assert len(ref) == len(sigs) * bands
    assert lam == ref
    # an unmaterialized shingle set is derived once per doc, outside
    # the per-permutation lambda (not re-derived k times inside it)
    raw = doc_shingle_arrays(d, "doc_id", "text", 3, hash_fn=hash_fn)
    plan = _lsh_band_rows(raw, "doc_id", k, bands, hash_fn)._jdf.queryExecution()
    plan = plan.executedPlan().toString()
    assert plan.index("array_distinct") < plan.index("array_min")


def test_lsh_topk_null_vectors_excluded(spark, sf_small):
    """A NULL embedding must be silently excluded from indexing (it
    has no angle) — not crash the Arrow matmul or join any bucket."""
    e = load_table(spark, sf_small, "embeddings").select("vec_id", "embedding")
    withnull = e.unionByName(
        spark.createDataFrame(
            [(999999, None)], "vec_id long, embedding array<float>"
        )
    )
    q = withnull.filter(F.col("vec_id") < 5)

    def canon(df):
        return sorted(
            (r.query_id, r.neighbor_id, r.cos_sim, r.rank) for r in df.collect()
        )

    base = canon(lsh_topk(e, e.filter(F.col("vec_id") < 5), "vec_id", "embedding", k=10, dim=64))
    got = canon(lsh_topk(withnull, q, "vec_id", "embedding", k=10, dim=64))
    assert got == base
    assert all(n != 999999 for _, n, _, _ in got)


def test_lsh_topk_recall_vs_bruteforce(spark, sf_small):
    e = load_table(spark, sf_small, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(e, q, "vec_id", "embedding", k=5).collect()
    approx = lsh_topk(e, q, "vec_id", "embedding", k=5, bands=16, rows=2, dim=64).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(exact_sets[q_] & approx_sets.get(q_, set())) / len(exact_sets[q_])
        for q_ in exact_sets
    ]
    mean_recall = sum(recalls) / len(recalls)
    # 16 bands x 2 bits is a generous OR — expect high but not perfect recall
    assert mean_recall >= 0.5, f"mean recall {mean_recall}"


def test_near_dup_dedup_is_transitive(spark):
    """A~B and B~C above threshold, A~C below: all three are ONE
    component, so exactly the min-id representative survives — C is
    removed even though it never paired with A directly. Pair-level
    removal would have kept both A and C (still a near-dup chain)."""
    from impala_hashset_count_spark.operators.dedup import (
        near_dup_components,
        near_dup_dedup,
    )

    base = [f"w{i}" for i in range(40)]
    a = list(base)
    b = [f"x{i}" if i < 10 else t for i, t in enumerate(base)]
    c = [f"x{i}" if i < 10 else (f"y{i}" if i >= 30 else t) for i, t in enumerate(base)]
    rows = [
        (1, " ".join(a)),
        (2, " ".join(b)),
        (3, " ".join(c)),
        (9, "entirely unrelated content about adaptive query execution plans " * 4),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")

    pairs = {
        (r.id_1, r.id_2)
        for r in minhash_lsh_pairs(df, "doc_id", "text", 3, 64, 32, 0.5).collect()
    }
    assert (1, 2) in pairs and (2, 3) in pairs
    assert (1, 3) not in pairs  # similarity is NOT transitive...

    comp = {
        (r["id"], r["rep"])
        for r in near_dup_components(
            minhash_lsh_pairs(df, "doc_id", "text", 3, 64, 32, 0.5)
        ).collect()
    }
    assert comp == {(1, 1), (2, 1), (3, 1)}  # ...but the component is

    kept = sorted(
        r.doc_id for r in near_dup_dedup(df, "doc_id", "text", threshold=0.5).collect()
    )
    assert kept == [1, 9]


def test_near_dup_components_chain_converges(spark):
    """A pure chain 1-2-3-4-5 (worst diameter for label propagation)
    still converges to a single min-labeled component."""
    from impala_hashset_count_spark.operators.dedup import near_dup_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "id_1 int, id_2 int"
    )
    comp = {(r["id"], r["rep"]) for r in near_dup_components(pairs).collect()}
    assert comp == {(1, 1), (2, 1), (3, 1), (4, 1), (5, 1), (10, 10), (11, 10)}


def test_star_components_match_union_find_model(spark):
    """large-star/small-star components == a pure-python union-find
    model on a seeded random graph with several components, plus the
    chain/isolated-pair shape used for the propagation tier."""
    import random

    from impala_hashset_count_spark.operators.dedup import (
        near_dup_components_star,
    )

    rng = random.Random(20260814)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(70)]
    edges += [(1, 2), (2, 3), (3, 4), (4, 5), (100, 101)]

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a != b:
            parent[find(a)] = find(b)
    nodes = {n for a, b in edges if a != b for n in (a, b)}
    want = {}
    for n in nodes:
        want.setdefault(find(n), []).append(n)
    model = {(n, min(grp)) for grp in want.values() for n in grp}

    pairs = spark.createDataFrame(edges, "id_1 int, id_2 int")
    got = {
        (r["id"], r["rep"])
        for r in near_dup_components_star(pairs).collect()
    }
    assert got == model


def test_star_components_long_chain_few_rounds(spark):
    """A 200-node path — the diameter-bound worst case where min-label
    propagation needs 200 rounds — resolves correctly well inside the
    star algorithm's O(log^2 n) round budget."""
    from impala_hashset_count_spark.operators.dedup import (
        near_dup_components_star,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_1 int, id_2 int"
    )
    comp = near_dup_components_star(pairs, max_iter=12)
    assert {(r["id"], r["rep"]) for r in comp.collect()} == {
        (i, 0) for i in range(201)
    }


def test_star_components_raises_without_fixed_point(spark):
    """Exiting the large-star/small-star loop before the edge set
    reaches a fixed point would emit non-minimal reps that look like
    correct labels — the operator must fail loudly instead."""
    import pytest

    from impala_hashset_count_spark.operators.dedup import (
        near_dup_components_star,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_1 int, id_2 int"
    )
    with pytest.raises(RuntimeError, match="fixed point"):
        near_dup_components_star(pairs, max_iter=1)


def test_star_components_equal_propagation_tier(spark, sf_small):
    """Both component strategies assign identical (id, rep) labels over
    the real exact-Jaccard pair list — the strategy swap is free."""
    from impala_hashset_count_spark.operators.dedup import (
        near_dup_components,
        near_dup_components_star,
        ngram_jaccard_pairs,
    )

    d = load_table(spark, sf_small, "documents")
    pairs = ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.5)
    pairs = pairs.localCheckpoint()
    a = {(r["id"], r["rep"]) for r in near_dup_components(pairs).collect()}
    b = {
        (r["id"], r["rep"])
        for r in near_dup_components_star(pairs).collect()
    }
    assert a == b


def test_minhash_bucket_cap_drops_boilerplate_cluster(spark):
    """A cluster of identical docs (boilerplate) puts all its members
    in every band bucket; with the cap below the cluster size those
    buckets are dropped so no pair survives, while an unrelated
    distinct near-dup pair still pairs through its own small buckets."""
    boiler = "this license text is identical across the corpus " * 4
    pair_a = "unique document about spark adaptive execution and shuffles " * 3
    rows = [(i, boiler) for i in range(1, 21)]
    rows += [(100, pair_a), (101, pair_a + "tail")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    uncapped = {
        (r.id_1, r.id_2)
        for r in minhash_lsh_pairs(df, "doc_id", "text", 3, 64, 32, 0.5).collect()
    }
    assert (100, 101) in uncapped
    assert (1, 2) in uncapped
    capped = {
        (r.id_1, r.id_2)
        for r in minhash_lsh_pairs(
            df, "doc_id", "text", 3, 64, 32, 0.5, max_bucket_docs=10
        ).collect()
    }
    assert (100, 101) in capped           # small buckets unaffected
    assert not any(i1 <= 20 and i2 <= 20 for i1, i2 in capped)


def test_short_docs_yield_no_shingles_not_errors(spark):
    """Docs with < n tokens must produce zero shingles. Regression:
    sequence(1, 0) is DESCENDING in Spark, so the unguarded transform
    hit slice(_, 0, n) -> INVALID_PARAMETER_VALUE."""
    from impala_hashset_count_spark.operators.dedup import (
        doc_shingle_arrays,
        shingle_sets,
    )

    rows = [(1, "a b"), (2, ""), (3, "   "), (4, "x y z w")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    exploded = shingle_sets(df, "doc_id", "text", 3).collect()
    assert {r.doc_id for r in exploded} == {4}
    arrays = {r.doc_id: r.shs for r in doc_shingle_arrays(df, "doc_id", "text", 3).collect()}
    assert arrays[1] == [] and arrays[2] == [] and arrays[3] == []
    assert len(arrays[4]) == 2
    # Empty shingle sets give all-NULL MinHash signatures, so docs 1-3
    # share every band; exact verification must drop those candidates.
    assert minhash_lsh_pairs(df, "doc_id", "text", 3).collect() == []


def test_ngram_jaccard_identical_docs(spark):
    rows = [(1, "a b c d e f g"), (2, "a b c d e f g"), (3, "x y z w q r s")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    pairs = ngram_jaccard_pairs(df, "doc_id", "text", 3, 0.99).collect()
    assert [(p.id_1, p.id_2, p.jaccard) for p in pairs] == [(1, 2, 1.0)]


def test_semantic_dedup_transitive_in_one_cell(spark):
    """SemDeDup recipe: within-cell cosine pairs closed transitively.
    2-D unit vectors at 0/10/20 degrees with threshold 0.97: a~b and
    b~c qualify (cos 10deg ~ 0.985), a~c does not (cos 20deg ~ 0.940) —
    yet all three are ONE component, so only the min id survives. A
    180-degree vector pairs with nothing and is untouched (with k=2 it
    gets its own cell — k-means refuses k=1)."""
    import math

    from impala_hashset_count_spark.operators.dedup import semantic_dedup

    def unit(deg):
        r = math.radians(deg)
        return [float(math.cos(r)), float(math.sin(r))]

    rows = [(1, unit(0)), (2, unit(10)), (3, unit(20)), (9, unit(180))]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = semantic_dedup(df, "vec_id", "embedding", threshold=0.97, n_cells=2)
    assert sorted(r.vec_id for r in out.select("vec_id").collect()) == [1, 9]


def test_semantic_dedup_drops_planted_copies(spark, sf_small):
    """Exact-copy embeddings land in the same k-means cell by
    construction, so SemDeDup must drop every planted copy and keep its
    original (the lower id) — on the real embeddings table, through the
    real quantizer."""
    from impala_hashset_count_spark.operators.dedup import semantic_dedup

    emb = load_table(spark, sf_small, "embeddings")
    base = emb.filter(F.col("vec_id").isin(1, 2, 3)).collect()
    copies = spark.createDataFrame(
        [(10000 + r.vec_id, r.embedding, r.label) for r in base], emb.schema
    )
    out = semantic_dedup(
        emb.union(copies), "vec_id", "embedding", threshold=0.9999, n_cells=8
    )
    ids = {r.vec_id for r in out.select("vec_id").collect()}
    assert {1, 2, 3} <= ids
    assert not ids & {10001, 10002, 10003}


def test_simhash_md5_tier_finds_planted_near_dups_and_hashes_60_bits(spark):
    """The md5 hash tier (the oracle-checkable registry tier) must
    behave like the xxhash64 production tier on planted near-dups, and
    its signatures must fit in 60 bits (bits 60..63 constantly 0 —
    the property that makes the DuckDB mirror exact)."""
    from impala_hashset_count_spark.operators.dedup import (
        simhash_pairs,
        simhash_signatures,
    )

    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    rows = [
        (1, base),
        (2, base.replace("lazy", "sleepy")),
        (3, "completely different content about spark aggregation engines"),
        (4, None),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    pairs = {
        (r.id_1, r.id_2): r.hamming
        for r in simhash_pairs(df, "doc_id", "text", 6, hash_fn="md5").collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs
    # NULL-text docs all carry signature 0 -> they pair at hamming 0
    # (mirrored by the oracle's UNION branch)
    assert pairs.get((4, 5)) == 0
    sigs = simhash_signatures(df, "doc_id", "text", hash_fn="md5").collect()
    assert all(0 <= r.simhash < (1 << 60) for r in sigs)

    import pytest

    with pytest.raises(ValueError):
        simhash_signatures(df, "doc_id", "text", hash_fn="sha1")


def test_edit_distance_pairs_planted_near_dups(spark):
    """Candidates share shingles; edit_sim equals an independent pure-
    Python Levenshtein over the same 256-char prefixes; unrelated docs
    never pair."""
    from impala_hashset_count_spark.operators.dedup import edit_distance_pairs

    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = [
        (1, base),
        (2, base.replace("lazy", "hazy")),          # 1-char edit
        (3, base),                                  # identical to 1
        (4, "completely different text with no overlap whatsoever here"),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    rows = {(r.id_1, r.id_2): r.edit_sim
            for r in edit_distance_pairs(df, "doc_id", "text").collect()}

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    texts = dict(docs)
    for (i, j), sim in rows.items():
        a, b = texts[i][:256], texts[j][:256]
        assert sim == 1.0 - lev(a, b) / max(len(a), len(b))
    assert rows[(1, 3)] == 1.0
    assert 0.9 < rows[(1, 2)] < 1.0
    assert not any(4 in p for p in rows)

    # given candidates, the candidate-pass parameters would be ignored
    cands = spark.createDataFrame([(1, 2)], "id_1 bigint, id_2 bigint")
    for bad in ({"n": 4}, {"candidate_threshold": 0.1}, {"max_shingle_docs": 10}):
        with pytest.raises(ValueError):
            edit_distance_pairs(df, "doc_id", "text", candidates=cands, **bad)


def test_edit_distance_pairs_prefix_bounds_cost(spark):
    """Documents differing only beyond the prefix are identical at the
    scored surface (sim == 1.0) — the DP cost is bounded by the prefix,
    not the document length."""
    from impala_hashset_count_spark.operators.dedup import edit_distance_pairs

    head = "shared words " * 30                     # > 256 chars of shared prefix
    df = spark.createDataFrame(
        [(1, head + "tail one"), (2, head + "completely other ending")],
        "doc_id bigint, text string",
    )
    rows = edit_distance_pairs(
        df, "doc_id", "text", candidate_threshold=0.1, prefix=64
    ).collect()
    assert len(rows) == 1 and rows[0].edit_sim == 1.0


def test_bloom_dedup_incremental_never_passes_true_duplicates(spark):
    """Bloom incremental dedup: every key already in history is dropped
    (no false negatives by construction); new keys overwhelmingly
    survive; within-batch dups removed exactly (keep-lowest)."""
    from impala_hashset_count_spark.operators.bloom import bloom_dedup_incremental
    from impala_hashset_count_spark.operators.dedup import exact_dedup_incremental

    hist = spark.createDataFrame(
        [(f"seen-{i}",) for i in range(500)], "key string"
    )
    batch = spark.createDataFrame(
        [(f"seen-{i}", i) for i in range(0, 100)]          # true dups
        + [(f"new-{i}", 1000 + i) for i in range(200)]     # genuinely new
        + [("new-0", 5000), ("new-1", 6000)],              # in-batch dups
        "key string, ord bigint",
    )
    out = bloom_dedup_incremental(batch, hist, "key", "ord",
                                  expected_items=1000, fpp=0.01)
    rows = {r.key: r.ord for r in out.collect()}
    # zero false negatives: no historical key survives
    assert not any(k.startswith("seen-") for k in rows)
    # in-batch dups keep the LOWEST ord
    assert rows.get("new-0") == 1000 and rows.get("new-1") == 1001
    # false-positive drops bounded (fpp=1% over 200 new keys; allow slack)
    assert len(rows) >= 190
    # the exact tier is the superset reference: bloom survivors are a
    # subset of exact survivors (bloom only ever drops more)
    exact = {r.key for r in exact_dedup_incremental(
        batch, hist.select(F.col("key")), ["key"], "ord").collect()}
    assert set(rows) <= exact


def test_bloom_build_probe_match_python_model(spark):
    """The (word_idx, word) table and every membership verdict equal a
    pure-Python replica of the md5-tier bit math — including which
    new keys false-positive."""
    import hashlib

    from impala_hashset_count_spark.operators.bloom import (
        bloom_build,
        bloom_probe,
    )

    n_bits, k = 256, 5
    hist = [f"h{i}" for i in range(40)]

    def positions(key):
        return [
            int(hashlib.md5(f"{i}:{key}".encode()).hexdigest()[:15], 16) % n_bits
            for i in range(k)
        ]

    words = {}
    for key in hist:
        for p in positions(key):
            words[p // 64] = words.get(p // 64, 0) | (1 << (p % 64))

    def signed64(w):  # Spark BIGINT words are signed two's-complement
        return w - (1 << 64) if w >= (1 << 63) else w

    hdf = spark.createDataFrame([(h,) for h in hist] + [(None,)], "key string")
    bloom = bloom_build(hdf, "key", n_bits, k=k, hash_fn="md5")
    assert {(r.word_idx, r.word) for r in bloom.collect()} == {
        (i, signed64(w)) for i, w in words.items()
    }

    probes = hist[:5] + [f"q{i}" for i in range(60)]
    pdf = spark.createDataFrame([(p,) for p in probes] + [(None,)],
                                "key string")
    got = {r.key: r.maybe_seen for r in
           bloom_probe(pdf, "key", bloom, n_bits, k=k, hash_fn="md5").collect()}
    for p in probes:
        expect = all(words.get(pos // 64, 0) >> (pos % 64) & 1 for pos in positions(p))
        assert got[p] == expect, p
    assert got[None] is False          # NULL keys are never 'seen'
    assert all(got[h] for h in hist[:5])  # no false negatives


def test_bloom_union_of_filters_equals_filter_of_union(spark):
    """BIT_OR mergeability: building two filters and BIT_OR-merging
    their word tables equals building one filter over the union."""
    from impala_hashset_count_spark.operators.bloom import bloom_build

    a = spark.createDataFrame([(f"a{i}",) for i in range(30)], "key string")
    b = spark.createDataFrame([(f"b{i}",) for i in range(30)], "key string")
    n_bits = 192
    fa = bloom_build(a, "key", n_bits, hash_fn="md5")
    fb = bloom_build(b, "key", n_bits, hash_fn="md5")
    merged = (
        fa.unionByName(fb).groupBy("word_idx").agg(F.bit_or("word").alias("word"))
    )
    direct = bloom_build(a.unionByName(b), "key", n_bits, hash_fn="md5")
    assert {(r.word_idx, r.word) for r in merged.collect()} == {
        (r.word_idx, r.word) for r in direct.collect()
    }


def test_prefix_filtered_jaccard_equals_full_index(spark, sf_small):
    """PPJoin-style prefix filtering is EXACT: identical (pair, score)
    output to the full inverted-index tier on real documents, while
    indexing strictly fewer (id, shingle) rows."""
    from impala_hashset_count_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
        shingle_sets,
    )

    d = load_table(spark, sf_small, "documents")
    full = sorted(map(tuple, ngram_jaccard_pairs(d, "doc_id", "text").collect()))
    pref = sorted(map(tuple, ngram_jaccard_pairs_prefix(d, "doc_id", "text").collect()))
    assert pref == full and len(full) > 0

    # index-size reduction: at t=0.5 the prefix holds about half of each
    # doc's shingles
    n_all = shingle_sets(d, "doc_id", "text").count()
    # recompute the prefix row count via the same operator internals
    import math

    sd = shingle_sets(d, "doc_id", "text")
    sizes = {r.doc_id: r.sz for r in
             sd.groupBy("doc_id").agg(F.count("*").alias("sz")).collect()}
    expected_prefix = sum(sz - math.ceil(0.5 * sz) + 1 for sz in sizes.values())
    assert expected_prefix < n_all


def test_prefix_filtered_jaccard_planted_threshold_boundary(spark):
    """Planted pairs exactly at and just below the threshold: the
    prefix tier keeps/drops them identically to the full tier."""
    from impala_hashset_count_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )

    base = [f"w{i}" for i in range(12)]
    docs = [
        (1, " ".join(base)),
        (2, " ".join(base[:9] + ["x1", "x2", "x3"])),   # high overlap
        (3, " ".join(base[:4] + [f"y{i}" for i in range(8)])),  # low overlap
        (4, " ".join(f"z{i}" for i in range(12))),      # disjoint
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    for t in (0.3, 0.5, 0.7):
        full = sorted(map(tuple,
            ngram_jaccard_pairs(df, "doc_id", "text", threshold=t).collect()))
        pref = sorted(map(tuple,
            ngram_jaccard_pairs_prefix(df, "doc_id", "text", threshold=t).collect()))
        assert pref == full, t


def test_minhash_lsh_incremental_equals_batch_restricted(spark, sf_small):
    """Incremental LSH over an 80/20 corpus split finds EXACTLY the
    batch face's pairs that touch a new doc (same deterministic hashes,
    same verification), and appending the returned artifacts equals
    re-indexing everything."""
    from impala_hashset_count_spark.operators.dedup import (
        minhash_lsh_index,
        minhash_lsh_pairs_incremental,
    )

    d = load_table(spark, sf_small, "documents").select("doc_id", "text")
    old = d.filter("doc_id % 5 != 0")
    new = d.filter("doc_id % 5 = 0")
    new_ids = {r.doc_id for r in new.select("doc_id").collect()}

    stored_docs, stored_bands = minhash_lsh_index(old, "doc_id", "text")
    pairs, new_docs, new_bands = minhash_lsh_pairs_incremental(
        new, stored_docs, stored_bands, "doc_id", "text"
    )
    got = sorted(map(tuple, pairs.collect()))

    full = minhash_lsh_pairs(d, "doc_id", "text")
    expect = sorted(
        tuple(r) for r in full.collect()
        if r.id_1 in new_ids or r.id_2 in new_ids
    )
    assert got == expect and len(got) > 0

    # index maintenance by append: stored + new artifacts == full index
    full_docs, full_bands = minhash_lsh_index(d, "doc_id", "text")
    assert sorted(
        (r.doc_id, r.band_id, r.band_hash)
        for r in stored_bands.unionByName(new_bands).collect()
    ) == sorted(
        (r.doc_id, r.band_id, r.band_hash) for r in full_bands.collect()
    )


def test_minhash_lsh_incremental_empty_batch_and_empty_history(spark, sf_small):
    from impala_hashset_count_spark.operators.dedup import (
        minhash_lsh_index,
        minhash_lsh_pairs_incremental,
    )

    d = load_table(spark, sf_small, "documents").select("doc_id", "text")
    empty = d.filter("doc_id < 0")
    docs, bands = minhash_lsh_index(d, "doc_id", "text")
    # empty batch: nothing to pair
    p, _nd, _nb = minhash_lsh_pairs_incremental(empty, docs, bands, "doc_id", "text")
    assert p.count() == 0
    # empty history: incremental == full batch face
    edocs, ebands = minhash_lsh_index(empty, "doc_id", "text")
    p2, _nd2, _nb2 = minhash_lsh_pairs_incremental(d, edocs, ebands, "doc_id", "text")
    full = sorted(map(tuple, minhash_lsh_pairs(d, "doc_id", "text").collect()))
    assert sorted(map(tuple, p2.collect())) == full


# --- cross-document shared-passage detection (winnowing) ----------------

def _winnow_pairs_model(rows, window=8, stride=4, min_shared=3, max_fp_docs=None):
    """Python model of winnow_shared_passages over (id, text) rows.
    Sizes are FULL signature sizes (pre-guard, matching the operator's
    documented sz_i = |fp(d_i)| contract); only the PAIRING universe is
    filtered by the ubiquity guard."""
    from impala_hashset_count_spark.functions.text import poly_winnow_py

    full = {}
    for i, t in rows:
        f = poly_winnow_py(t, window, stride)
        if f is not None:
            full[i] = set(f)
    sizes = {i: len(s) for i, s in full.items()}
    fps = full
    if max_fp_docs is not None:
        from collections import Counter

        cnt = Counter(v for s in full.values() for v in s)
        fps = {i: {v for v in s if cnt[v] <= max_fp_docs} for i, s in full.items()}
    out = {}
    ids = sorted(fps)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            n = len(fps[a] & fps[b])
            if n >= min_shared:
                out[(a, b)] = n
    return out, sizes


def test_winnow_shared_passages_matches_python_model(spark, sf_small):
    from impala_hashset_count_spark.operators.dedup import winnow_shared_passages
    from impala_hashset_count_spark.sources.tables import load_table

    d = load_table(spark, sf_small, "documents").select("doc_id", "text")
    got = {
        (r.id_1, r.id_2): (r.n_shared, r.sz_1, r.sz_2)
        for r in winnow_shared_passages(d, min_shared=2).collect()
    }
    rows = [(r.doc_id, r.text) for r in d.collect()]
    want_pairs, want_sz = _winnow_pairs_model(rows, min_shared=2)
    assert {k: v[0] for k, v in got.items()} == want_pairs
    for (a, b), (_, s1, s2) in got.items():
        assert (s1, s2) == (want_sz[a], want_sz[b])


def test_winnow_detects_planted_shared_passage(spark):
    """Two documents that differ everywhere EXCEPT one shared passage
    must pair (winnowing guarantees >= 1 common fingerprint per shared
    substring of length >= window + stride - 1; a long passage yields
    many), while unrelated docs must not."""
    from impala_hashset_count_spark.operators.dedup import winnow_shared_passages

    passage = "All rights reserved under the Example Corp public license."
    rows = [
        (1, "totally unrelated opening text here. " + passage),
        (2, passage + " followed by a completely different body of words"),
        (3, "nothing in common with the others at all, none whatsoever"),
    ]
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    pairs = {(r.id_1, r.id_2) for r in winnow_shared_passages(d, min_shared=3).collect()}
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_winnow_max_fp_docs_guard_drops_ubiquitous_fingerprints(spark):
    """A fingerprint present in every document is boilerplate with no
    pair signal AND a quadratic pair bomb — the guard must drop it
    BEFORE pairing (model equality with the guard applied), while docs
    still pair through their rarer shared fingerprints."""
    from impala_hashset_count_spark.operators.dedup import winnow_shared_passages

    everywhere = "ubiquitous boilerplate line present in every document. "
    rows = [(i, everywhere + f"unique filler text number {i} " * 3) for i in range(6)]
    # docs 0 and 1 additionally share a rare passage
    rare = "a rare shared passage that only these two contain"
    rows[0] = (0, rows[0][1] + rare)
    rows[1] = (1, rows[1][1] + rare)
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r.id_1, r.id_2): (r.n_shared, r.sz_1, r.sz_2)
        for r in winnow_shared_passages(
            d, min_shared=2, max_fp_docs=3
        ).collect()
    }
    want, want_sz = _winnow_pairs_model(
        [(i, t) for i, t in rows], min_shared=2, max_fp_docs=3
    )
    assert {k: v[0] for k, v in got.items()} == want
    # sizes stay FULL signature sizes under the guard (the documented
    # sz_i = |fp(d_i)| contract — only the pairing universe is pruned)
    for (a, b), (_, s1, s2) in got.items():
        assert (s1, s2) == (want_sz[a], want_sz[b])
    assert (0, 1) in got


def test_star_components_hypothesis_equals_union_find(spark):
    """Property check: arbitrary small edge lists (self-loops,
    duplicates, disconnected nodes) — star components == union-find."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from impala_hashset_count_spark.operators.dedup import (
        near_dup_components_star,
    )

    edge = st.tuples(
        st.integers(min_value=0, max_value=25),
        st.integers(min_value=0, max_value=25),
    )

    @given(edges=st.lists(edge, min_size=1, max_size=25))
    @settings(
        max_examples=8, deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    def run(edges):
        parent: dict[int, int] = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        nodes = set()
        for a, b in edges:
            if a != b:
                parent[find(a)] = find(b)
                nodes.update((a, b))
        groups: dict[int, list[int]] = {}
        for n in nodes:
            groups.setdefault(find(n), []).append(n)
        model = {(n, min(g)) for g in groups.values() for n in g}

        pairs = spark.createDataFrame(edges, "id_1 int, id_2 int")
        got = {
            (r["id"], r["rep"])
            for r in near_dup_components_star(pairs).collect()
        }
        assert got == model

    run()


def test_banded_embedding_near_dup_recall_and_subset(spark):
    """The r7 banded form of `embedding_near_dup_pairs`: candidates
    from 8x8-bit hyperplane bands within the block. On a planted
    corpus of near-dup clusters (the structure volume data actually
    has — gen_sf1 makes perturbed copies), the banded pair set must be
    a SUBSET of the all-pairs ground truth (verification is exact) and
    keep >= 95% of the genuine near-dups (cos >= 0.9); and it must be
    deterministic across partitionings (fixed planes, exact integer
    signatures)."""
    import math

    # 60 deterministic base vectors, 5 near-copies each (tiny relative
    # perturbation on two coordinates), labels split into 3 blocks
    rows = []
    for base in range(60):
        v = [math.sin(0.1 * base * (i + 1)) + 2.0 for i in range(64)]
        for c in range(5):
            w = list(v)
            w[c] *= 1.0 + 0.001 * (c + 1)
            w[(c + 7) % 64] *= 1.0 - 0.001 * (c + 1)
            rows.append((base * 10 + c, f"blk{base % 3}", w))
    df = spark.createDataFrame(rows, "vec_id long, label string, embedding array<double>")

    allp = {
        (r.id_1, r.id_2): r.cos_sim
        for r in embedding_near_dup_pairs(
            df, "vec_id", "embedding", 0.9, block_col="label"
        ).collect()
    }
    band = {
        (r.id_1, r.id_2): r.cos_sim
        for r in embedding_near_dup_pairs(
            df, "vec_id", "embedding", 0.9, block_col="label",
            lsh_bands=8, lsh_rows=8,
        ).collect()
    }
    assert set(band) <= set(allp)
    assert all(band[k] == allp[k] for k in band)  # exact verification
    # every cluster contributes C(5,2)=10 true near-dup pairs
    assert len(allp) >= 60 * 10
    assert len(band) >= 0.95 * len(allp)

    band2 = {
        (r.id_1, r.id_2)
        for r in embedding_near_dup_pairs(
            df.repartition(17), "vec_id", "embedding", 0.9,
            block_col="label", lsh_bands=8, lsh_rows=8,
        ).collect()
    }
    assert band2 == set(band)


def test_minhash_hot_shingle_guard_is_exact_at_every_cap(spark):
    """The verification stage's hot/cold shingle split (r7 verdict:
    one boilerplate shingle in 1e6 docs is 5e11 unguarded join rows)
    must be BIT-identical at every ``hot_shingle_docs`` setting:
    cap=1 routes every shared shingle through the candidate-probe
    branch, a huge cap reproduces the pure self-join, the default
    mixes them — all on a corpus where one boilerplate 3-gram appears
    in every document."""
    rows = []
    for i in range(30):
        body = " ".join(f"w{i}x{j}" for j in range(12))
        rows.append((i, f"all rights reserved {body}"))
        if i % 3 == 0:  # planted near-dup twin of doc i
            rows.append((1000 + i, f"all rights reserved {body} tail{i}"))
    d = spark.createDataFrame(rows, "doc_id long, text string")
    exact = sorted(
        map(tuple, ngram_jaccard_pairs(d, "doc_id", "text", 3, 0.5).collect())
    )
    assert exact, "fixture must contain planted near-dups"
    for cap in (1, 4, 10**9):
        got = sorted(
            map(
                tuple,
                minhash_lsh_pairs(
                    d, "doc_id", "text", hot_shingle_docs=cap
                ).collect(),
            )
        )
        assert got == exact, f"cap={cap} diverged from ground truth"


def test_minhash_lsh_incremental_reingested_id_takes_new_row(spark, sf_small):
    """Re-ingesting a stored doc id must NOT double that doc's shingles
    in verification (r7 ADVICE: the unionByName form inflated __common
    and __sz asymmetrically, corrupting the jaccard). The contract: the
    NEW batch's row wins, so pairs equal the batch face over
    (history minus re-ingested ids) + new batch."""
    from impala_hashset_count_spark.operators.dedup import (
        minhash_lsh_index,
        minhash_lsh_pairs_incremental,
    )

    d = load_table(spark, sf_small, "documents").select("doc_id", "text")
    old = d.filter("doc_id % 5 != 0")
    # the new batch re-ingests some stored ids verbatim plus genuinely
    # new docs — re-ingested rows must count each shingle ONCE
    new = d.filter("doc_id % 5 = 0").unionByName(d.filter("doc_id % 10 = 1"))

    stored_docs, stored_bands = minhash_lsh_index(old, "doc_id", "text")
    pairs, _nd, _nb = minhash_lsh_pairs_incremental(
        new, stored_docs, stored_bands, "doc_id", "text",
        hot_shingle_docs=4,  # exercise the now-exposed cap too
    )
    got = sorted(map(tuple, pairs.collect()))

    new_ids = {r.doc_id for r in new.select("doc_id").collect()}
    full = minhash_lsh_pairs(d, "doc_id", "text")
    expect = sorted(
        tuple(r) for r in full.collect()
        if r.id_1 in new_ids or r.id_2 in new_ids
    )
    assert got == expect and len(got) > 0


def test_checkpoint_mode_reliable_matches_local(spark, sf_small, tmp_path):
    """The r8 verdict's first-class fault-tolerance knob: with a
    configured checkpoint dir, checkpoint_mode='reliable' must produce
    the exact pair set and components of the default local mode (the
    knob moves blocks, never values); without a dir it must fail at
    submit time, not mid-job."""
    import pytest as _pytest

    from impala_hashset_count_spark.operators.dedup import (
        near_dup_components,
        near_dup_components_star,
    )

    d = load_table(spark, sf_small, "documents")
    sc = spark.sparkContext
    assert sc._jsc.sc().getCheckpointDir().isEmpty(), (
        "test session should start with no checkpoint dir"
    )
    with _pytest.raises(ValueError, match="checkpoint dir"):
        minhash_lsh_pairs(
            d, "doc_id", "text", 3, 64, 32, 0.5, checkpoint_mode="reliable"
        )
    with _pytest.raises(ValueError, match="'local' or 'reliable'"):
        minhash_lsh_pairs(
            d, "doc_id", "text", 3, 64, 32, 0.5, checkpoint_mode="hdfs"
        )

    local_pairs = minhash_lsh_pairs(d, "doc_id", "text", 3, 64, 32, 0.5)
    local = {(r.id_1, r.id_2, r.jaccard) for r in local_pairs.collect()}
    assert local, "fixture should contain near-dup pairs"

    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    rel_pairs = minhash_lsh_pairs(
        d, "doc_id", "text", 3, 64, 32, 0.5, checkpoint_mode="reliable"
    )
    assert {(r.id_1, r.id_2, r.jaccard) for r in rel_pairs.collect()} == local

    comp_local = {
        (r.id, r.rep) for r in near_dup_components(local_pairs).collect()
    }
    comp_rel = {
        (r.id, r.rep)
        for r in near_dup_components(
            rel_pairs, checkpoint_mode="reliable"
        ).collect()
    }
    star_rel = {
        (r.id, r.rep)
        for r in near_dup_components_star(
            rel_pairs, checkpoint_mode="reliable"
        ).collect()
    }
    assert comp_rel == comp_local
    assert star_rel == comp_local


def test_checkpoint_spill_safe_gate_matches_default(spark, sf_small, monkeypatch):
    """The r9 verdict's sf100 memory-cliff fix: above the size gate the
    local-checkpoint blocks (and the shingle persist) store serialized
    DISK_ONLY instead of as deserialized heap blocks. The gate moves
    STORAGE only — forcing it on at tiny scale must reproduce the
    default pair set bit-for-bit, and the default gate must stay OFF at
    bench SFs (plan/behavior byte-identical there)."""
    from impala_hashset_count_spark.operators import dedup as dedup_mod
    from impala_hashset_count_spark.sources.tables import plan_bytes

    d = load_table(spark, sf_small, "documents")
    # bench SFs sit far under the default gate: behavior unchanged there
    assert 0 < plan_bytes(d) < dedup_mod._CKPT_DISK_MIN_BYTES

    base = {
        (r.id_1, r.id_2, r.jaccard)
        for r in minhash_lsh_pairs(d, "doc_id", "text").collect()
    }
    assert base, "fixture should contain near-dup pairs"
    monkeypatch.setattr(dedup_mod, "_CKPT_DISK_MIN_BYTES", 1)
    forced = {
        (r.id_1, r.id_2, r.jaccard)
        for r in minhash_lsh_pairs(d, "doc_id", "text").collect()
    }
    assert forced == base


def test_minhash_full_run_restricted_equals_slice_run(spark, sf_small):
    """Soundness of the sf100 slice certification
    (tools/sf100_slice_cert.py): every stage of minhash_lsh_pairs is a
    pairwise property of the two docs (per-doc signatures, band
    agreement, exact Jaccard), so the FULL-corpus pair set restricted
    to a doc-id slice must equal the pair set of running on the sliced
    corpus alone — exactly, jaccard values included."""
    d = load_table(spark, sf_small, "documents")
    full = minhash_lsh_pairs(d, "doc_id", "text", 3, 64, 32, 0.5)
    restricted = {
        (r.id_1, r.id_2, r.jaccard)
        for r in full.filter(
            (F.col("id_1") % 2 == 0) & (F.col("id_2") % 2 == 0)
        ).collect()
    }
    slice_run = {
        (r.id_1, r.id_2, r.jaccard)
        for r in minhash_lsh_pairs(
            d.filter(F.col("doc_id") % 2 == 0), "doc_id", "text", 3, 64, 32, 0.5
        ).collect()
    }
    assert restricted == slice_run
    assert slice_run, "slice should retain planted near-dups"


def test_simhash_incremental_equals_batch_restriction(spark, sf_small):
    """The incremental simhash face must equal the batch face's pair
    set restricted to pairs touching a new id — same signatures, same
    subset-key join — and a re-ingested id must take the NEW batch's
    row (the minhash-face id contract)."""
    from impala_hashset_count_spark.operators.dedup import (
        simhash_pairs_incremental,
        simhash_signatures,
    )

    d = load_table(spark, sf_small, "documents")
    stored_df = d.filter(F.col("doc_id") % 3 != 0)
    new_df = d.filter(F.col("doc_id") % 3 == 0)
    stored_sigs = simhash_signatures(stored_df, "doc_id", "text")

    batch = {
        (r.id_1, r.id_2, r.hamming)
        for r in simhash_pairs(d, "doc_id", "text", max_hamming=3).collect()
    }
    expected = {
        (a, b, h) for (a, b, h) in batch if a % 3 == 0 or b % 3 == 0
    }
    pairs, new_sigs = simhash_pairs_incremental(
        new_df, stored_sigs, "doc_id", "text", max_hamming=3
    )
    assert {(r.id_1, r.id_2, r.hamming) for r in pairs.collect()} == expected
    assert expected, "fixture should contain pairs touching new docs"
    # chunk-count invariance holds for the incremental join too
    pairs6, _ = simhash_pairs_incremental(
        new_df, stored_sigs, "doc_id", "text", max_hamming=3, n_chunks=6
    )
    assert {(r.id_1, r.id_2, r.hamming) for r in pairs6.collect()} == expected
    # new_sigs is exactly the batch's signature table (appendable)
    got_sigs = {(r.doc_id, r.simhash) for r in new_sigs.collect()}
    want_sigs = {
        (r.doc_id, r.simhash)
        for r in simhash_signatures(new_df, "doc_id", "text").collect()
    }
    assert got_sigs == want_sigs

    # re-ingested id: stored holds a STALE signature for doc 0; the new
    # batch's row must win (anti-join drops the stale signature)
    stale = stored_sigs.unionByName(
        spark.createDataFrame(
            [(0, 123456789)], "doc_id long, simhash long"
        ).select(F.col("doc_id").cast("long"), F.col("simhash").cast("long"))
    )
    pairs_re, _ = simhash_pairs_incremental(
        new_df, stale, "doc_id", "text", max_hamming=3
    )
    assert {(r.id_1, r.id_2, r.hamming) for r in pairs_re.collect()} == expected
