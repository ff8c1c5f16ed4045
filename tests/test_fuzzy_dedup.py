"""M5 dedup: exact, MinHash-LSH, SimHash, n-gram Jaccard."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from lightlane_spark.operators.fuzzy_dedup import (
    dedup_exact,
    dedup_minhash,
    lsh_band_keys,
    lsh_candidate_pairs,
    minhash_signature_arrays,
    minhash_signatures,
    ngram_jaccard_pairs,
    shingle,
    simhash_near_pairs,
    simhash_signatures,
)
from lightlane_spark.sources.parquet import read_table


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    """Documents plus deterministic near-duplicates: every 5th doc
    reappears with a new id — identical text (exact+near dup), and
    every 7th with its first word dropped (near dup only)."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    exact_dups = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    near_dups = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
    )
    return docs.unionByName(exact_dups).unionByName(near_dups)


def test_dedup_exact(spark, corpus):
    base = corpus.filter("doc_id < 1000000").count()
    exact_dup_count = corpus.filter("doc_id >= 1000000 AND doc_id < 2000000").count()
    out = dedup_exact(corpus)
    # every exact dup collapses onto its original (min doc_id wins)
    assert out.count() == corpus.count() - exact_dup_count
    assert out.filter("doc_id >= 1000000 AND doc_id < 2000000").count() == 0
    assert out.filter("doc_id < 1000000").count() == base


def test_shingles_drop_short_docs(spark):
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b c d")], "doc_id: bigint, text: string"
    )
    out = shingle(df, k=3)
    assert {r.doc_id for r in out.collect()} == {2}
    assert {r.sh for r in out.collect()} == {"a b c", "b c d"}


def test_minhash_lsh_finds_exact_dups(spark, corpus):
    """Identical text ⇒ identical signature ⇒ shared buckets ⇒
    candidate pair ⇒ jaccard = 1.0."""
    verified = dedup_minhash(corpus, threshold=0.7)
    pairs = {(r.id_a, r.id_b): r.jaccard for r in verified.collect()}
    exact_ids = [
        r.doc_id
        for r in corpus.filter("doc_id >= 1000000 AND doc_id < 2000000").collect()
    ]
    for dup_id in exact_ids:
        orig = dup_id - 1_000_000
        assert (orig, dup_id) in pairs, f"missing exact-dup pair {orig}/{dup_id}"
        assert pairs[(orig, dup_id)] == 1.0


def test_minhash_signature_determinism(spark, corpus):
    sig1 = minhash_signatures(shingle(corpus.limit(30)))
    sig2 = minhash_signatures(shingle(corpus.limit(30)))
    assert sorted(map(tuple, sig1.collect())) == sorted(map(tuple, sig2.collect()))


def test_lsh_bucket_cap(spark):
    """A degenerate bucket (all docs identical) is dropped by the cap."""
    df = spark.createDataFrame(
        [(i, "same same same same") for i in range(20)], "doc_id: bigint, text: string"
    )
    keys = lsh_band_keys(minhash_signature_arrays(shingle(df)))
    assert lsh_candidate_pairs(keys, max_bucket_size=10).count() == 0
    assert lsh_candidate_pairs(keys, max_bucket_size=None).count() == 20 * 19 // 2


def test_simhash_exact_dups_and_portability(spark, corpus):
    sigs = simhash_signatures(corpus)
    by_id = {r.doc_id: r.simhash for r in sigs.collect()}
    for dup_id in [i for i in by_id if 1_000_000 <= i < 2_000_000]:
        assert by_id[dup_id] == by_id[dup_id - 1_000_000]
    assert all(0 <= v < (1 << 32) for v in by_id.values())
    pairs = simhash_near_pairs(sigs, max_hamming=3)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    for dup_id in [i for i in by_id if 1_000_000 <= i < 2_000_000]:
        assert (dup_id - 1_000_000, dup_id) in got


def test_ngram_jaccard_near_dups(spark, corpus):
    small = corpus.filter("doc_id % 7 = 0 OR doc_id >= 2000000")
    pairs = {(r.id_a, r.id_b): r.jaccard for r in ngram_jaccard_pairs(small, threshold=0.5).collect()}
    near_ids = [
        r.doc_id for r in corpus.filter("doc_id >= 2000000").collect()
    ]
    found = sum(1 for d in near_ids if (d - 2_000_000, d) in pairs)
    # dropping one word from an m-token doc keeps jaccard ≈ (m-3)/m ≥ 0.5
    # for all but the shortest docs
    assert found >= len(near_ids) * 0.8


# ---------------------------------------------------------------------------
# Connected components (near-dup clustering)
# ---------------------------------------------------------------------------


def _cc_dict(spark, pairs):
    from lightlane_spark.operators.clustering import connected_components

    edges = spark.createDataFrame(pairs, "id_a: bigint, id_b: bigint")
    return {r.id: r.component for r in connected_components(edges).collect()}


def test_cc_chain_merges_transitively(spark):
    # a-b, b-c, c-d: one component even though a-d never paired
    got = _cc_dict(spark, [(1, 2), (2, 3), (3, 4)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


def test_cc_separate_components_and_orientation(spark):
    got = _cc_dict(spark, [(5, 2), (2, 9), (7, 8), (30, 30)])
    assert got == {2: 2, 5: 2, 9: 2, 7: 7, 8: 7}  # self-loop dropped


def test_cc_long_path_converges(spark):
    # path graph 0-1-...-19: worst case for label propagation;
    # star contraction must still converge inside the round cap
    got = _cc_dict(spark, [(i, i + 1) for i in range(19)])
    assert set(got.values()) == {0} and len(got) == 20


def test_cc_empty_edges(spark):
    from lightlane_spark.operators.clustering import connected_components

    edges = spark.createDataFrame([], "id_a: bigint, id_b: bigint")
    assert connected_components(edges).count() == 0


def test_assign_and_dedup_by_components(spark):
    from lightlane_spark.operators.clustering import (
        assign_components,
        dedup_by_components,
    )

    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(6)], "doc_id: bigint, text: string"
    )
    edges = spark.createDataFrame([(0, 3), (3, 5)], "id_a: bigint, id_b: bigint")
    labeled = {r.doc_id: r.component for r in assign_components(df, edges).collect()}
    assert labeled == {0: 0, 3: 0, 5: 0, 1: 1, 2: 2, 4: 4}
    kept = sorted(r.doc_id for r in dedup_by_components(df, edges).collect())
    assert kept == [0, 1, 2, 4]


def test_cc_end_to_end_minhash_clusters(spark, corpus):
    """exact dup (id+1e6) and near dup (id+2e6) of the same base doc
    must land in ONE cluster keyed by the base id (when both exist and
    the near-dup verifies)."""
    from lightlane_spark.operators.clustering import assign_components
    from lightlane_spark.operators.fuzzy_dedup import dedup_minhash

    pairs = dedup_minhash(corpus, threshold=0.7).select("id_a", "id_b")
    labeled = assign_components(corpus, pairs)
    comp = {r.doc_id: r.component for r in labeled.collect()}
    merged = [
        d for d in comp if d >= 2_000_000
        and (d - 2_000_000) % 5 == 0 and comp[d] != d
    ]
    for d in merged:
        base = d - 2_000_000
        assert comp[d] == comp[base] == comp.get(base + 1_000_000, comp[base])


def test_pagerank_integer_properties(spark):
    from lightlane_spark.operators.clustering import pagerank_integer

    # path graph 1-2-3: middle node must outrank endpoints; symmetric
    # endpoints must tie exactly (integer arithmetic is order-free)
    edges = spark.createDataFrame([(1, 2), (2, 3)], "id_a: bigint, id_b: bigint")
    got = {r.id: r.rank for r in pagerank_integer(edges, iterations=5).collect()}
    assert got[1] == got[3]
    assert got[2] > got[1]
    # total probability mass stays within floor-rounding loss of 1.0
    assert 0.99 * 10**12 < sum(got.values()) <= 10**12


def test_corpus_fingerprint_merge_equals_rebuild(spark):
    """The corpus-level MinHash signature is mergeable: elementwise
    min of two batch signatures == signature of the union (the
    append-without-recompute property corpus_overlap relies on)."""
    from pyspark.sql import functions as F

    from lightlane_spark.operators.fuzzy_dedup import (
        minhash_signature_arrays,
        shingle,
    )

    docs = spark.createDataFrame(
        [(i, "w%d x%d y z a b c d" % (i % 3, i % 5)) for i in range(30)],
        "doc_id: bigint, text: string",
    ).withColumn("grp", F.lit("all"))
    sig = lambda d: minhash_signature_arrays(  # noqa: E731
        shingle(d, id_col="grp", k=3, distinct=False), id_col="grp", num_hashes=16
    ).collect()[0]["sig"]
    whole = sig(docs)
    s1 = sig(docs.where("doc_id < 13"))
    s2 = sig(docs.where("doc_id >= 13"))
    assert [min(a, b) for a, b in zip(s1, s2)] == whole


def test_corpus_overlap_identical_and_disjoint(spark):
    from lightlane_spark.operators.fuzzy_dedup import corpus_overlap_estimates

    rows = [("a", "p q r s t u v w"), ("b", "p q r s t u v w"),
            ("c", "zz yy xx ww vv uu tt ss")]
    df = spark.createDataFrame(rows, "source: string, text: string")
    got = {(r.src_a, r.src_b): (r.n_agree, r.est_jaccard)
           for r in corpus_overlap_estimates(df, num_hashes=16).collect()}
    assert got[("a", "b")] == (16, 1.0)   # identical corpora
    assert got[("a", "c")][0] == 0        # disjoint shingle sets
    assert got[("b", "c")][0] == 0


def test_triangle_count_known_graph(spark):
    from lightlane_spark.operators.clustering import triangle_count

    # K4 on {1,2,3,4} (4 triangles) + a pendant edge + a 3-chain (0)
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
             (4, 9), (10, 11), (11, 12)]
    df = spark.createDataFrame(edges, "id_a: bigint, id_b: bigint")
    assert triangle_count(df).first().n_triangles == 4


def test_minhash_join_links_batch_to_originals(spark):
    from lightlane_spark.operators.fuzzy_dedup import minhash_join

    base = [
        (i, " ".join("w%d" % ((i * 31 + j) % 11) for j in range(30)))
        for i in range(40)
    ]
    left = spark.createDataFrame(base, "doc_id: bigint, text: string")
    # batch: ids RE-USED from an unrelated space (collision with left
    # ids is the point of the parity embedding)
    batch = spark.createDataFrame(
        [(i, t.split(" ", 1)[1]) for i, t in base[:10]],
        "doc_id: bigint, text: string",
    )
    out = minhash_join(left, batch, threshold=0.5)
    got = {(r.left_id, r.right_id) for r in out.collect()}
    for i in range(10):
        assert (i, i) in got  # every batch doc links to its original
    assert all(r.jaccard >= 0.5 for r in out.collect())


def test_leakage_safe_split_keeps_families_atomic(spark, sf_dir):
    """No verified near-dup pair may straddle splits — the leakage
    property doc-hash splits lack."""
    from pyspark.sql import functions as F

    from lightlane_spark.queries_m5 import _docs_with_dups, q_leakage_safe_split
    from lightlane_spark.operators.fuzzy_dedup import dedup_minhash

    out = q_leakage_safe_split(spark, sf_dir).select("doc_id", "split")
    pairs = dedup_minhash(_docs_with_dups(spark, sf_dir), threshold=0.7).select(
        "id_a", "id_b"
    )
    straddle = (
        pairs.join(out.withColumnRenamed("doc_id", "id_a").withColumnRenamed("split", "sa"), "id_a")
        .join(out.withColumnRenamed("doc_id", "id_b").withColumnRenamed("split", "sb"), "id_b")
        .where(F.col("sa") != F.col("sb"))
        .count()
    )
    assert straddle == 0
    # all three splits exist and train dominates
    dist = {r.split: r["count"] for r in out.groupBy("split").count().collect()}
    assert set(dist) == {"train", "val", "test"}
    assert dist["train"] > dist["val"] and dist["train"] > dist["test"]


# ---------------------------------------------------------------------------
# Prefix-filtered exact Jaccard join
# ---------------------------------------------------------------------------


def _bruteforce_jaccard_pairs(spark, corpus, threshold):
    """Uncapped shingle self-join — the exact reference the prefix
    filter must reproduce verbatim (losslessness oracle)."""
    from lightlane_spark.operators.fuzzy_dedup import shingle

    sh = shingle(corpus, distinct="inrow")
    sizes = sh.groupBy("doc_id").count().withColumnRenamed("count", "n")
    a = sh.select(F.col("doc_id").alias("id_a"), "sh")
    b = sh.select(F.col("doc_id").alias("id_b"), "sh")
    inter = (
        a.join(b, "sh")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .count()
        .withColumnRenamed("count", "inter")
    )
    za = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a"))
    zb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b"))
    joined = inter.join(za, "id_a").join(zb, "id_b")
    jacc = F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    return {
        (r.id_a, r.id_b): round(r.j, 9)
        for r in joined.select("id_a", "id_b", jacc.alias("j"))
        .where(jacc >= threshold)
        .collect()
    }


@pytest.mark.parametrize("threshold", [0.5, 0.7, 0.9])
def test_prefix_filter_join_is_lossless(spark, corpus, threshold):
    """Prefix filtering must find EXACTLY the brute-force pair set at
    every threshold — completeness (no pair missed despite indexing
    only prefixes) and precision (verify discards false candidates)."""
    from lightlane_spark.operators.fuzzy_dedup import prefix_filter_jaccard_join

    small = corpus.filter("doc_id % 3 = 0 OR doc_id >= 1000000")
    got = {
        (r.id_a, r.id_b): round(r.jaccard, 9)
        for r in prefix_filter_jaccard_join(small, threshold=threshold).collect()
    }
    want = _bruteforce_jaccard_pairs(spark, small, threshold)
    assert got == want
    assert len(got) > 0  # fixture guarantees qualifying near-dups


def test_prefix_filter_join_boundary_threshold(spark):
    """A pair sitting exactly ON the rational threshold must be kept:
    inter·(num+den) ≥ num·(n_a+n_b) is evaluated in integers, so no
    float-boundary drop. Docs engineered to J = exactly 0.5."""
    from lightlane_spark.operators.fuzzy_dedup import prefix_filter_jaccard_join

    # grams(a) = {w1 w2 w3, w2 w3 w4} ; grams(b) = {w1 w2 w3, w2 w3 w5}
    # inter = 1, union = 3 → J = 1/3 ; threshold 1/3 keeps it.
    df = spark.createDataFrame(
        [(1, "w1 w2 w3 w4"), (2, "w1 w2 w3 w5")], "doc_id: bigint, text: string"
    )
    got = prefix_filter_jaccard_join(df, threshold=1 / 3).collect()
    assert len(got) == 1 and abs(got[0].jaccard - 1 / 3) < 1e-12
    # nudge the threshold epsilon above the rational value → dropped
    got2 = prefix_filter_jaccard_join(df, threshold=0.334).collect()
    assert got2 == []


def test_kcore_peel_known_graph(spark):
    """K4 ∪ pendant ∪ 3-chain, k=3: the pendant and chain peel away
    in round 1-2 (degree < 3), K4 survives with every member at
    degree 3. Also pins the bounded-round semantics: with rounds=0
    the graph is returned unpeeled."""
    from lightlane_spark.operators.clustering import kcore_peel

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    pendant = [(4, 9)]
    chain = [(10, 11), (11, 12)]
    edges = spark.createDataFrame(
        k4 + pendant + chain, "id_a: bigint, id_b: bigint"
    )
    core = {(r.id, r.deg) for r in kcore_peel(edges, k=3, rounds=4).collect()}
    assert core == {(1, 3), (2, 3), (3, 3), (4, 3)}
    raw = {(r.id, r.deg) for r in kcore_peel(edges, k=3, rounds=0).collect()}
    assert raw == {(1, 3), (2, 3), (3, 3), (4, 4), (9, 1),
                   (10, 1), (11, 2), (12, 1)}


def test_containment_join_finds_contained_docs(spark):
    """A short doc embedded verbatim inside a longer one must score
    containment 1.0 in the (contained -> container) direction only;
    an unrelated doc never pairs. Jaccard would miss the embedding
    (size ratio caps it below any useful threshold)."""
    from lightlane_spark.operators.fuzzy_dedup import containment_join

    inner = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame(
        [
            (1, inner),
            (2, f"intro words here {inner} and a long tail of extra context words"),
            (3, "totally different content with no shared grams at all right"),
        ],
        "doc_id: bigint, text: string",
    )
    rows = {
        (r.id_a, r.id_b): r.containment
        for r in containment_join(docs, threshold=0.9).collect()
    }
    assert (1, 2) in rows and rows[(1, 2)] == 1.0
    assert (2, 1) not in rows  # the container is not contained
    assert all(3 not in pair for pair in rows)


def test_containment_join_matches_allpairs(spark):
    """Lossless: the prefix-filtered result equals brute-force all-pairs
    containment on a corpus with duplicated and truncated docs."""
    from lightlane_spark.operators.fuzzy_dedup import containment_join, shingle

    base = [
        (i, f"w{i} common one common two common three tail{i} more words here w{i}")
        for i in range(12)
    ]
    extra = [(100 + i, t.split(" ", 1)[1]) for i, t in base[::3]]  # truncated
    docs = spark.createDataFrame(base + extra, "doc_id: bigint, text: string")

    got = {
        (r.id_a, r.id_b): round(r.containment, 9)
        for r in containment_join(docs, threshold=0.8).collect()
    }

    sh = shingle(docs, "text", "doc_id", 3, distinct="inrow")
    sets = {
        r.doc_id: set(r.grams)
        for r in sh.groupBy("doc_id")
        .agg(__import__("pyspark").sql.functions.collect_set("sh").alias("grams"))
        .collect()
    }
    want = {}
    for a, sa in sets.items():
        for b, sb in sets.items():
            if a == b or not sa:
                continue
            c = len(sa & sb) / len(sa)
            if len(sa & sb) * 10 >= len(sa) * 8:
                want[(a, b)] = round(c, 9)
    assert got == want


def test_prefix_join_suffix_slice_edges(spark):
    """r14 positional/suffix-slice rewrite edge cases: exact
    duplicates (whole prefix matches -> deep i_max, short suffix
    slices), single-gram docs (containment's probe prefix = the whole
    array -> possibly EMPTY suffix slice), and length-skewed
    contained docs. Both joins must still equal brute force exactly —
    o = c + |suffix∩suffix| is an identity, not an approximation."""
    from lightlane_spark.operators.fuzzy_dedup import (
        containment_join,
        prefix_filter_jaccard_join,
        shingle,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),          # base
            (2, "a b c d e f g h"),          # exact dup of 1
            (3, "b c d e f g h"),            # 1 minus first word
            (4, "a b c"),                     # single-gram doc
            (5, "a b c x"),                   # two grams, shares one
            (6, "q r s t u v w x y z"),      # disjoint
        ],
        "doc_id: bigint, text: string",
    )
    got_j = {
        (r.id_a, r.id_b): round(r.jaccard, 9)
        for r in prefix_filter_jaccard_join(docs, threshold=0.5).collect()
    }
    got_c = {
        (r.id_a, r.id_b): round(r.containment, 9)
        for r in containment_join(docs, threshold=0.9).collect()
    }

    sh = shingle(docs, "text", "doc_id", 3, distinct="inrow")
    sets = {
        r.doc_id: set(r.grams)
        for r in sh.groupBy("doc_id")
        .agg(F.collect_set("sh").alias("grams"))
        .collect()
    }
    want_j, want_c = {}, {}
    for a, sa in sets.items():
        for b, sb in sets.items():
            if a == b:
                continue
            inter = len(sa & sb)
            if a < b and inter and inter / len(sa | sb) >= 0.5:
                want_j[(a, b)] = round(inter / len(sa | sb), 9)
            if sa and inter * 10 >= len(sa) * 9:
                want_c[(a, b)] = round(inter / len(sa), 9)
    assert got_j == want_j and len(want_j) >= 2
    assert got_c == want_c and len(want_c) >= 3
