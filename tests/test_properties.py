"""Property-based invariants (hypothesis) for pure-Python planning
logic — no Spark session needed, so these run fast and wide."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from lightlane_spark.sources.jdbc import split_options


@given(
    lower=st.one_of(st.none(), st.integers(-(10**9), 10**9)),
    upper=st.one_of(st.none(), st.integers(-(10**9), 10**9)),
    splits=st.integers(min_value=1, max_value=64),
)
@settings(max_examples=200)
def test_split_options_never_emit_partial_config(lower, upper, splits):
    """Either the full partitionColumn option quad is present, or none
    of it (a partial config makes Spark's JDBC reader error)."""
    try:
        opts = split_options("k", splits, lower, upper)
    except ValueError:
        assert lower is not None and upper is not None and lower > upper
        return
    quad = {"partitionColumn", "lowerBound", "upperBound", "numPartitions"}
    present = quad & set(opts)
    assert present == quad or present == set()
    if present:
        assert lower is not None and upper is not None and splits > 1


# ---------------------------------------------------------------------------
# Connected components vs a driver-side union-find reference
# ---------------------------------------------------------------------------


def _union_find_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # path-compress fully, then label by component min
    comp = {}
    for n in list(parent):
        root = find(n)
        comp.setdefault(root, []).append(n)
    out = {}
    for members in comp.values():
        m = min(members)
        for n in members:
            out[n] = m
    return out


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=15, deadline=None)
def test_connected_components_matches_union_find(spark, edges):
    """BOTH regimes — the driver union-find fast path (default for
    small edge sets) and the distributed star contraction
    (driver_edge_cap=None) — must agree with an independent union-find
    oracle on arbitrary small graphs (self-loops and duplicate edges
    included)."""
    from lightlane_spark.operators.clustering import connected_components

    expected = _union_find_components([(a, b) for a, b in edges if a != b])
    df = spark.createDataFrame(edges, "id_a: bigint, id_b: bigint")
    got_fast = {r.id: r.component for r in connected_components(df).collect()}
    got_dist = {
        r.id: r.component
        for r in connected_components(df, driver_edge_cap=None).collect()
    }
    assert got_fast == expected
    assert got_dist == expected


def _py_zorder(vals, specs, bits):
    top = (1 << bits) - 1
    d = len(specs)
    z = 0
    for j, (v, (lo, hi)) in enumerate(zip(vals, specs)):
        v = min(max(v, lo), hi)
        u = (v - lo) * top // (hi - lo)
        for b in range(bits):
            z += ((u >> b) & 1) << (b * d + j)
    return z


@given(
    x=st.integers(min_value=-(10**6), max_value=2 * 10**6),
    y=st.integers(min_value=-(10**6), max_value=2 * 10**6),
    bits=st.integers(min_value=1, max_value=20),
)
@settings(max_examples=300)
def test_zorder_key_bounds_and_monotone_scaling(x, y, bits):
    """The python model of the SQL generator (pinned equal to both
    engines in test_layout.py) stays within the bit budget and is
    monotone per dimension after clamping."""
    specs = [(0, 10**6), (0, 10**6)]
    z = _py_zorder((x, y), specs, bits)
    assert 0 <= z < (1 << (2 * bits))
    # clamping: out-of-range values key identically to the boundary
    assert _py_zorder((min(max(x, 0), 10**6), y), specs, bits) == z
    # interleave round-trip: de-interleaving recovers the scaled cells
    ux = sum(((z >> (b * 2)) & 1) << b for b in range(bits))
    uy = sum(((z >> (b * 2 + 1)) & 1) << b for b in range(bits))
    cx = min(max(x, 0), 10**6)
    cy = min(max(y, 0), 10**6)
    top = (1 << bits) - 1
    assert ux == cx * top // 10**6
    assert uy == cy * top // 10**6


def _py_positions(s: str, k: int, mod: int) -> list[int]:
    """Python model of sketches.position_sql (md5 double-hash)."""
    import hashlib

    h = hashlib.md5(s.encode()).hexdigest()
    m1, m2 = int(h[:8], 16), int(h[8:16], 16)
    return [((m1 + i * m2) % (1 << 32)) % mod for i in range(k)]


@given(
    words=st.lists(
        st.text(alphabet="abcdefg", min_size=1, max_size=4),
        min_size=1,
        max_size=60,
    ),
    depth=st.integers(2, 4),
    width=st.integers(4, 64),
)
@settings(max_examples=8, deadline=None)
def test_cms_matches_python_model_and_never_undercounts(spark, words, depth, width):
    """The Spark CMS equals an exact python simulation of the same
    double-hash grid (collisions included), and every estimate bounds
    the true multiset count from above — on arbitrary small corpora."""
    from collections import Counter

    from lightlane_spark.operators.sketches import cms_build, cms_estimate

    df = spark.createDataFrame([(w,) for w in words], "tok: string")
    grid = Counter()
    for w in words:
        for d, b in enumerate(_py_positions(w, depth, width)):
            grid[(d, b)] += 1
    sketch = {(r.d, r.b): r.cnt for r in cms_build(df, "tok", depth, width).collect()}
    assert sketch == dict(grid)

    truth = Counter(words)
    est = {
        r.tok: r.cms_est
        for r in cms_estimate(
            cms_build(df, "tok", depth, width), df.distinct(), "tok", depth, width
        ).collect()
    }
    for w, c in truth.items():
        assert est[w] >= c
        assert est[w] == min(grid[(d, b)] for d, b in enumerate(_py_positions(w, depth, width)))


@given(
    members=st.sets(st.text(alphabet="xyz01", min_size=1, max_size=5), min_size=1, max_size=15),
    probes=st.sets(st.text(alphabet="xyz01", min_size=1, max_size=5), min_size=1, max_size=15),
    k=st.integers(2, 5),
)
@settings(max_examples=8, deadline=None)
def test_bloom_matches_python_model(spark, members, probes, k):
    """Spark Bloom membership equals the python bit-set model exactly:
    no false negatives ever; false positives exactly when all k bits
    collide."""
    from lightlane_spark.operators.sketches import bloom_build, bloom_member

    num_bits = 64
    mdf = spark.createDataFrame([(m,) for m in sorted(members)], "k: string")
    pdf = spark.createDataFrame([(p,) for p in sorted(probes)], "k: string")
    bits = {b for m in members for b in _py_positions(m, k, num_bits)}
    got = {
        r.k: r.bloom_member
        for r in bloom_member(pdf, "k", bloom_build(mdf, "k", num_bits, k), num_bits, k).collect()
    }
    for p in probes:
        assert got[p] == all(b in bits for b in _py_positions(p, k, num_bits))


@given(
    words=st.lists(
        st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff", "gg"]),
        min_size=0,
        max_size=80,
    ),
    mask_bits=st.integers(1, 4),
)
@settings(max_examples=8, deadline=None)
def test_cdc_chunks_matches_python_model(spark, words, mask_bits):
    """Spark CDC chunking equals a direct python simulation of the
    boundary rule on arbitrary token streams (empty docs included),
    and reassembly is lossless."""
    import hashlib

    from lightlane_spark.operators.text import cdc_chunks

    text = " ".join(words)
    df = spark.createDataFrame([(1, text)], "doc_id: bigint, text: string")
    got = {
        r.chunk_idx: (r.chunk_text, r.n_tokens)
        for r in cdc_chunks(df, mask_bits=mask_bits).collect()
    }

    # python model: boundary AFTER token whose h32 % 2^mask_bits == 0
    chunks: list[list[str]] = [[]] if words else []
    for w in words:
        chunks[-1].append(w)
        h = int(hashlib.md5(w.encode()).hexdigest()[:8], 16)
        if h % (1 << mask_bits) == 0:
            chunks.append([])
    model = {
        i: (" ".join(c), len(c)) for i, c in enumerate(chunks) if c
    }
    assert got == model
    assert " ".join(t for t, _ in (got[i] for i in sorted(got))) == text.strip()


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["x", "y", "z", "w"]), min_size=0, max_size=12),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=6, deadline=None)
def test_lm_doc_scores_matches_python_model(spark, docs):
    """Bigram-LM surprisal equals an exact python reimplementation
    (add-one smoothing, 9dp term rounds, 6dp mean) on arbitrary small
    corpora — short and empty docs drop out in both."""
    import math
    from collections import Counter

    from lightlane_spark.operators.text import lm_doc_scores

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id: bigint, text: string")
    got = {r.doc_id: r.lm_score for r in lm_doc_scores(df).collect()}

    from decimal import ROUND_HALF_UP, Decimal

    def round_half_up(x: float, nd: int) -> float:
        # Spark's round(): HALF_UP on the double's shortest repr —
        # python's round() is banker's and would diverge at exact .5
        # boundaries (terms are 9dp multiples, so a mean CAN land
        # exactly on one).
        return float(Decimal(repr(x)).quantize(Decimal(f"1e-{nd}"), ROUND_HALF_UP))

    uni = Counter(t for toks in docs for t in toks)
    big = Counter(
        (a, b) for toks in docs for a, b in zip(toks, toks[1:])
    )
    V = len(uni)
    model = {}
    for i, toks in enumerate(docs):
        terms = [
            round_half_up(-math.log((big[(a, b)] + 1) / (uni[a] + V)), 9)
            for a, b in zip(toks, toks[1:])
        ]
        if terms:
            # exact decimal sum (engine sums DECIMAL(18,9)), then the
            # same decimal->double cast, double division, 6dp HALF_UP
            s = sum(Decimal(repr(t)) for t in terms)
            model[i] = round_half_up(float(s) / len(terms), 6)
    assert got == model


def _python_jaccard_pairs(texts: dict, k: int, threshold: float):
    """Independent python model: word-k-gram sets, exact Jaccard."""
    from fractions import Fraction

    frac = Fraction(threshold).limit_denominator(10**6)
    grams = {}
    for i, t in texts.items():
        toks = t.split(" ")
        if len(toks) < k:
            continue
        grams[i] = {" ".join(toks[j : j + k]) for j in range(len(toks) - k + 1)}
    out = set()
    ids = sorted(grams)
    for a in range(len(ids)):
        for b in range(a + 1, len(ids)):
            ia, ib = ids[a], ids[b]
            inter = len(grams[ia] & grams[ib])
            union = len(grams[ia] | grams[ib])
            # exact rational threshold, same as the operator
            if union and inter * frac.denominator >= frac.numerator * union:
                out.add((ia, ib))
    return out


@given(
    docs=st.lists(
        st.text(alphabet="ab ", min_size=1, max_size=40),
        min_size=2,
        max_size=12,
    ),
    threshold=st.sampled_from([0.3, 0.5, 0.7, 0.9]),
)
@settings(max_examples=12, deadline=None)
def test_prefix_filter_join_matches_python_model(spark, docs, threshold):
    """Prefix filtering must equal an independent all-pairs python
    model on arbitrary tiny corpora — including pathological ones
    (empty-ish docs, repeated grams, every doc identical). The tiny
    'ab ' alphabet maximizes gram collisions, which is exactly where
    a broken prefix/length filter would drop pairs."""
    from lightlane_spark.operators.fuzzy_dedup import prefix_filter_jaccard_join

    texts = {i: t for i, t in enumerate(docs)}
    df = spark.createDataFrame(list(texts.items()), "doc_id: bigint, text: string")
    got = {
        (r.id_a, r.id_b)
        for r in prefix_filter_jaccard_join(df, k=2, threshold=threshold).collect()
    }
    assert got == _python_jaccard_pairs(texts, 2, threshold)


def _greedy_merge(toks, a, b):
    out, i = [], 0
    while i < len(toks):
        if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(toks[i])
            i += 1
    return out


def _run_parity_merge(toks, a, b):
    """The relational formulation bpe_train's DuckDB oracle uses:
    candidate positions → runs of consecutive candidates → keep odd
    offsets within each run → rebuild."""
    cand = [
        i
        for i in range(len(toks) - 1)
        if toks[i] == a and toks[i + 1] == b
    ]
    keep = set()
    run_start = None
    prev = None
    for p in cand:
        if prev is None or p != prev + 1:
            run_start = p
        if (p - run_start) % 2 == 0:
            keep.add(p)
        prev = p
    out, i = [], 0
    while i < len(toks):
        if i in keep:
            out.append(a + b)
            i += 2
        else:
            out.append(toks[i])
            i += 1
    return out


@given(
    toks=st.lists(st.sampled_from(["a", "b", "ab", "aa", "c"]), max_size=40),
)
@settings(max_examples=500)
def test_bpe_greedy_fold_equals_run_parity_formulation(toks):
    """The sequential greedy-leftmost fold (Spark JVM aggregate) and
    the run-parity window formulation (DuckDB oracle) must pick the
    SAME merge positions on every input — including overlapping runs
    like a,a,a and adjacent disjoint candidates. This is the
    equivalence the cross-engine oracle of `bpe_train` rests on."""
    for a, b in [("a", "a"), ("a", "b"), ("aa", "a"), ("b", "c")]:
        assert _greedy_merge(toks, a, b) == _run_parity_merge(toks, a, b), (
            toks,
            a,
            b,
        )
