"""Mergeable frequency/membership sketches: count-min and Bloom.

At 100 TB the expensive shape is "compare the corpus against a set":
exact token frequencies need a corpus-wide shuffle keyed by token
(skewed by Zipf), and blocklist/accepted-index checks need an
anti-join that shuffles the big side. Both collapse to FIXED-SIZE
state that broadcasts:

  - a count-min sketch is a depth×width grid of counters (kilobytes,
    independent of corpus size) built with ONE map-side-combined
    aggregation and merged across batches/partitions by cell-wise
    addition — the streaming/incremental story is the same groupBy;
  - a Bloom filter is a bit-set of ``num_bits`` bits; membership of
    the 100 TB side is checked with ``k`` BROADCAST hash joins
    against the set-bit table — map-only on the big side, zero
    shuffles, versus the full shuffle of an exact anti-join. False
    positives are the documented price (callers use it as a
    prefilter: only flagged rows reach the exact check).

The reference (RickyXuPengfei/LightLane) has no sketching at all —
closest is its full-table COUNT probes (mysql_extractor.py's
range-count pass); both sketches here are beyond-parity scale
extensions in the spirit of its "probe cheaply before moving data".

Every hash position is the md5 double-hash family from
``functions.hashing.hash_family`` (h_i = (m1 + i·m2) mod 2^32), so a
sketch's exact contents — including collisions — are reproducible in
DuckDB from the same SQL text; ``position_sql`` renders the position
expression for either engine and is the single source of truth both
sides compile from (same pattern as ``layout.zorder_sql``).
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lightlane_spark.functions.hashing import H32_SPACE

__all__ = [
    "position_sql",
    "cms_build",
    "cms_merge",
    "cms_estimate",
    "cms_join_size",
    "bloom_build",
    "bloom_member",
    "kmv_hash",
    "kmv_sketch",
    "kmv_estimate",
    "kmv_pair_estimates",
    "kmv_merge",
]


def _md5_word_sql(col_sql: str, start: int, engine: str) -> str:
    """32-bit word of md5(col) at hex offset ``start``, as BIGINT."""
    if engine == "spark":
        return f"CAST(conv(substring(md5({col_sql}), {start}, 8), 16, 10) AS BIGINT)"
    if engine == "duckdb":
        return f"('0x' || substr(md5({col_sql}), {start}, 8))::BIGINT"
    raise ValueError(f"unknown engine {engine!r}")


def position_sql(col_sql: str, i: int, mod: int, engine: str = "spark") -> str:
    """SQL text for hash position ``i`` of a string expression:
    ``(m1 + i*m2) mod 2^32 mod mod`` with m1/m2 the first two 32-bit
    words of md5 — identical arithmetic in Spark and DuckDB (all
    intermediates < 2^61, no BIGINT overflow in either engine)."""
    m1 = _md5_word_sql(col_sql, 1, engine)
    m2 = _md5_word_sql(col_sql, 9, engine)
    return f"((({m1}) + {i} * ({m2})) % {H32_SPACE} % {mod})"


def _position(col: Column | str, i: int, mod: int) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    d = F.md5(c)
    m1 = F.conv(F.substring(d, 1, 8), 16, 10).cast("long")
    m2 = F.conv(F.substring(d, 9, 8), 16, 10).cast("long")
    return (m1 + F.lit(i) * m2) % F.lit(H32_SPACE) % F.lit(mod)


def _with_md5_words(df: DataFrame, col: str) -> DataFrame:
    """Project the two md5 words ONCE per row (``__m1``/``__m2``).

    Inlining ``_position`` into a Generate/join expression evaluates
    md5 per POSITION (2·k md5s per row — no common-subexpression
    elimination inside Generate nodes; same pitfall documented in
    ``fuzzy_dedup.shingle``). The projection boundary makes every
    later position pure integer math. Measured 2.5× on the sf0.1
    heavy-hitters sketch build."""
    d = F.md5(F.col(col))
    return df.withColumn(
        "__m1", F.conv(F.substring(d, 1, 8), 16, 10).cast("long")
    ).withColumn("__m2", F.conv(F.substring(d, 9, 8), 16, 10).cast("long"))


def _word_position(i: int, mod: int) -> Column:
    return (F.col("__m1") + F.lit(i) * F.col("__m2")) % F.lit(H32_SPACE) % F.lit(mod)


def cms_build(
    df: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 1024,
    weight_col: str | None = None,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Count-min sketch of the values in ``df[col]`` as a DataFrame
    ``(*group_cols, d INT, b INT, cnt BIGINT)`` — at most depth×width
    rows per group.

    One aggregation: each input row contributes ``depth`` (row, cell)
    increments (in-row array, posexplode), and the groupBy's map-side
    partial combine means the shuffle carries at most depth×width
    rows PER PARTITION (per group) regardless of input size — this is
    what makes the sketch cheaper than an exact count at scale, where
    the exact groupBy shuffles one row per distinct key with Zipf
    skew. Absent cells are zero by convention (``cms_estimate``
    coalesces).

    ``group_cols`` gives PARTITIONED sketches — one per day/source/
    tenant — in the same single aggregation; rolling windows then
    come from ``cms_merge`` over the relevant groups without touching
    any raw data (the time-series rollup pattern ``hll_rollup`` uses
    for distinct counts, here for frequencies).
    """
    gcols = list(group_cols or [])
    w = F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    cells = _with_md5_words(df, col).select(
        *gcols,
        F.posexplode(
            F.array(*[_word_position(i, width) for i in range(depth)])
        ).alias("d", "b"),
        w.alias("__w"),
    )
    return cells.groupBy(*gcols, "d", "b").agg(F.sum("__w").alias("cnt"))


def cms_merge(*sketches: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """Merge sketches built with the same (depth, width): cell-wise
    addition — the property that makes CMS incremental (per-batch /
    per-day sketches roll up without re-scanning any input). Pass
    ``group_cols`` to merge partitioned sketches per group; merging
    ACROSS groups (a 7-day rolling total from daily sketches) is the
    same call after dropping/mapping the group column."""
    gcols = list(group_cols or [])
    u = functools.reduce(DataFrame.unionByName, sketches)
    return u.groupBy(*gcols, "d", "b").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    items: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 1024,
    out_col: str = "cms_est",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Point-query estimates for every row of ``items``: the min over
    the ``depth`` cells the item hashes to (>= true count always;
    overshoot bounded by collisions).

    ``depth`` BROADCAST hash joins against the (tiny, <= depth×width
    rows) sketch — map-only on ``items``; no shuffle, no regroup. The
    sketch is pinned first (``tracked_persist``, the repo cache
    contract — lazy, and releasable via ``unpersist_all``): each
    broadcast level would otherwise re-run the full build
    aggregation — depth extra corpus scans for a ≤ depth×width-row
    relation (measured 2× on the sf0.1 heavy-hitters chain). Block-
    level ``getOrElseUpdate`` locking in the BlockManager means the
    concurrent broadcast threads still compute the cached relation
    once (later ones block on, then read, the first's blocks).
    """
    from lightlane_spark.cache import tracked_persist

    gcols = list(group_cols or [])
    # kept (off re-reads the corpus per level); 10x A/B local[4], best on / off s:
    # 3.18/6.11, 3.33/6.44, 3.38/7.41
    sketch = tracked_persist(sketch)
    out = _with_md5_words(items, col)
    mins: list[Column] = []
    drop: list[str] = ["__m1", "__m2"]
    for i in range(depth):
        level = sketch.where(F.col("d") == i).select(
            *[F.col(g).alias(f"__g{i}_{g}") for g in gcols],
            F.col("b").alias(f"__b{i}"),
            F.col("cnt").alias(f"__cnt{i}"),
        )
        cond = _word_position(i, width) == F.col(f"__b{i}")
        for g in gcols:
            cond = cond & (F.col(g) == F.col(f"__g{i}_{g}"))
        out = out.join(F.broadcast(level), cond, "left")
        mins.append(F.coalesce(F.col(f"__cnt{i}"), F.lit(0)))
        drop += [f"__b{i}", f"__cnt{i}"] + [f"__g{i}_{g}" for g in gcols]
    est = F.least(*mins) if len(mins) > 1 else mins[0]
    return out.withColumn(out_col, est).drop(*drop)


def cms_estimate_sql(
    item_col_sql: str,
    sketch_rel: str,
    depth: int = 4,
    width: int = 1024,
    engine: str = "duckdb",
) -> str:
    """SQL text (scalar subquery form) for the CMS estimate of
    ``item_col_sql`` against sketch relation ``sketch_rel`` — the
    oracle twin of ``cms_estimate``, compiled from the same
    ``position_sql`` terms so collisions reproduce exactly."""
    levels = [
        f"COALESCE((SELECT cnt FROM {sketch_rel} s WHERE s.d = {i} "
        f"AND s.b = {position_sql(item_col_sql, i, width, engine)}), 0)"
        for i in range(depth)
    ]
    return "LEAST(" + ", ".join(levels) + ")"


def bloom_build(df: DataFrame, col: str, num_bits: int, k: int = 5) -> DataFrame:
    """Bloom filter of the values in ``df[col]`` as a DataFrame of its
    SET BITS ``(bit INT)`` — at most min(k·|df|, num_bits) rows, and
    at most ``num_bits`` after the distinct, independent of |df|.

    The set-bit relation (not a packed bitmask) keeps membership
    testing inside Catalyst as broadcast joins; a packed representation
    would force every probe through a Python UDF."""
    bits = _with_md5_words(df, col).select(
        F.explode(F.array(*[_word_position(i, num_bits) for i in range(k)])).alias(
            "bit"
        )
    )
    return bits.distinct()


def bloom_member(
    df: DataFrame,
    col: str,
    bits: DataFrame,
    num_bits: int,
    k: int = 5,
    out_col: str = "bloom_member",
) -> DataFrame:
    """Flag each row of ``df`` whose ``col`` the filter (``bits``,
    from ``bloom_build``) may contain: all ``k`` hash bits set.

    ``k`` BROADCAST hash joins (the bit table is <= num_bits rows ~
    kilobytes) — the 100 TB side stays map-only with ZERO shuffles,
    versus the full-corpus shuffle of an exact anti-join. No false
    negatives (a member's bits are all set by construction); false
    positives at the standard (1-e^{-kn/m})^k rate, so the intended
    use is PREFILTER: only rows flagged here proceed to the exact
    (shuffling) check, which now touches a sliver of the corpus.
    """
    out = _with_md5_words(df, col)
    hits: list[Column] = []
    for i in range(k):
        level = bits.select(F.col("bit").alias(f"__bit{i}")).withColumn(
            f"__hit{i}", F.lit(1)
        )
        out = out.join(
            F.broadcast(level),
            _word_position(i, num_bits) == F.col(f"__bit{i}"),
            "left",
        )
        hits.append(F.col(f"__hit{i}").isNotNull())
    member = functools.reduce(operator.and_, hits)
    drop = ["__m1", "__m2"] + [c for i in range(k) for c in (f"__bit{i}", f"__hit{i}")]
    return out.withColumn(out_col, member).drop(*drop)


def cms_join_size(sketch_a: DataFrame, sketch_b: DataFrame) -> DataFrame:
    """Join-cardinality estimate WITHOUT running the join: the
    count-min inner product. For sketches of the two join columns
    (same depth/width), |A ⋈ B| = Σ_key n_a(key)·n_b(key) is
    upper-bounded by min over rows d of Σ_b cnt_a[d,b]·cnt_b[d,b] —
    the AMS/CMS estimator (Cormode & Muthukrishnan 2005, §4.2).

    At 100 TB this answers "how big would this join be" from two
    kilobyte sketches — the input a planner (or a human deciding
    whether to even run the query) needs, at the cost of a metadata
    join of depth×width rows. Never underestimates; overshoot is the
    usual collision term ≤ ‖a‖₁‖b‖₁/width per row.

    Returns a single row ``(est BIGINT)``. Deterministic (md5
    positions), so exactly reproducible in SQL.
    """
    a = sketch_a.select("d", "b", F.col("cnt").alias("__ca"))
    b = sketch_b.select("d", "b", F.col("cnt").alias("__cb"))
    per_row = (
        a.join(b, on=["d", "b"])
        .groupBy("d")
        .agg(F.sum(F.col("__ca") * F.col("__cb")).alias("__dot"))
    )
    return per_row.agg(F.min("__dot").alias("est"))


# ---------------------------------------------------------------------------
# KMV (bottom-k / theta-style) distinct sketch with set operations
# ---------------------------------------------------------------------------

# 2^60 — kmv hashes are the first 15 md5 hex chars, uniform in
# [0, 2^60); 60 bits keeps every value positive in a signed BIGINT in
# both Spark and DuckDB (16 chars could flip the sign bit).
KMV_SPACE = float(1 << 60)


def kmv_hash(col: Column | str) -> Column:
    """Portable 60-bit uniform hash (md5 chars 1-15). DuckDB twin:
    ``('0x' || substr(md5(x), 1, 15))::BIGINT``. Shared across groups
    on purpose: set operations require the SAME h for the same value
    everywhere (unlike the seeded MinHash family)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def kmv_sketch(
    df: DataFrame,
    col: str,
    group_col: str,
    k: int = 128,
    stage1_buckets: int = 16,
) -> DataFrame:
    """Per-group KMV sketch: the ``k`` smallest distinct 60-bit hash
    values of ``col`` → rows ``(group_col, h, rank)`` with rank ≤ k.
    The k-th smallest of n uniform draws sits near k/n, so
    ``(k-1)/u_(k)`` estimates the distinct count (Bar-Yossef et al.
    2002; Apache DataSketches' theta sketch is the same bottom-k
    idea) — and because the hash is UNSEEDED, sketches of different
    groups live in the same hash space and compose into union /
    intersection / Jaccard estimates (``kmv_pair_estimates``).

    Scale shape (the reason this isn't one window): a single
    row_number window per group sorts the group's ENTIRE distinct-
    hash set on one partition — at 100 TB a billion-row sort per hot
    group. Instead: (1) ONE shuffle of the multiset (group, h) longs
    keyed by (group, h % stage1_buckets); (2) dense_rank ≤ k inside
    each bucket — dense_rank over the multiset equals rank over the
    DISTINCT values, so no separate corpus-wide distinct exchange is
    needed (measured: the fused form saves one full-width shuffle,
    ~0.8 s at sf0.1); duplicates of the surviving k values are
    dedup'd on the ≤ stage1_buckets·k·dup bounded remainder;
    (3) bottom-k per group over that tiny relation. Exact: every
    member of the true global bottom-k is in its bucket's bottom-k.
    Rank ties cannot happen in stage 3 (h is distinct after step 2).
    """
    from pyspark.sql import Window

    dh = df.select(F.col(group_col), kmv_hash(col).alias("h"))
    w1 = Window.partitionBy(
        group_col, F.pmod("h", F.lit(stage1_buckets))
    ).orderBy("h")
    w2 = Window.partitionBy(group_col).orderBy("h")
    s1 = (
        dh.withColumn("__dr", F.dense_rank().over(w1))
        .filter(F.col("__dr") <= k)
        .select(group_col, "h")
        .distinct()
    )
    return (
        s1.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(group_col, "h", "rank")
    )


def kmv_estimate(sketch: DataFrame, group_col: str, k: int = 128) -> DataFrame:
    """Distinct-count estimate per group from a ``kmv_sketch``:
    ``(k-1) · 2^60 / h_(k)``, or the EXACT count when the group has
    fewer than k distinct values (the sketch then IS the set).
    Relative error ~ 1/√k (≈9% at k=128). Returns
    ``(group_col, n_sk, est_n)``."""
    kth = sketch.groupBy(group_col).agg(
        F.max("h").alias("__h_k"), F.count(F.lit(1)).alias("n_sk")
    )
    est = F.when(F.col("n_sk") < k, F.col("n_sk").cast("double")).otherwise(
        F.lit(float(k - 1)) * F.lit(KMV_SPACE) / F.col("__h_k").cast("double")
    )
    return kth.select(group_col, "n_sk", est.alias("est_n"))


def kmv_pair_estimates(
    sketch: DataFrame, group_col: str, k: int = 128
) -> DataFrame:
    """Pairwise set-operation estimates from one shared-hash
    ``kmv_sketch`` relation: for every group pair (a < b), estimated
    |A|, |B|, |A∪B|, Jaccard and |A∩B| — the theta-sketch set-ops
    (DataSketches ThetaSketch intersect/union; Beyer et al. SIGMOD'07
    for the KMV union/Jaccard form). Union: merge the two bottom-k
    sets, take the bottom-k of the merge (exactly the sketch of A∪B
    because hashes are shared), apply the same (k-1)/u_(k) estimator.
    Intersection: ρ = |{h ∈ union bottom-k : h in BOTH sketches}|
    / min(k, |union bottom-k|) is an unbiased Jaccard estimate, so
    |A∩B| ≈ ρ·|A∪B| (when the union has fewer than k distinct hashes
    the sketch IS the union set and ρ is exact — two identical
    50-value groups report jaccard_est = 1.0, not 50/k).

    Scale: the inputs are SKETCHES — ≤ k rows per group — so every
    join here is over aggregate-sized relations (pairs × k rows, not
    corpus rows). The sketch is materialized ONCE up front
    (``tracked_persist``, the repo cache contract): five consumers
    below (both estimate sides, both union legs, the ρ count) would
    otherwise each re-derive the corpus→distinct→bottom-k chain —
    the plan-quality test pins the single corpus scan.
    Output: (src_a, src_b, est_a, est_b, est_union, jaccard_est,
    est_intersect), one row per unordered pair.
    """
    from pyspark.sql import Window

    from lightlane_spark.cache import tracked_persist

    # one exchange of ≤ k·|groups| rows: everything downstream reads
    # a single cached partition instead of 32-way tiny shuffles
    # kept (plan test pins one corpus scan); cold A/B sf0.1 local[4]: on 1.09 s, off 1.17 s
    sketch = tracked_persist(sketch.repartition(1))
    est = kmv_estimate(sketch, group_col, k)
    a = est.select(
        F.col(group_col).alias("src_a"), F.col("est_n").alias("est_a")
    )
    b = est.select(
        F.col(group_col).alias("src_b"), F.col("est_n").alias("est_b")
    )
    # all-pairs over the |groups|-row estimate relation — dim-tiny by
    # construction (sketches exist to make this side small)
    pairs = a.crossJoin(b).filter(F.col("src_a") < F.col("src_b"))

    j1 = pairs.select("src_a", "src_b").join(
        sketch.select(F.col(group_col).alias("src_a"), "h"), "src_a"
    )
    j2 = pairs.select("src_a", "src_b").join(
        sketch.select(F.col(group_col).alias("src_b"), "h"), "src_b"
    )
    # cnt=2 ⇔ h is in BOTH sketches (h is distinct within a sketch)
    merged = (
        j1.select("src_a", "src_b", "h")
        .union(j2.select("src_a", "src_b", "h"))
        .groupBy("src_a", "src_b", "h")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    wu = Window.partitionBy("src_a", "src_b").orderBy("h")
    uk = merged.withColumn("__ur", F.row_number().over(wu)).filter(
        F.col("__ur") <= k
    )
    pagg = uk.groupBy("src_a", "src_b").agg(
        F.max("h").alias("__h_uk"),
        F.count(F.lit(1)).alias("__n_u"),
        F.sum((F.col("__cnt") == 2).cast("bigint")).alias("__rho_cnt"),
    )
    est_union = F.when(
        F.col("__n_u") < k, F.col("__n_u").cast("double")
    ).otherwise(
        F.lit(float(k - 1)) * F.lit(KMV_SPACE) / F.col("__h_uk").cast("double")
    )
    # ρ denominator is the number of union-sketch rows actually kept:
    # k in the sampled regime, but __n_u when the union has fewer than
    # k distinct hashes (the sketch then IS the union set, and ρ must
    # be exact — dividing by k there biased jaccard_est/est_intersect
    # low: two identical 50-value groups estimated J≈50/128, not 1.0).
    jac = F.col("__rho_cnt").cast("double") / F.least(
        F.lit(float(k)), F.col("__n_u").cast("double")
    )
    return pagg.join(pairs, ["src_a", "src_b"]).select(
        "src_a",
        "src_b",
        "est_a",
        "est_b",
        est_union.alias("est_union"),
        jac.alias("jaccard_est"),
        (jac * est_union).alias("est_intersect"),
    )


def kmv_merge(
    *sketches: DataFrame, group_col: str = "src", k: int = 128
) -> DataFrame:
    """Merge per-batch KMV sketches into the sketch of the union —
    the mergeability that makes bottom-k the incremental-ingestion
    sketch (DataSketches theta union): because hashes are unseeded
    and shared, the bottom-k of the CONCATENATED sketch rows is
    exactly ``kmv_sketch`` of the concatenated inputs. Re-rank after
    the union; duplicates (the same h arriving from two batches)
    collapse first so ranks stay distinct. Runs on sketch-sized
    data: ≤ k·|groups|·|batches| rows, one tiny exchange."""
    from pyspark.sql import Window

    allrows = functools.reduce(
        DataFrame.unionByName,
        [s.select(group_col, "h") for s in sketches],
    ).distinct()
    w = Window.partitionBy(group_col).orderBy("h")
    return (
        allrows.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(group_col, "h", "rank")
    )
