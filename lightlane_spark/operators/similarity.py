"""Similarity search over embedding columns (north-star M5):
brute-force cosine top-k (baseline) and LSH-bucketed ANN (scale path),
plus embedding-cosine near-duplicate detection.

Embeddings are ``array<float>`` columns; all vector math runs JVM-side
via ``F.zip_with`` + ``F.aggregate`` (no Python, no UDF). Dots are
accumulated in DOUBLE sequentially, so results are deterministic and
engine-comparable (DuckDB oracle: ``list_dot_product`` /
``list_cosine_similarity`` over ``embedding::DOUBLE[]``).

Scale design:
  - Brute force is O(Q·N): fine when the query side is small enough
    to broadcast (the common "probe set vs corpus" shape) — N stays
    partitioned, no shuffle of the corpus at all.
  - ``ann_topk_lsh`` buckets the corpus by random-hyperplane sign
    bits (h32-derived plane weights → deterministic, oracle-able) and
    probes only matching buckets: work drops from Q·N to Q·N/2^bits
    per probe with multi-probe recall control.
  - Near-dup uses block keys (here: an attribute; generally coarse
    LSH buckets) so the pair space is Σ|block|², never N².
"""

from __future__ import annotations

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from lightlane_spark.cache import session_memo, tracked_persist
from lightlane_spark.sources.localrel import local_df


def _vec_double(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Sequential-order double dot product (JVM, deterministic).

    Measured on Spark 4.1: the zip_with/aggregate fold evaluates at
    unrolled-arithmetic speed (a 4M-pair × 64-dim cross scored in
    ~50 ms either way), so there is no codegen penalty to the lambda
    form — keep it; it works for any vector width.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k: broadcast the query set, scan the corpus once.

    Returns (query_id, vec_id, rank, sim). Ties broken by corpus id —
    deterministic. The corpus is never shuffled; the only wide op is
    the per-query top-k, a window over Q·N rows partitioned by query
    (Q small ⇒ each partition is a corpus-sized scan; for huge Q use
    ``ann_topk_lsh``).
    """
    # norms computed once per vector — inside the pair loop they would
    # triple the flop count (Q·N pairs × 3 vector passes)
    q = queries.select(
        F.col(id_col).alias(query_id_col), _vec_double(vec_col).alias("__qv")
    ).withColumn("__qn", norm(F.col("__qv")))
    c = corpus.select(F.col(id_col), _vec_double(vec_col).alias("__cv")).withColumn(
        "__cn", norm(F.col("__cv"))
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .withColumn(
            "sim", dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn"))
        )
        # zero-norm vectors score nothing (same contract as the Arrow
        # variant): NaN compares greater-than-everything in Spark SQL,
        # so an unguarded desc sort would rank them first
        .filter(~F.isnan(F.col("sim")))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("sim").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "rank", "sim")
    )


def topk_bruteforce_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    positive_dot_only: bool = False,
    round_digits: int | None = None,
) -> DataFrame:
    """Exact top-k, Arrow-vectorized: the numpy form of
    ``topk_bruteforce`` for when the interpreted ``zip_with`` /
    ``aggregate`` lambdas become the bottleneck (higher-order
    functions are NOT whole-stage-codegen'd — each pair walks the
    array through an interpreted closure; a Q×B float64 matmul per
    Arrow batch is orders of magnitude cheaper).

    Scale shape: the probe set is collected (it must be broadcast-small
    by contract, exactly as in ``topk_bruteforce``) and closed over by
    a ``mapInPandas`` scan of the corpus — the corpus is never
    shuffled. Each batch emits only rows whose sim reaches the batch's
    per-query k-th best minus a rounding guard, so the final exact
    window sees ~batches × Q × k candidate rows instead of Q × N.

    Determinism: emitted ``dot``/norm values are float64; when vector
    components are integer-valued (hashed-BoW weights) every partial
    sum is exact, so results are bit-identical to a sequential-order
    JVM or SQL evaluation and the output stays oracle-hashable. The
    final ``sim`` (and its rounding, when ``round_digits`` is given)
    is computed JVM-side from the emitted exact components so
    numpy's round-half-even never touches the output.

    Returns (query_id, id, rank, sim) — same contract as
    ``topk_bruteforce``.
    """
    import numpy as np

    # Arrow transfer for the probe set (guide §6): same rows, same
    # order, same float64 bits as the pickled-Row collect — only the
    # driver-boundary serialization changes.
    qtab = queries.select(
        F.col(id_col).cast("long").alias("qid"),
        _vec_double(vec_col).alias("qv"),
    ).toArrow()
    if qtab.num_rows == 0:
        empty = corpus.sparkSession.createDataFrame(
            [], f"{query_id_col} long, {id_col} long, rank int, sim double"
        )
        return empty
    qids = qtab.column("qid").to_numpy().astype(np.int64)
    qm = np.array(qtab.column("qv").to_pylist(), dtype=np.float64)  # Q×D
    qn = np.sqrt((qm * qm).sum(axis=1))

    c = corpus.select(
        F.col(id_col).cast("long").alias("cid"), _vec_double(vec_col).alias("cv")
    )
    # guard: a kept/dropped pair can swap order after round_digits
    # rounding only if their sims are within half an ulp of the
    # rounding grid — keep everything within one grid step of the cut
    guard = 10.0 ** (-round_digits) if round_digits is not None else 0.0

    def score(batches):
        import pyarrow as pa

        for rb in batches:
            if rb.num_rows == 0:
                continue
            col = rb.column("cv")
            # Arrow list<double> is ONE contiguous values buffer plus
            # offsets (guide §4.2): when every row is a full D-length
            # non-null vector — the operator's contract, and what the
            # previous pandas path already required (np.array over
            # ragged object lists cannot build a (B, D) float64
            # matrix) — the (B, D) matrix is a zero-copy reshape of
            # the values buffer. The pandas route materialized B
            # Python lists of boxed floats per batch, which profiled
            # at ~90% of the scorer's executor time at the 10×
            # corpus (16.7 → 3.0 executor-seconds). Same float64
            # bits, same rows out.
            offs = np.asarray(col.offsets)
            widths = np.diff(offs)
            if (
                widths.size
                and (widths == widths[0]).all()
                and col.null_count == 0
                and col.values.null_count == 0
            ):
                vals = np.asarray(col.values, dtype=np.float64)
                cm = vals[offs[0] : offs[-1]].reshape(len(widths), widths[0])
            else:  # ragged/null rows: defensive per-row fallback
                cm = np.array(col.to_pylist(), dtype=np.float64)
            cids = np.asarray(rb.column("cid"), dtype=np.int64)
            cn = np.sqrt((cm * cm).sum(axis=1))
            dots = qm @ cm.T  # Q×B
            valid = np.isfinite(dots)
            if positive_dot_only:
                valid &= dots > 0
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = dots / (qn[:, None] * cn[None, :])
            valid &= np.isfinite(sims)  # zero-norm vectors score nothing
            sims = np.where(valid, sims, -np.inf)
            B = sims.shape[1]
            if B > k:
                kth = -np.partition(-sims, k - 1, axis=1)[:, k - 1]
            else:
                kth = sims.min(axis=1)
            keep = sims >= (kth[:, None] - guard)
            keep &= valid
            qi, ci = np.nonzero(keep)
            if qi.size == 0:
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(qids[qi], type=pa.int64()),
                    pa.array(cids[ci], type=pa.int64()),
                    pa.array(dots[qi, ci], type=pa.float64()),
                    pa.array(qn[qi], type=pa.float64()),
                    pa.array(cn[ci], type=pa.float64()),
                ],
                names=["qid", "cid", "dot", "qn", "cn"],
            )

    cand = c.mapInArrow(score, "qid long, cid long, dot double, qn double, cn double")
    sim = F.col("dot") / (F.col("qn") * F.col("cn"))
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    scored = cand.select(
        F.col("qid").alias(query_id_col),
        F.col("cid").alias(id_col),
        sim.alias("sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("sim").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "rank", "sim")
    )


def _hyperplane_bits_sql(vec_sql: str, dims: int, num_bits: int = 8, salt: str = "hp") -> str:
    """SQL text for the hyperplane bucket id (see ``hyperplane_bits``).

    Rendered as ONE expression string per call instead of composing
    hundreds of Column objects: every Python-side Column op is a py4j
    round-trip, and at num_bits × num_tables planes that plan-build
    overhead (~2 s) dwarfs the query itself. Fixed lambda variable
    names also keep the generated code text stable across invocations,
    so whole-stage-codegen cache hits instead of recompiling.
    """
    from lightlane_spark.functions.hashing import H32_SPACE
    import hashlib

    terms = []
    for p in range(num_bits):
        weights = []
        for d in range(dims):
            hx = hashlib.md5(f"{salt}:{p}:{d}".encode()).hexdigest()[:8]
            weights.append(int(hx, 16) / H32_SPACE - 0.5)
        warr = "array(" + ",".join(f"{w!r}D" for w in weights) + ")"
        proj = f"aggregate(zip_with({warr}, {vec_sql}, (w, x) -> w * x), 0D, (acc, v) -> acc + v)"
        terms.append(f"(CASE WHEN {proj} > 0 THEN {1 << p}L ELSE 0L END)")
    return "(" + " + ".join(terms) + ")"


def hyperplane_bits_duckdb_sql(
    vec_sql: str, dims: int, num_bits: int = 8, salt: str = "hp"
) -> str:
    """DuckDB rendering of the SAME hyperplane bucket id — the oracle
    side of ``hyperplane_bits``.

    Portability argument (why the float projections hash-match):
    Spark computes each plane's projection as a sequential left fold
    ``aggregate(zip_with(w, v, (w,x) -> w*x), 0D, (acc,t) -> acc+t)``
    = ((0 + w₀v₀) + w₁v₁) + …; this renders the unrolled
    left-associated chain ``w₀*v[1] + w₁*v[2] + …`` which evaluates in
    the identical order (and 0 + w₀v₀ ≡ w₀v₀ exactly in IEEE 754).
    The weight literals are shortest-repr Python floats parsed to the
    same doubles by both engines, and the vector elements are the same
    float32→double widenings — so every intermediate double is
    bit-identical and the ``> 0`` sign test can never disagree.
    ``vec_sql`` must be a DOUBLE[] expression (e.g.
    ``embedding::DOUBLE[]``); DuckDB lists are 1-indexed.
    """
    from lightlane_spark.functions.hashing import H32_SPACE
    import hashlib

    terms = []
    for p in range(num_bits):
        prods = []
        for d in range(dims):
            hx = hashlib.md5(f"{salt}:{p}:{d}".encode()).hexdigest()[:8]
            w = int(hx, 16) / H32_SPACE - 0.5
            prods.append(f"{w!r} * ({vec_sql})[{d + 1}]")
        proj = " + ".join(prods)
        terms.append(f"(CASE WHEN ({proj}) > 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def hyperplane_bits(
    vec: Column | str, dims: int, num_bits: int = 8, salt: str = "hp"
) -> Column:
    """Random-hyperplane LSH bucket id from h32-derived plane weights.

    Plane p's weight for dimension d is ``h32('{salt}:{p}:{d}')``
    centered to [-0.5, 0.5) — deterministic, so any engine rebuilds
    the same planes. Bucket = Σ 2^p · [dot(plane_p, v) > 0].

    ``vec`` must be a column NAME (or a simple SQL expression string)
    — the bucket is built as one SQL expression for plan-build speed
    (see ``_hyperplane_bits_sql``).
    """
    if isinstance(vec, Column):
        raise TypeError(
            "hyperplane_bits takes a column name / SQL string, not a Column "
            "(the expression is rendered as SQL text — pass e.g. '__cv')"
        )
    sql = _hyperplane_bits_sql(vec, dims, num_bits, salt)
    # Parse once per session (r13): Catalyst parses this ~6 KB
    # expression in ~50 ms, and a multi-table LSH query builds 8 of
    # them PER RUN — ~0.4 s of pure driver-side parsing. The parsed
    # Column is an immutable expression tree, reusable across plans.
    return session_memo(
        SparkContext._active_spark_context, ("hyperplane", sql), lambda: F.expr(sql)
    )


def _table_salt(t: int) -> str:
    # table 0 keeps the historical salt so single-table buckets are
    # unchanged across versions
    return "hp" if t == 0 else f"hp{t}"


def ann_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    dims: int,
    k: int = 5,
    num_bits: int = 8,
    multiprobe: int = 1,
    num_tables: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: compare only within the query's hyperplane
    bucket(s). Returns (query_id, vec_id, rank, sim).

    Two recall dials, both scaling the candidate count rather than the
    corpus pass:
      - ``multiprobe``: probe every bucket within that Hamming
        distance of the query's bucket (1 → num_bits+1 probes,
        2 → + C(num_bits,2)) — near-boundary vectors land in a
        neighbor bucket. Probe count scales the (broadcast) query
        side only.
      - ``num_tables``: L independent hyperplane tables; a true
        neighbor is missed only if it misses in EVERY table, so
        recall = 1-(1-q)^L for per-table recall q. The corpus is
        hashed L times map-only (explode ×L), never re-shuffled.

    Candidates colliding in several tables are deduped on
    (query, candidate) before ranking.
    """
    c = corpus.select(F.col(id_col), _vec_double(vec_col).alias("__cv"))
    c_tb = F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                hyperplane_bits("__cv", dims, num_bits, salt=_table_salt(t))
                .cast("long")
                .alias("bucket"),
            )
            for t in range(num_tables)
        ]
    )
    c = (
        c.withColumn("__tb", F.explode(c_tb))
        .select(id_col, "__cv", F.col("__tb.tbl").alias("tbl"), F.col("__tb.bucket").alias("bucket"))
        .withColumn("__cn", norm(F.col("__cv")))
    )

    q = queries.select(
        F.col(id_col).alias(query_id_col), _vec_double(vec_col).alias("__qv")
    )
    # Materialize each table's bucket as a column BEFORE building the
    # probe array: embedding the num_bits-aggregate bucket expression
    # inside every probe struct would put ~(probes × num_bits) aggregate
    # trees in one projection — a codegen blowup that dominates wall
    # time (measured 3× on the whole query). ONE select for all
    # tables (r13): a per-table withColumn chain re-analyzes the plan
    # — with t giant bucket expressions already in it — at every
    # step, quadratic analyzer work that showed up as ~0.9 s of
    # driver-side build per bench rep.
    q = q.select(
        "*",
        *[
            hyperplane_bits("__qv", dims, num_bits, salt=_table_salt(t)).alias(
                f"__b{t}"
            )
            for t in range(num_tables)
        ],
    )
    probe_structs = []
    for t in range(num_tables):
        b = F.col(f"__b{t}")
        probes = [b]
        if multiprobe >= 1:
            probes += [b.bitwiseXOR(F.lit(1 << i)) for i in range(num_bits)]
        if multiprobe >= 2:
            probes += [
                b.bitwiseXOR(F.lit((1 << i) | (1 << j)))
                for i in range(num_bits)
                for j in range(i + 1, num_bits)
            ]
        probe_structs += [
            F.struct(F.lit(t).alias("tbl"), p.cast("long").alias("bucket"))
            for p in probes
        ]
    q = (
        q.withColumn("__tb", F.explode(F.array_distinct(F.array(*probe_structs))))
        .select(query_id_col, "__qv", F.col("__tb.tbl").alias("tbl"), F.col("__tb.bucket").alias("bucket"))
        .withColumn("__qn", norm(F.col("__qv")))
    )
    scored = (
        F.broadcast(q)
        .join(c, on=["tbl", "bucket"])
        .withColumn(
            "sim", dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn"))
        )
        # sim is deterministic per pair, so distinct collapses the
        # ≤ num_tables copies of a multi-table collision
        .select(query_id_col, id_col, "sim")
        .distinct()
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("sim").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "rank", "sim")
    )


def kmeans_assign(
    corpus: DataFrame,
    n_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
    fit_fraction: float = 0.5,
    cluster_col: str = "__cluster",
):
    """Shared k-means partitioner for IVF and SemDeDup: fit centroids
    on a seeded driver sample (numpy k-means++/Lloyd, bounded at 100k
    rows — the FAISS discipline, see ``ivf_topk``), then assign the
    FULL corpus in one map-only Arrow argmin pass. Returns
    ``(assigned_df[(id, __cv, cluster)], centers_ndarray)``.
    Deterministic: seeded sample, seeded init."""
    import numpy as np

    from lightlane_spark.operators.pq import _kmeans_pp_lloyd

    c = corpus.select(F.col(id_col), _vec_double(vec_col).alias("__cv"))
    fit_src = c.select("__cv")
    if fit_fraction < 1.0:
        fit_src = fit_src.sample(fraction=fit_fraction, seed=seed)
    # Arrow transfer (guide §6): the sample crosses to the driver as
    # Arrow batches instead of pickled Row objects — same rows in the
    # same partition-major order, same float64 bits, so the fitted
    # centroids are identical; at the 100k-row bound the pickle path
    # moves ~6M boxed Python floats.
    X = np.array(
        fit_src.limit(100_000).toArrow().column("__cv").to_pylist(),
        dtype=np.float64,
    )
    if X.size == 0:
        raise ValueError("kmeans_assign: corpus sample is empty")
    rng = np.random.default_rng(seed)
    C = _kmeans_pp_lloyd(X, n_centroids, max_iter, rng)

    def assign(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            vm = np.array(pdf["__cv"].tolist(), dtype=np.float64)
            d2 = (C * C).sum(axis=1)[None, :] - 2.0 * (vm @ C.T)
            out = pdf[[id_col, "__cv"]].copy()
            out[cluster_col] = d2.argmin(axis=1).astype(np.int32)
            yield out

    assigned = c.mapInPandas(
        assign, schema=f"{id_col} bigint, __cv array<double>, {cluster_col} int"
    )
    return assigned, C


def semantic_dedup(
    df: DataFrame,
    n_centroids: int = 8,
    threshold: float = 0.999,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 4,
    fit_fraction: float = 0.5,
    max_block_size: int | None = 10_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): embedding-space near-duplicate
    removal by clustering first, comparing only WITHIN clusters.
    K-means partitions the corpus (sample fit + one assignment pass,
    via ``kmeans_assign``); within each cluster, cosine ≥ threshold
    pairs expand in-row (``cosine_neardup_pairs``); connected
    components collapse duplicate groups and the min-id member
    survives. Returns surviving ``(id_col, cluster)`` rows.

    vs ``cosine_neardup_lsh``: data-adaptive blocks (centroids follow
    the density, so a skewed corpus doesn't pile into one hyperplane
    bucket) at the price of a model artifact and boundary misses —
    near-dups straddling a centroid boundary aren't compared, the
    same recall tradeoff the paper accepts. At 100 TB: fit is
    driver-bounded, assignment map-only, pair expansion Σ|cluster|²
    capped by ``max_block_size``, components O(log n) rounds on the
    pair set only.
    """
    assigned, _ = kmeans_assign(
        df,
        n_centroids,
        id_col=id_col,
        vec_col=vec_col,
        seed=seed,
        max_iter=max_iter,
        fit_fraction=fit_fraction,
        cluster_col="__cluster",
    )
    # kept (off re-reads embeddings); cold A/B sf0.1 local[4]: on 0.71 s, off 0.93 s
    assigned = assigned.transform(tracked_persist)
    pairs = cosine_neardup_pairs(
        assigned,
        "__cluster",
        threshold=threshold,
        id_col=id_col,
        vec_col="__cv",
        max_block_size=max_block_size,
    ).select("id_a", "id_b")

    from lightlane_spark.operators.clustering import dedup_by_components

    # pairs come out canonical (id_a < id_b: in-row suffix expansion of
    # an id-sorted block) → skip the component-canonicalization round
    survivors = dedup_by_components(
        assigned, pairs, id_col=id_col, assume_canonical=True
    )
    return survivors.select(id_col, F.col("__cluster").alias("cluster"))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
    max_iter: int = 20,
    fit_fraction: float = 0.5,
) -> DataFrame:
    """IVF (inverted-file) ANN: k-means-partition the corpus, probe
    only the ``n_probe`` nearest centroids per query.

    ``max_iter`` bounds the k-means refinement; ``fit_fraction`` and
    the 100k-row cap bound WHAT it sees — a seeded sample collected to
    the driver and fit with numpy k-means++/Lloyd (the FAISS
    discipline, shared with ``operators/pq.pq_fit``: centroid quality
    saturates at thousands of points per centroid, so the fit input
    stays bounded at any corpus size and costs ONE Spark job — the
    previous ``pyspark.ml`` fit scheduled ~15 jobs of init+iteration
    passes). The full corpus is touched exactly once, for assignment
    (map-only Arrow argmin). With a generous ``n_probe`` recall is
    insensitive to centroid convergence anyway. ``fit_fraction >= 1``
    fits on everything up to the row cap (small-data/debug mode).

    The scale path when hyperplane buckets are too coarse: centroids
    adapt to the data distribution, and the corpus is scanned
    ~n_probe/n_centroids of the time per query. Deterministic: seeded
    sample, seeded init. At 100 TB: sample-fit, broadcast the centers,
    one assignment pass. Returns (query_id, vec_id, rank, sim).
    """
    assigned, C = kmeans_assign(
        corpus,
        n_centroids,
        id_col=id_col,
        vec_col=vec_col,
        seed=seed,
        max_iter=max_iter,
        fit_fraction=fit_fraction,
    )

    centers = [list(map(float, ctr)) for ctr in C]
    centers_df = local_df(
        queries.sparkSession,
        [(i, centers[i]) for i in range(len(centers))],
        "__cluster int, __center array<double>",
    )
    q = queries.select(
        F.col(id_col).alias(query_id_col), _vec_double(vec_col).alias("__qv")
    )
    # rank centroids per query by cosine, keep n_probe nearest
    qc = q.crossJoin(F.broadcast(centers_df)).withColumn(
        "__csim",
        dot(F.col("__qv"), F.col("__center"))
        / (norm(F.col("__qv")) * norm(F.col("__center"))),
    )
    wq = Window.partitionBy(query_id_col).orderBy(F.col("__csim").desc(), F.col("__cluster"))
    probes = (
        qc.withColumn("__pr", F.row_number().over(wq))
        .filter(F.col("__pr") <= n_probe)
        .select(query_id_col, "__qv", "__cluster")
    )
    scored = (
        F.broadcast(probes.withColumn("__qn", norm(F.col("__qv"))))
        .join(assigned.withColumn("__cn", norm(F.col("__cv"))), on="__cluster")
        .withColumn(
            "sim", dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn"))
        )
        .filter(~F.isnan(F.col("sim")))  # zero-norm vectors score nothing
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("sim").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "rank", "sim")
    )


def cosine_neardup_lsh(
    df: DataFrame,
    dims: int,
    threshold: float = 0.95,
    num_bits: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs with self-contained LSH blocking: the
    block key is the vector's own hyperplane bucket (no label column
    needed — the 100 TB shape). Near-identical vectors project to the
    same side of every plane, so true near-dups (sim ≥ ~0.95) share a
    bucket with high probability; pair count is Σ|bucket|² ≈ N²/2^bits
    for uniform data. Approximate (bucket-boundary pairs can be
    missed); the exact-within-block form is ``cosine_neardup_pairs``.
    """
    blocked = df.withColumn(
        "__blk", hyperplane_bits(vec_col, dims, num_bits, salt="nd")
    )
    return cosine_neardup_pairs(
        blocked, "__blk", threshold=threshold, id_col=id_col, vec_col=vec_col
    )


def cosine_neardup_pairs(
    df: DataFrame,
    block_col: str,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_block_size: int | None = 10_000,
) -> DataFrame:
    """Embedding near-dup pairs within blocks: (id_a, id_b, sim).

    Pair count stays Σ|block|²; at corpus scale the block key is a
    coarse LSH bucket rather than a label (``cosine_neardup_lsh``
    wires that up). Contract: blocks of ≥2 and ≤``max_block_size``
    members, id-ascending pair canonicalization, float64 cosine, NaN
    pairs dropped — the same as ``_cosine_neardup_pairs_sql``, the
    bit-exact reference the parity tests compare against.

    applyInPandas per block, so the Σ|block|²·dims work runs in numpy
    instead of through Catalyst's INTERPRETED higher-order lambda
    evaluator (transform/aggregate lambdas never enter whole-stage
    codegen — profiled 1.6 s of a 2.0 s sf0.1 run just expanding 400k
    pairs × 64-dim folds; the matmul form does the same arithmetic in
    ~0.1 s). Per block: sort by id (pair canonicalization identical to the SQL
    form's array_sort), then a TILED V·Vᵀ Gram matmul in float64 —
    ``_TILE`` rows of the Gram matrix at a time, so peak memory is
    ``_TILE × |block| × 8 B`` (≈ 40 MB at the 10 k cap) instead of
    the |block|² ≈ 800 MB a one-shot matmul needs; several capped
    blocks can expand concurrently on one executor without OOM. The
    pair set is unchanged (each tile emits exactly its upper-triangle
    slice). Blocks of <2 or >``max_block_size`` members emit nothing
    — the same drop contract as the SQL form.

    Exactness: BLAS sums in arbitrary order, so the matmul sims can
    differ from the SQL form's left-associated fold in the last ulp —
    enough to flip a pair sitting exactly on the threshold (or on a
    6dp rounding midpoint) between engines. The matmul is therefore
    only the CANDIDATE filter (threshold widened by 1e-9, far beyond
    any BLAS/fold divergence); every surviving candidate's sim is
    then recomputed as the exact left fold — a dims-step vectorized
    accumulation whose float64 operation order is identical to
    ``dot()``/``norm()`` and the DuckDB oracle — and the real
    threshold applies to THAT value. Survivors are few (near-dups),
    so the exact pass is O(|candidates|·dims) and the output is
    bit-identical to the SQL form (the parity test pins this). The
    exact pass is itself slabbed (1M pairs at a time), so even a
    permissive threshold that keeps ~|block|²/2 candidates cannot
    blow past the tile-bounded memory budget."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import StructField, StructType, DoubleType

    id_type = df.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField("id_a", id_type),
            StructField("id_b", id_type),
            StructField("sim", DoubleType()),
        ]
    )
    empty = pd.DataFrame({"id_a": [], "id_b": [], "sim": []})

    def expand(pdf: pd.DataFrame) -> pd.DataFrame:
        # size contracts are judged on the FULL block (as in the SQL
        # form, where a NULL-vector member still counts toward
        # max_block_size); NULL vectors then drop — the SQL form's
        # zip_with/aggregate yields a NULL sim that the threshold
        # filter discards, so dropping the member is the same pair
        # set (np.stack would raise on None instead)
        if len(pdf) < 2 or (max_block_size is not None and len(pdf) > max_block_size):
            return empty
        pdf = pdf[pdf[vec_col].notna()]
        n_rows = len(pdf)
        if n_rows < 2:
            return empty
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        ids = pdf[id_col].to_numpy()[order]
        V = np.stack(
            [np.asarray(v, dtype=np.float64) for v in pdf[vec_col].to_numpy()[order]]
        )
        dims = V.shape[1]
        # exact left-fold norms: acc = acc + v*v per dim, in dim order
        # — the same float64 op sequence as norm() / the DuckDB fold
        nacc = np.zeros(n_rows)
        for d in range(dims):
            nacc = nacc + V[:, d] * V[:, d]
        norms = np.sqrt(nacc)

        _TILE = 512  # Gram rows per slab: 512 × 10k × 8 B = 40 MB peak
        cand_i: list[np.ndarray] = []
        cand_j: list[np.ndarray] = []
        for i0 in range(0, n_rows - 1, _TILE):
            i1 = min(i0 + _TILE, n_rows)
            # candidate filter only — BLAS order, threshold widened
            g = (V[i0:i1] @ V[i0:].T) / np.outer(norms[i0:i1], norms[i0:])
            ti, tj = np.nonzero(g >= threshold - 1e-9)
            keep = tj > ti  # strict upper triangle (both offset by i0)
            cand_i.append(ti[keep] + i0)
            cand_j.append(tj[keep] + i0)
        if not cand_i:
            return empty
        ci = np.concatenate(cand_i)
        cj = np.concatenate(cand_j)
        if ci.size == 0:
            return empty
        # exact pass: left-fold dot per candidate pair, vectorized
        # ACROSS pairs but sequential over dims — bit-identical to the
        # SQL form's aggregate(zip_with(...)) and the DuckDB oracle.
        # Slabbed over candidates (r6 ADVICE): a permissive threshold
        # on a dense capped block can yield ~|block|²/2 candidates, so
        # a one-shot V[ci] gather would cost |cand|×dims×16 B (tens of
        # GB at the 10k cap) — slabs keep peak memory threshold-
        # independent (~1M pairs × 64 dims × 16 B ≈ 1 GB worst case,
        # and near-zero at the ≥0.9 thresholds the repo uses).
        _PAIR_SLAB = 1 << 20
        out_a: list[np.ndarray] = []
        out_b: list[np.ndarray] = []
        out_s: list[np.ndarray] = []
        for p0 in range(0, ci.size, _PAIR_SLAB):
            si, sj = ci[p0 : p0 + _PAIR_SLAB], cj[p0 : p0 + _PAIR_SLAB]
            A, B = V[si], V[sj]
            acc = np.zeros(si.size)
            for d in range(dims):
                acc = acc + A[:, d] * B[:, d]
            s = acc / (norms[si] * norms[sj])
            final = (s >= threshold) & ~np.isnan(s)
            out_a.append(ids[si[final]])
            out_b.append(ids[sj[final]])
            out_s.append(s[final])
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "sim": np.concatenate(out_s),
            }
        )

    return (
        df.select(F.col(block_col).alias("__blk"), id_col, vec_col)
        .groupBy("__blk")
        .applyInPandas(expand, schema=out_schema)
    )


def _cosine_neardup_pairs_sql(
    df: DataFrame,
    block_col: str,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_block_size: int | None = 10_000,
) -> DataFrame:
    """The bit-exact reference for ``cosine_neardup_pairs``, same
    contract: one groupBy collects each block's (id, norm, vector)
    structs, then pairs expand IN-ROW (each member against its suffix)
    with the sim computed inside the nested lambda — sequential-fold
    dot, exactly the DuckDB oracle's left-associated fold. Memory per
    block row is |block|×dims×8 B — ``max_block_size`` (default 10k ≈
    5 MB at 64 dims) drops degenerate blocks, the same cap-and-log
    tradeoff as LSH bucket caps. The parity tests compare the Arrow
    form against it."""
    v = df.select(
        F.col(block_col).alias("__blk"),
        F.struct(
            F.col(id_col).alias("id"),
            norm(_vec_double(vec_col)).alias("n"),
            _vec_double(vec_col).alias("v"),
        ).alias("__m"),
    )
    blocks = v.groupBy("__blk").agg(F.array_sort(F.collect_list("__m")).alias("ms"))
    blocks = blocks.filter(F.size("ms") >= 2)
    if max_block_size is not None:
        blocks = blocks.filter(F.size("ms") <= max_block_size)
    sim = lambda a, b: dot(a["v"], b["v"]) / (a["n"] * b["n"])  # noqa: E731
    pairs = F.flatten(
        F.transform(
            F.col("ms"),
            lambda a, i: F.transform(
                F.slice(F.col("ms"), i + 2, F.size(F.col("ms"))),
                lambda b: F.struct(
                    a["id"].alias("id_a"), b["id"].alias("id_b"), sim(a, b).alias("sim")
                ),
            ),
        )
    )
    return (
        blocks.select(F.explode(pairs).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"), F.col("p.sim").alias("sim"))
        .filter((F.col("sim") >= threshold) & ~F.isnan(F.col("sim")))
    )
