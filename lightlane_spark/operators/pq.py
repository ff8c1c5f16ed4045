"""Product quantization (PQ) for embedding columns: the compression
path of billion-scale ANN (Jégou et al., "Product Quantization for
Nearest Neighbor Search", IEEE TPAMI 2011).

The vector space is split into ``m`` subspaces; each subspace gets its
own k-means codebook (fit on a seeded SAMPLE — same discipline as
``ivf_topk``); a vector is stored as ``m`` small codes (m bytes at
k≤256) instead of d floats — 32× smaller at d=64/m=8. Query scoring
is ADC (asymmetric distance computation): per query, one m×k lookup
table of query-subvector · centroid dots; a corpus vector's
approximate dot is then m table lookups — no decode, no float math
per dimension.

Scale shape:
  - fit: numpy k-means++/Lloyd per subspace over one seeded,
    size-capped driver sample (the FAISS discipline — codebook
    quality saturates at thousands of points per centroid, so the fit
    input stays ~10⁵ rows at any corpus size); never a distributed
    iteration.
  - encode: map-only Arrow pass (numpy argmin over k centers per
    subspace per batch); the corpus is written once as codes.
  - search: map-only ADC scan emitting per-batch top-``shortlist``
    candidates, a window to the global shortlist, then an EXACT
    cosine re-rank that touches only ``shortlist`` real vectors per
    query (join by id). Approximation lives in the shortlist;
    the final ordering is exact over it — the standard PQ + re-rank
    production shape.

Contract (driver-checkable the same way as ``ivf_topk``): recall@k vs
``topk_bruteforce`` ≥ threshold, emitted as booleans with a
literal-TRUE oracle; plus a reconstruction-error bound in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lightlane_spark.operators.similarity import _vec_double, dot, norm
from lightlane_spark.sources.localrel import local_df


def _kmeans_pp_lloyd(X, k: int, iters: int, rng):
    """Seeded numpy k-means (k-means++ init, Lloyd refinement) for one
    subspace's sample matrix. Deterministic given (X, k, seed)."""
    import numpy as np

    n = X.shape[0]
    if n == 0:
        raise ValueError("k-means fit sample is empty")
    if n < k:
        # fewer points than centers: every point is its own center,
        # remainder cycles — codes stay in [0, k) and assignment is
        # still nearest-point-exact
        import numpy as _np

        return _np.stack([X[i % n] for i in range(k)]).astype(float)
    # k-means++ seeding
    centers = [X[int(rng.integers(n))]]
    d2 = ((X - centers[0]) ** 2).sum(axis=1)
    for _ in range(1, k):
        tot = d2.sum()
        if tot <= 0:
            centers.append(X[int(rng.integers(n))])
            continue
        idx = int(np.searchsorted(np.cumsum(d2 / tot), rng.random()))
        idx = min(idx, n - 1)
        centers.append(X[idx])
        d2 = np.minimum(d2, ((X - centers[-1]) ** 2).sum(axis=1))
    C = np.stack(centers)
    for _ in range(iters):
        d2m = (C * C).sum(axis=1)[None, :] - 2.0 * (X @ C.T)
        assign = d2m.argmin(axis=1)
        for c in range(k):
            mask = assign == c
            if mask.any():
                C[c] = X[mask].mean(axis=0)
    return C


def pq_fit(
    df: DataFrame,
    m: int = 16,
    k: int = 16,
    vec_col: str = "embedding",
    max_fit_rows: int = 100_000,
    seed: int = 42,
    max_iter: int = 8,
) -> list[list[list[float]]]:
    """Fit ``m`` per-subspace codebooks of ``k`` centers each on a
    seeded, size-capped sample collected to the driver, with numpy
    k-means++/Lloyd per subspace.

    Driver-side fit is the standard PQ practice (FAISS trains its
    codebooks on an in-memory sample of ~10⁵-10⁶ vectors regardless of
    corpus size): codebook quality saturates at thousands of points
    per centroid, so at 100 TB the fit input is STILL ``max_fit_rows``
    rows — one seeded-sample job, never an iterative corpus pass. The
    distributed stages (encode, ADC scan) touch the full corpus
    exactly once each. Returns plain nested lists (m × k × d/m — a few
    KB, shipped to executors via task closures)."""
    import numpy as np

    v = df.select(_vec_double(vec_col).alias("__v"))
    # Bounded probe replaces the count()-then-collect() action pair
    # (r13, guide §1.2/§6): limit(max+1) fetches at most max_fit_rows+1
    # rows as Arrow batches — when the corpus fits, those rows ARE the
    # fit input (same partition-major order as the old collect(), so X
    # and the codebooks are bit-identical) and the separate full-corpus
    # count() pass disappears; when it does not fit, the probe
    # short-circuits after max+1 rows and the exact seeded-sample path
    # below runs unchanged.
    probe = v.limit(max_fit_rows + 1).toArrow()
    if probe.num_rows <= max_fit_rows:
        X = np.array(probe.column("__v").to_pylist(), dtype=np.float64)
    else:
        n_total = v.count()
        # oversample then cap for an exact bound (sample() is binomial)
        frac = min(1.0, 1.2 * max_fit_rows / n_total)
        X = np.array(
            v.sample(fraction=frac, seed=seed)
            .limit(max_fit_rows)
            .toArrow()
            .column("__v")
            .to_pylist(),
            dtype=np.float64,
        )
    if X.size == 0:
        raise ValueError("pq_fit: corpus sample is empty")
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books: list[list[list[float]]] = []
    for j in range(m):
        rng = np.random.default_rng(seed + j)
        C = _kmeans_pp_lloyd(
            np.ascontiguousarray(X[:, j * sub : (j + 1) * sub]), k, max_iter, rng
        )
        books.append([[float(x) for x in c] for c in C])
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Map-only Arrow encode: (id, codes array<int>) — code j is the
    nearest centroid of subspace j (Euclidean argmin, numpy)."""
    import numpy as np
    import pandas as pd

    m = len(codebooks)
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    sub = books[0].shape[1]

    src = df.select(F.col(id_col), _vec_double(vec_col).alias("__v"))

    def encode(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            vm = np.array(pdf["__v"].tolist(), dtype=np.float64)  # B×d
            codes = np.empty((vm.shape[0], m), dtype=np.int32)
            for j, bk in enumerate(books):
                x = vm[:, j * sub : (j + 1) * sub]  # B×sub
                # ||x-c||² argmin == argmin(||c||² - 2x·c): one B×k matmul
                d2 = (bk * bk).sum(axis=1)[None, :] - 2.0 * (x @ bk.T)
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), "codes": list(codes)}
            )

    return src.mapInPandas(encode, schema=f"{id_col} bigint, codes array<int>")


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 16,
    k_codebook: int = 16,
    shortlist: int = 200,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_fit_rows: int = 100_000,
    seed: int = 42,
    codebooks: list[list[list[float]]] | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """PQ-ADC top-k with exact re-rank.

    The probe set is collected (broadcast-small by contract, exactly
    as in ``topk_bruteforce_arrow``); the corpus codes are scanned
    map-only with per-batch shortlist pre-truncation, the global
    shortlist is an exact cosine re-rank over real vectors fetched by
    id. Pass precomputed ``codebooks``/``codes`` to amortize encode
    across query batches (the production shape — codes are written
    once). Returns (query_id, vec_id, rank, sim) with sim exact for
    everything ranked.
    """
    import numpy as np
    import pandas as pd

    if codebooks is None:
        codebooks = pq_fit(
            corpus, m=m, k=k_codebook, vec_col=vec_col,
            max_fit_rows=max_fit_rows, seed=seed,
        )
    if codes is None:
        codes = pq_encode(corpus, codebooks, id_col=id_col, vec_col=vec_col)
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    m = len(books)
    sub = books[0].shape[1]

    rows = (
        queries.select(
            F.col(id_col).cast("long").alias("qid"),
            _vec_double(vec_col).alias("qv"),
        ).collect()
    )
    if not rows:
        return corpus.sparkSession.createDataFrame(
            [], f"{query_id_col} long, {id_col} long, rank int, sim double"
        )
    qids = np.array([r.qid for r in rows], dtype=np.int64)
    qm = np.array([r.qv for r in rows], dtype=np.float64)  # Q×d
    # ADC lookup tables: per query, m×k of q_sub · center (dot ranks
    # like cosine once corpus-side norms are folded into re-rank)
    luts = np.stack(
        [qm[:, j * sub : (j + 1) * sub] @ books[j].T for j in range(m)],
        axis=1,
    )  # Q×m×k

    def adc_scan(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            cm = np.array(pdf["codes"].tolist(), dtype=np.int64)  # B×m
            cids = pdf[id_col].to_numpy(dtype=np.int64)
            # scores[q, b] = Σ_j luts[q, j, cm[b, j]]
            scores = np.zeros((len(qids), cm.shape[0]), dtype=np.float64)
            for j in range(m):
                scores += luts[:, j, :][:, cm[:, j]]
            B = scores.shape[1]
            top = min(shortlist, B)
            kth = -np.partition(-scores, top - 1, axis=1)[:, top - 1]
            qi, ci = np.nonzero(scores >= kth[:, None])
            yield pd.DataFrame(
                {
                    query_id_col: qids[qi],
                    id_col: cids[ci],
                    "__adc": scores[qi, ci],
                }
            )

    cand = codes.mapInPandas(
        adc_scan, schema=f"{query_id_col} long, {id_col} long, __adc double"
    )
    w_adc = Window.partitionBy(query_id_col).orderBy(
        F.col("__adc").desc(), F.col(id_col)
    )
    short = (
        cand.withColumn("__r", F.row_number().over(w_adc))
        .filter(F.col("__r") <= shortlist)
        .select(query_id_col, id_col)
    )
    # exact cosine re-rank over the shortlist only: fetch the
    # shortlisted real vectors by id (broadcast the id set — it is
    # Q×shortlist rows), score JVM-side with the deterministic folds
    c = corpus.select(F.col(id_col), _vec_double(vec_col).alias("__cv"))
    qdf = local_df(
        corpus.sparkSession,
        [(int(q), list(map(float, v))) for q, v in zip(qids, qm)],
        f"{query_id_col} long, __qv array<double>",
    )
    scored = (
        c.join(F.broadcast(short), on=id_col)
        .join(F.broadcast(qdf), on=query_id_col)
        .withColumn(
            "sim",
            dot(F.col("__qv"), F.col("__cv"))
            / (norm(F.col("__qv")) * norm(F.col("__cv"))),
        )
        .filter(~F.isnan(F.col("sim")))  # zero-norm vectors score nothing
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("sim").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "rank", "sim")
    )
