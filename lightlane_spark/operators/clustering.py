"""Connected components for near-duplicate clustering.

The missing last stage of a fuzzy-dedup pipeline: LSH/SimHash emit
verified PAIRS, but dedup needs CLUSTERS (a, b near-dup and b, c
near-dup => keep one of {a, b, c}). Pairs are edges; clusters are
connected components; the canonical doc is the min id per component.

Algorithm: alternating large-star / small-star contraction (Kiveris
et al., "Connected Components in MapReduce and Beyond", SoCC'14).
Each round is two groupBy shuffles over the edge set; the edge set
only shrinks (edges re-point at smaller labels), and convergence is
O(log n) rounds even for pathological path graphs — this is the
published cluster-scale algorithm, unlike naive label propagation
whose round count is the graph diameter.

Scale notes (100 TB corpus => billions of pairs):
  - All state is the edge list itself — no driver-side structures;
    the per-round actions are a count + hash checksum (two scalars).
  - ``localCheckpoint`` truncates lineage each round so the plan does
    not grow with iteration count (and AQE re-plans each round from
    the materialized size).
  - Near-dup graphs are overwhelmingly tiny cliques + isolated
    nodes; rounds-to-converge is 2-3 in practice. The iteration cap
    is a safety rail, not a tuning knob.

Reference parity note: the reference (RickyXuPengfei/LightLane) has
no clustering operator; this is a north-star M5 extension
(SURVEY.md section 7.2 M5, dedup_fuzzy at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lightlane_spark.cache import tracked_persist


def _canonical_edges(edges: DataFrame, id_a: str, id_b: str) -> DataFrame:
    """Undirected edge list -> distinct (u, v) with u < v, no loops."""
    return (
        edges.select(
            F.least(F.col(id_a), F.col(id_b)).alias("u"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def symmetrize(edges: DataFrame, u: str = "u", v: str = "v") -> DataFrame:
    """Undirected → directed-both-ways in ONE pass: each edge row
    explodes into (u,v) and (v,u) in-row. The ``e ∪ e.swap`` union
    form re-runs the edge list's ENTIRE lineage twice — invisible
    when the input is a checkpoint, a full second MinHash-chain
    derivation when it is not (r8 lineage audit: pagerank_neardup,
    two_hop_features)."""
    return edges.select(
        F.explode(
            F.array(
                F.struct(F.col(u).alias("u"), F.col(v).alias("v")),
                F.struct(F.col(v).alias("u"), F.col(u).alias("v")),
            )
        ).alias("__e")
    ).select(F.col("__e.u").alias(u), F.col("__e.v").alias(v))


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: m = min(N(u) + {u}); re-point every LARGER
    neighbor at m. Emits (w, m) with m <= u < w.

    WINDOW form, no arrays (r8 skew smoke): the previous
    collect_set → explode form was QUADRATIC in the hottest degree —
    the per-row ``least(array_min(ns), u)`` projection sits above the
    Generate, so a 500k-degree hub re-scanned its 500k-element array
    once per exploded row (measured 6.9/21.5/56.4 s at hub degree
    50k/100k/200k — O(d²); the 1M-edge skew smoke took 19 min
    end-to-end). Here ``min(v) over (partition by u)`` streams each
    partition once: O(d log d) for the sort, O(d) memory-bounded
    aggregation, no per-key array buffer to OOM on a power-law hub.
    """
    sym = symmetrize(edges)
    w = Window.partitionBy("u")
    return (
        sym.withColumn("m", F.least(F.min("v").over(w), F.col("u")))
        .filter(F.col("v") > F.col("u"))
        .select(F.col("m").alias("u"), F.col("v").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient each edge at its larger endpoint v (input satisfies
    u < v); m = min of v's smaller neighbors; re-point v and all its
    smaller neighbors at m.

    Same window rewrite as ``_large_star`` (collect_set/array_union/
    explode were quadratic on hot nodes): ``min(u) over (partition by
    v)`` is each node's re-point target; every (v, u) row emits its u,
    and the first row per partition (row_number over the same key)
    additionally emits v itself via an in-row explode — one exchange,
    no arrays. Output may carry duplicate (m, w) rows when the input
    had duplicates; the caller's ``.distinct()`` (already required by
    the contraction loop) collapses them, and ``connected_components``
    fingerprints the distinct set, so semantics are unchanged."""
    wo = Window.partitionBy("v").orderBy("u")
    wfull = wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        edges.withColumn("m", F.min("u").over(wfull))
        .withColumn("__rn", F.row_number().over(wo))
        .select(
            "m",
            F.explode(
                F.when(
                    F.col("__rn") == 1, F.array(F.col("u"), F.col("v"))
                ).otherwise(F.array(F.col("u")))
            ).alias("w"),
        )
        .filter(F.col("w") != F.col("m"))
        .select(F.col("m").alias("u"), F.col("w").alias("v"))
    )


def _driver_union_find(rows) -> list[tuple[int, int]]:
    """Union-find with union-by-min root: the root of every tree stays
    the minimum id of its component (attaching the larger root under
    the smaller preserves the invariant), so find() yields exactly the
    distributed algorithm's min-id component labels."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in rows:
        u, v = row[0], row[1]
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    return [(n, find(n)) for n in parent]


def connected_components(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 25,
    assume_canonical: bool = False,
    driver_edge_cap: int | None = 1_000_000,
) -> DataFrame:
    """(id, component) for every node in ``edges``; component = min
    node id in the node's connected component.

    Two regimes, chosen by the canonical edge COUNT (one cheap action
    over the persisted edge set):

    - ``<= driver_edge_cap`` edges: collect and union-find on the
      driver (a bounded-size contract like the broadcast-small probe
      sets — 1M edges ≈ 16 MB). A near-dup graph that small would
      otherwise pay 2-3 contraction rounds of pure job-scheduling
      overhead; union-by-min root reproduces the identical min-id
      labels. Pass ``driver_edge_cap=None`` (or 0) to force the
      distributed path.
    - larger: alternating large-star/small-star contraction, one
      large+small round per iteration, converging when the edge set's
      (count, checksum) fingerprint is stable. Each round materializes
      via ``localCheckpoint`` — required for any iterative DataFrame
      algorithm: it cuts the exponentially-growing lineage and gives
      AQE true sizes to re-plan from. At 100 TB (billions of pairs)
      this is the only regime that runs; driver state stays two
      scalars per round.

    ``assume_canonical=True`` skips the canonicalization shuffle for
    edge lists already distinct with id_a < id_b (what every pair
    operator in fuzzy_dedup/similarity emits).
    """
    if assume_canonical:
        canon = edges.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
    else:
        canon = _canonical_edges(edges, id_a, id_b)
    if driver_edge_cap:
        # kept (feeds the probe and, above the cap, the checkpoint); cold A/B sf0.1 local[4]:
        # neardup_dedup on 1.54 s, off 1.53 s; semantic_dedup on 0.69 s, off 0.59 s
        canon = canon.transform(tracked_persist)
        # ONE bounded action decides the regime AND fetches the edges
        # (r13, guide §1.2): the former count()-then-collect() pair
        # cost two full Catalyst passes over the same near-identical
        # tree per query. limit(cap+1) keeps the driver-safety
        # contract — at most cap+1 rows ever cross to the driver —
        # and when the graph fits, the rows ARE the whole edge set
        # (union-find is order-independent: union-by-min-root yields
        # min-id labels under any edge order).
        rows = canon.limit(driver_edge_cap + 1).collect()
        if len(rows) <= driver_edge_cap:
            pairs = _driver_union_find(rows)
            canon.unpersist()
            from lightlane_spark.sources.localrel import local_df

            # single-Arrow-batch local relation: the pickled-RDD
            # createDataFrame path pays one Python-worker task per
            # core on every downstream action (sources/localrel.py)
            return local_df(
                edges.sparkSession, pairs, "id bigint, component bigint"
            )
    # eager=False is not lazy under AQE: building each round's frame
    # still runs every shuffle and broadcast stage below the checkpoint;
    # only the final block-storing stage waits for the fingerprint
    # action right below (lineage is truncated either way).
    e = canon.localCheckpoint(eager=False)
    prev = None
    for _ in range(max_rounds):
        e = _small_star(_large_star(e)).distinct().localCheckpoint(eager=False)
        fp = e.agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum(F.hash("u", "v").cast("long")), F.lit(0)).alias("s"),
        ).first()
        cur = (fp["n"], fp["s"])
        if cur == prev:
            break
        prev = cur
    if driver_edge_cap:
        canon.unpersist()  # round-1 checkpoint has materialized by now
    # Fixpoint edges are stars (root=u < leaf=v). Component of a leaf
    # is its root; roots (and only roots) never appear as v.
    leaves = e.select(F.col("v").alias("id"), F.col("u").alias("component"))
    roots = e.select(F.col("u").alias("id")).distinct().withColumn(
        "component", F.col("id")
    )
    return leaves.unionByName(roots).distinct()


def assign_components(
    df: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    assume_canonical: bool = False,
) -> DataFrame:
    """Attach a ``component`` column to every row of ``df``; rows whose
    id is in no edge become singleton components (component = own id).

    AQE picks the join strategy from the component map's actual size —
    right at scale, where a heavily-duplicated corpus (web crawl: 30%+
    of docs in some pair) makes the map far too large to broadcast
    even though it is tiny on clean corpora.
    """
    cc = connected_components(
        edges, id_a, id_b, assume_canonical=assume_canonical
    ).withColumnRenamed("id", id_col)
    return df.join(cc, on=id_col, how="left").withColumn(
        "component", F.coalesce(F.col("component"), F.col(id_col))
    )


def dedup_by_components(
    df: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    assume_canonical: bool = False,
) -> DataFrame:
    """Keep one canonical row (min id) per near-dup cluster: the
    end-to-end fuzzy-dedup contract — pairs in, deduped corpus out."""
    labeled = assign_components(df, edges, id_col, assume_canonical=assume_canonical)
    return labeled.filter(F.col(id_col) == F.col("component")).drop("component")


def pagerank_integer(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    iterations: int = 5,
    damping_pct: int = 85,
    unit: int = 10**12,
) -> DataFrame:
    """PageRank over an undirected graph in FIXED-POINT integer
    arithmetic: ranks are bigint micro-units (1.0 == ``unit``), every
    per-edge contribution is ``rank * damping_pct DIV (100 * degree)``
    (integer floor division). No floating point anywhere in the
    iteration, so results are bit-identical across engines, runs, and
    summation orders — an exactly-SQL-oracle-able iterative algorithm
    (cross-engine float PageRank can't hash-match: double summation
    order differs).

    Scale: one groupBy per iteration over the edge list (same shape
    as connected_components rounds); ``localCheckpoint`` truncates
    lineage. Floor rounding loses < |V|·iterations micro-units of
    probability mass in total — irrelevant for ranking at unit=1e12.
    """
    sym = (
        symmetrize(
            edges.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        )
        .select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nodes = deg.select(F.col("src").alias("id"), "deg")
    n_nodes = nodes.select(F.count(F.lit(1)).alias("__n"))
    # base = (100 - d)% of unit / N, floor; start everyone at unit DIV N
    ranks = (
        nodes.join(F.broadcast(n_nodes))
        .select(
            "id",
            "deg",
            F.expr(f"CAST({unit} AS BIGINT) DIV __n").alias("rank"),
            F.expr(
                f"CAST({100 - damping_pct} AS BIGINT) * {unit} DIV (100 * __n)"
            ).alias("__base"),
        )
        .localCheckpoint()
    )
    for _ in range(iterations):
        contrib = (
            sym.join(ranks.withColumnRenamed("id", "src"), on="src")
            .select(
                F.col("dst").alias("id"),
                F.expr(f"rank * {damping_pct} DIV (100 * deg)").alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            ranks.drop("rank")
            .join(contrib, on="id", how="left")
            .select(
                "id",
                "deg",
                "__base",
                (F.col("__base") + F.coalesce(F.col("inflow"), F.lit(0))).alias(
                    "rank"
                ),
            )
            .localCheckpoint()
        )
    return ranks.select("id", "rank")


def triangle_count(
    edges: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Distributed triangle count over a canonical (``id_a < id_b``)
    edge set — the density diagnostic for near-dup graphs: connected
    components say "these docs are transitively linked", the triangle
    count says how CLIQUE-LIKE the families are (boilerplate template
    clusters triangulate heavily; chains of borderline matches do
    not), which is the standard signal for tightening a threshold
    before collapse.

    Shape: the classic two-join formulation. Canonical orientation
    (a<b<c) makes every triangle count exactly once with no /3 or /6
    correction: wedges a-b-c from e⋈e on the middle vertex, closed by
    a semi-check of (a,c) against the edge set. Two shuffle joins; the
    wedge relation is Σ deg(v)² rows — at 100 TB graphs the standard
    mitigation (not needed at near-dup-family sizes, where components
    are small by construction) is orienting edges by degree before
    the join, which this canonical form already approximates for the
    id-as-arrival-order graphs produced by the dedup pipeline.

    The canonical edge set is read three times (both wedge sides +
    the closure probe) — ``localCheckpoint`` materializes it once so
    an expensive upstream derivation (MinHash→verify) never re-runs
    per consumer.
    """
    e = (
        edges.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    wedges = e.join(
        e.select(F.col("a").alias("__m"), F.col("b").alias("c")),
        F.col("b") == F.col("__m"),
    )
    closed = wedges.join(
        e.select(F.col("a").alias("__ca"), F.col("b").alias("__cb")),
        (F.col("a") == F.col("__ca")) & (F.col("c") == F.col("__cb")),
        "left_semi",
    )
    return closed.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))


def kcore_peel(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 4,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Bounded-round k-core peel over an undirected edge set: each
    round drops every vertex whose CURRENT degree is < ``k`` (with
    all its edges), recomputing degrees on the remaining graph —
    ``rounds`` iterations of the standard peeling algorithm. For a
    graph whose peel converges within the budget this IS the k-core;
    the bounded form is chosen because it is exactly replayable as
    unrolled SQL (a dynamic fixpoint is not), making the iterative
    graph algorithm oracle-checkable round for round.

    On near-dup graphs this is the family-tightness filter one step
    past triangles: components say "linked", triangles say
    "clique-ish", the k-core keeps only members embedded in dense
    template clusters (≥k strong neighbors after noise vertices
    peel away) — the standard canonical-doc pre-filter before
    committing a whole family to removal.

    Shape: the edge set is exploded ONCE into long format — each edge
    contributes a row per endpoint, (a, b, id) — and every round is
    two window functions on that relation, NO joins: ``count over
    (partition by id)`` is each endpoint's current degree, ``min(deg)
    over (partition by a, b)`` moves the weaker endpoint's degree onto
    both of the edge's rows, and one filter drops the edge everywhere
    it appears when that min is < k. Two keyed exchanges per round on
    2|E| rows; the previous form (degree groupBy + two semi-joins back
    onto the edge set) paid three exchanges plus two join builds per
    round and measured ~10% slower in a same-session best-of-3 A/B on
    the sf0.1 near-dup graph (2.41 s vs 2.68 s query-level, identical
    results). Work is O(|E|) per round; a hot vertex concentrates its
    rows in one window partition — the same skew profile as the
    degree groupBy it replaces.

    ``localCheckpoint`` truncates lineage each round (same reason as
    ``connected_components``: an iterative DataFrame loop otherwise
    doubles its plan every round). The INITIAL long relation is
    checkpointed too: when the edges arrive as the tail of a
    MinHash→verify pipeline, an unmaterialized input would re-run
    that whole upstream chain per consumer — the edge list is tiny
    relative to its derivation, so materializing it once is the
    composition win (measured 4.0 → ~2.4 s on the sf0.1 near-dup
    graph, r6). Returns surviving ``(id, deg)`` — degree measured in
    the peeled graph."""
    e = edges.select(F.col(id_a).alias("a"), F.col(id_b).alias("b")).distinct()
    long = e.select(
        "a", "b", F.explode(F.array("a", "b")).alias("id")
    ).localCheckpoint(eager=False)
    for _ in range(rounds):
        long = (
            long.withColumn(
                "deg", F.count(F.lit(1)).over(Window.partitionBy("id"))
            )
            .withColumn(
                "mindeg", F.min("deg").over(Window.partitionBy("a", "b"))
            )
            .filter(F.col("mindeg") >= k)
            .drop("deg", "mindeg")
            # eager=False, as in connected_components: the stages below
            # run while the frame is built; only the block-storing stage
            # waits for the next action
            .localCheckpoint(eager=False)
        )
    return long.groupBy("id").agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    )
