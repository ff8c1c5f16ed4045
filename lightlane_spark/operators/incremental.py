"""Watermark-based incremental extract — the batch-incremental pattern
the reference approximates with MERGE mode (OP-27) made explicit.

``high_watermark`` reads the target's max watermark (one aggregate —
parquet footer stats short-circuit it); ``extract_since`` filters the
source to rows past it (predicate pushed to the source scan / JDBC
WHERE); ``incremental_merge_load`` chains extract→merge so each run
moves only new/changed rows. Late arrivals with older watermarks are
the caller's choice: overlap the window (``overlap``) and let MERGE
dedup on the PKs — re-merging an already-loaded row is idempotent.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lightlane_spark.loaders.loader import Loader, fs_path


def high_watermark(df: DataFrame, col: str):
    """Max of the watermark column (None on empty input)."""
    return df.agg(F.max(col).alias("hw")).first()["hw"]


def extract_since(
    df: DataFrame,
    watermark_col: str,
    last_value,
    overlap: dt.timedelta | int | None = None,
) -> DataFrame:
    """Rows with ``watermark_col > last_value`` (full scan when
    ``last_value`` is None — first run). ``overlap`` widens the window
    backwards to re-capture late arrivals; MERGE makes the re-read
    idempotent."""
    if last_value is None:
        return df
    if overlap is not None:
        last_value = last_value - overlap
    return df.filter(F.col(watermark_col) > F.lit(last_value))


def incremental_merge_load(
    spark: SparkSession,
    source: DataFrame,
    target_path: str,
    watermark_col: str,
    primary_keys: list[str],
    overlap: dt.timedelta | int | None = None,
) -> int:
    """One incremental run: read target watermark → extract newer
    source rows → MERGE. Returns the number of extracted rows."""
    last = None
    fs, path = fs_path(spark, target_path)
    if fs.exists(path):
        last = high_watermark(spark.read.parquet(target_path), watermark_col)
    batch = extract_since(source, watermark_col, last, overlap)
    n = batch.count()
    if n:
        Loader(spark, target_path, "merge", primary_keys=primary_keys).execute(batch)
    return n


def incremental_agg_state(
    df: DataFrame, keys: list[str], aggs: dict[str, str]
) -> DataFrame:
    """Aggregate state for ``incremental_agg_merge``: per-key algebraic
    summaries (sum/count/min/max; avg is derivable as sum/count and
    deliberately not stored — store its parts). Output columns
    ``{fn}_{col}``."""
    allowed = {"sum", "count", "min", "max"}
    for fn in aggs.values():
        if fn not in allowed:
            raise ValueError(f"unsupported aggregate: {fn} (algebraic only)")
    return df.groupBy(*keys).agg(
        *[getattr(F, fn)(c).alias(f"{fn}_{c}") for c, fn in aggs.items()]
    )


def incremental_agg_merge(
    state: DataFrame, delta: DataFrame, keys: list[str], aggs: dict[str, str]
) -> DataFrame:
    """Incremental VIEW MAINTENANCE for algebraic rollups: merge the
    delta batch's aggregate state into the existing state —
    ``new = combine(old, agg(delta))`` — without touching base data.

    At 100 TB this is how a per-customer / per-day rollup stays fresh:
    each batch costs agg(|delta|) plus a join against the (small,
    pre-aggregated) state, never a rescan of history. sum/count
    combine by addition, min/max by min/max; the identity
    ``merge(state(base), delta) == state(base ∪ delta)`` is exact for
    these algebraic functions (and is pinned by tests + the driver
    oracle). Deletions/updates need retractable aggregates (sum/count
    handle them via negative deltas; min/max do not — recompute the
    affected keys, the standard IVM limitation).

    Shape: one aggregation of the delta (map-side combined) + one
    full-outer join on the keys — co-partitioned with the state's own
    grouping, so AQE reuses the exchange when the state was just
    aggregated; for a stored state table the join is the only
    shuffle.
    """
    # pairwise combiners over two state columns (NOT the aggregate
    # functions: min-state merges with least, max with greatest)
    combine2 = {
        "sum": lambda a, b: a + b,
        "count": lambda a, b: a + b,
        "min": F.least,
        "max": F.greatest,
    }
    d = incremental_agg_state(delta, keys, aggs)
    out_cols = [f"{fn}_{c}" for c, fn in aggs.items()]
    s = state.select(*keys, *[F.col(c).alias(f"__s_{c}") for c in out_cols])
    d = d.select(*keys, *[F.col(c).alias(f"__d_{c}") for c in out_cols])
    joined = s.join(d, on=keys, how="full_outer")
    merged = [
        (
            F.when(
                F.col(f"__s_{col}").isNotNull() & F.col(f"__d_{col}").isNotNull(),
                combine2[fn](F.col(f"__s_{col}"), F.col(f"__d_{col}")),
            )
            .otherwise(F.coalesce(F.col(f"__s_{col}"), F.col(f"__d_{col}")))
            .alias(col)
        )
        for c, fn in aggs.items()
        for col in [f"{fn}_{c}"]
    ]
    return joined.select(*keys, *merged)


def incremental_agg_retract_merge(
    state: DataFrame,
    old: DataFrame,
    new: DataFrame,
    primary_keys: list[str],
    keys: list[str],
    aggs: dict[str, str],
) -> DataFrame:
    """IVM with RETRACTION: apply a CDC-style snapshot change (old →
    new, any mix of inserts/updates/deletes) to a rollup state using
    signed deltas — rows leaving the snapshot contribute −1, rows
    entering (or the new version of updated rows) +1. Only sum/count
    are retractable (min/max cannot un-see a departed extremum — the
    standard IVM limitation; recompute affected keys for those).

    Cost: the snapshot diff to find CHANGED primary keys, then
    aggregation over only the changed rows + one state join — at
    100 TB a 0.1% daily churn costs 0.1% of a recompute. A key whose
    every row departs converges to count 0 (kept in the state as a
    zero row; filter ``count > 0`` for recompute-equality).
    """
    for fn in aggs.values():
        if fn not in ("sum", "count"):
            raise ValueError(f"{fn} is not retractable (sum/count only)")
    from lightlane_spark.operators.cdc import CHANGE_COL, snapshot_diff

    diff = snapshot_diff(old, new, primary_keys)
    changed = diff.filter(F.col(CHANGE_COL) != "unchanged").select(*primary_keys)
    retract = old.join(changed, on=primary_keys, how="left_semi").withColumn(
        "__w", F.lit(-1)
    )
    assrt = new.join(changed, on=primary_keys, how="left_semi").withColumn(
        "__w", F.lit(1)
    )
    delta = retract.unionByName(assrt)
    # count must stay null-aware: the state builder's count(c) counts
    # NON-NULL values, so the signed retraction counts only rows where
    # c is non-null too (a bare sum(__w) over-retracts/over-asserts on
    # nullable columns and the merged state silently diverges from the
    # recompute)
    d = delta.groupBy(*keys).agg(
        *[
            (
                F.sum(F.col(c) * F.col("__w"))
                if fn == "sum"
                else F.sum(
                    F.when(F.col(c).isNotNull(), F.col("__w")).otherwise(
                        F.lit(0)
                    )
                )
            ).alias(f"{fn}_{c}")
            for c, fn in aggs.items()
        ]
    )
    out_cols = [f"{fn}_{c}" for c, fn in aggs.items()]
    s = state.select(*keys, *[F.col(c).alias(f"__s_{c}") for c in out_cols])
    d = d.select(*keys, *[F.col(c).alias(f"__d_{c}") for c in out_cols])
    joined = s.join(d, on=keys, how="full_outer")
    merged = [
        (
            F.coalesce(F.col(f"__s_{c}"), F.lit(0))
            + F.coalesce(F.col(f"__d_{c}"), F.lit(0))
        ).alias(c)
        for c in out_cols
    ]
    return joined.select(*keys, *merged)


def incremental_join_delta(
    a_old: DataFrame,
    a_delta: DataFrame,
    b_old: DataFrame,
    b_delta: DataFrame,
    on: list[str],
) -> DataFrame:
    """Delta rows to APPEND to a materialized inner-join view
    ``V = A ⋈ B`` after appends ΔA and ΔB (append-only IVM; for
    updates/deletes pair with the retract path):

        ΔV = (ΔA ⋈ (B ∪ ΔB)) ∪ (A ⋈ ΔB)

    — the standard delta-join decomposition: every new pair contains
    a delta row on at least one side, counted exactly once (pairs
    with BOTH sides new land in the first term only).

    Scale: each term joins a DELTA against one full side — work is
    |Δ|·selectivity, never |A|·|B|; with the base sides bucketed on
    the join key (see `bucketed_join`) the big side is never
    reshuffled, which is the whole point of maintaining the view
    instead of recomputing it at 100 TB.
    """
    b_new = b_old.unionByName(b_delta)
    return a_delta.join(b_new, on=on).unionByName(a_old.join(b_delta, on=on))
