"""Snapshot diff / change-data-capture between table versions.

The reference's only incremental mechanism is MERGE upsert (OP-27) —
it can apply a batch but cannot tell you what changed. ``snapshot_diff``
closes the loop: given two snapshots keyed by primary keys, classify
every row as insert / update / delete / unchanged. One full-outer join
on the PKs (shuffle both sides — or zero shuffle when both snapshots
are bucketed on the PK, loaders/bucketing.py).

``apply_changes`` replays a diff onto a target — so extract-diff-apply
moves only the changed rows across the wire, the pattern that matters
when the 100 TB table changes 0.1% per day.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CHANGE_COL = "__change"


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    primary_keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Classify rows between snapshots → new-side columns plus
    ``__change`` ∈ {insert, update, delete, unchanged}.

    For deletes the non-PK columns carry the OLD values (the new side
    has none). ``compare_cols`` defaults to all non-PK columns.
    """
    if not primary_keys:
        raise ValueError("snapshot_diff requires primary_keys")
    value_cols = compare_cols or [c for c in new.columns if c not in primary_keys]
    o = old.select(
        *[F.col(k) for k in primary_keys],
        *[F.col(c).alias(f"__old_{c}") for c in value_cols],
    )
    n = new.select(
        *[F.col(k) for k in primary_keys],
        *[F.col(c).alias(f"__new_{c}") for c in value_cols],
    ).withColumn("__in_new", F.lit(True))
    o = o.withColumn("__in_old", F.lit(True))
    j = o.join(n, on=primary_keys, how="full_outer")
    # NULL-safe comparison: a value changing to/from NULL is an update
    changed = F.lit(False)
    for c in value_cols:
        changed = changed | ~F.col(f"__old_{c}").eqNullSafe(F.col(f"__new_{c}"))
    change = (
        F.when(F.col("__in_old").isNull(), "insert")
        .when(F.col("__in_new").isNull(), "delete")
        .when(changed, "update")
        .otherwise("unchanged")
    )
    out_vals = [
        F.when(F.col("__in_new").isNull(), F.col(f"__old_{c}"))
        .otherwise(F.col(f"__new_{c}"))
        .alias(c)
        for c in value_cols
    ]
    return j.select(*primary_keys, *out_vals, change.alias(CHANGE_COL))


def apply_changes(
    target: DataFrame, diff: DataFrame, primary_keys: list[str]
) -> DataFrame:
    """Replay a diff: delete removed PKs, upsert inserts+updates.
    Returns the new target content (write it with Loader).

    The non-unchanged slice of the diff is materialized ONCE: it is
    change-sized (CDC's whole premise — the 0.1% that moved), while
    its LINEAGE is two full snapshots outer-joined; the three
    consumers below (delete keys, upsert keys, upsert rows) would
    each re-run that join otherwise (caught at 10 corpus scans in
    the r7 plan audit)."""
    from lightlane_spark.cache import tracked_persist

    # kept (plan test pins the orders scans); cold A/B sf0.1 local[4]: on 0.46 s, off 0.49 s
    changes = tracked_persist(diff.filter(F.col(CHANGE_COL) != "unchanged"))
    dels = changes.filter(F.col(CHANGE_COL) == "delete").select(*primary_keys)
    ups = changes.filter(F.col(CHANGE_COL).isin("insert", "update")).drop(CHANGE_COL)
    kept = target.join(
        dels.unionByName(ups.select(*primary_keys)), on=primary_keys, how="left_anti"
    )
    return kept.unionByName(ups)


# Sentinel "open row" end timestamp. 2200-01-01 rather than the
# conventional 9999-12-31: pandas/Arrow nanosecond timestamps overflow
# past 2262-04-11, so a 9999 sentinel breaks any toPandas()/Arrow hop
# (including oracle comparisons) while 2200 survives every engine.
OPEN_END = "2200-01-01 00:00:00"


def scd2_apply(
    history: DataFrame,
    updates: DataFrame,
    pks: list[str],
    effective_ts,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Slowly-changing-dimension type 2: apply ``updates`` to a
    versioned ``history`` table (attribute columns + ``valid_from`` /
    ``valid_to``; open rows carry valid_to = OPEN_END (2200-01-01)
    rather than NULL so downstream BETWEEN predicates need no null
    handling).

    Per update key with a real attribute change: the open version is
    closed out (valid_to = effective_ts) and a new open version is
    inserted. No-op updates (identical attributes) are dropped —
    re-running the same batch is idempotent. Closed history is
    untouched.

    Scale shape: one equi-join of the OPEN slice against the update
    batch (batch side broadcastable), a union, no window — history
    depth never enters the join. The reference's MERGE (OP-27,
    hive_loader.py:162-182) overwrites in place and loses history;
    SCD2 is the auditable form of the same ingestion step.
    """
    eff = F.lit(effective_ts).cast("timestamp")
    attr_cols = compare_cols or [
        c for c in updates.columns if c not in pks
    ]
    open_rows = history.filter(F.col("valid_to") == F.lit(OPEN_END).cast("timestamp"))
    closed_rows = history.filter(F.col("valid_to") != F.lit(OPEN_END).cast("timestamp"))

    upd = updates.select(
        *[F.col(c).alias(f"__u_{c}") for c in pks + attr_cols]
    )
    from lightlane_spark.cache import tracked_persist

    # kept (off re-reads orders; three consumers); cold A/B sf0.1 local[4]: on 0.79 s, off 0.84 s
    joined = tracked_persist(
        open_rows.join(
            upd,
            on=[F.col(k) == F.col(f"__u_{k}") for k in pks],
            how="left",
        )
    )
    changed = F.lit(False)
    for c in attr_cols:
        changed = changed | ~F.col(c).eqNullSafe(F.col(f"__u_{c}"))
    has_update = F.col(f"__u_{pks[0]}").isNotNull()

    keep_open = joined.filter(~has_update | ~changed).select(*history.columns)
    close_out = (
        joined.filter(has_update & changed)
        .select(*[F.col(c) for c in history.columns])
        .withColumn("valid_to", eff)
    )
    new_versions = (
        joined.filter(has_update & changed)
        .select(
            *[F.col(c) for c in pks],
            *[F.col(f"__u_{c}").alias(c) for c in attr_cols],
        )
        .withColumn("valid_from", eff)
        .withColumn("valid_to", F.lit(OPEN_END).cast("timestamp"))
        .select(*history.columns)
    )
    brand_new = (
        updates.join(open_rows.select(*pks), on=pks, how="left_anti")
        .select(*[F.col(c) for c in pks + attr_cols])
        .withColumn("valid_from", eff)
        .withColumn("valid_to", F.lit(OPEN_END).cast("timestamp"))
        .select(*history.columns)
    )
    return (
        closed_rows.unionByName(keep_open)
        .unionByName(close_out)
        .unionByName(new_versions)
        .unionByName(brand_new)
    )
