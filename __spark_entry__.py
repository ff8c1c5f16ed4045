"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps operator IDs from SURVEY.md §2 to callables
``(spark, sf_dir) -> DataFrame``; ``oracle_sql()`` gives the DuckDB
equivalent for the correctness gate. Column aliases match exactly on
both sides (the driver sorts columns by name before value-hashing).

Float determinism: cross-engine SUM over doubles diverges in the last
ulp because summation order differs. Every money/measure SUM is done
as ``SUM(CAST(x AS DECIMAL(18,2)))`` (exact, order-independent) then
cast back to DOUBLE — bit-identical in Spark and DuckDB. Per-row
double arithmetic (same IEEE ops both engines) is emitted raw.
"""

from __future__ import annotations

import functools
import os
import sys
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from lightlane_spark.loaders.loader import Loader, merge_upsert  # noqa: E402
from lightlane_spark.loaders.text_sinks import (  # noqa: E402
    read_csv,
    read_hive_text,
    read_json,
    write_csv,
    write_hive_text,
    write_json,
)
from lightlane_spark.operators.dedup import dedup_keep_first  # noqa: E402
from lightlane_spark.operators.transform import (  # noqa: E402
    drop_falsy,
    fan_out,
    flatten_json_array,
    map_rows,
    quarantine,
)
from lightlane_spark.operators.extract import (  # noqa: E402
    range_partitioned_read,
)
from lightlane_spark.sources.parquet import read_table  # noqa: E402
from lightlane_spark import queries_m5 as m5_queries  # noqa: E402
from lightlane_spark import queries_relational as rel_queries  # noqa: E402
from lightlane_spark.queries_relational import _dec_sum  # noqa: E402
from lightlane_spark import queries_temporal as temporal_queries  # noqa: E402


# ---------------------------------------------------------------------------
# Queries (Spark side)
# ---------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H-Q1-style pricing summary (group-agg over the fact
    table; exercises partial aggregation + single shuffle on tiny keys)."""
    li = read_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum(F.col("l_quantity"), "sum_qty"),
            _dec_sum(F.col("l_extendedprice"), "sum_base_price"),
            _dec_sum(disc_price, "sum_disc_price", scale=4),
            _dec_sum(charge, "sum_charge", scale=6),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-06: projection pushed to the parquet scan (ReadSchema prune)."""
    return read_table(
        spark, sf_dir, "lineitem", columns=["l_orderkey", "l_linenumber", "l_quantity"]
    )


def q_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-07: predicate pushed into parquet row-group stats."""
    return read_table(
        spark,
        sf_dir,
        "lineitem",
        columns=["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"],
        where="l_quantity > 30",
    )


def q_column_exclusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-08: projection by exclusion (reference dbapi.py:163-165)."""
    return read_table(spark, sf_dir, "orders", exclude=["o_orderpriority", "o_orderstatus"])


def q_minmax_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-11: one-pass min/max boundary probe (vs the reference's two
    ORDER-BY-LIMIT-1 sorts, dumper/sql.py:59-68)."""
    return (
        read_table(spark, sf_dir, "lineitem")
        .agg(
            F.min("l_orderkey").alias("lo"),
            F.max("l_orderkey").alias("hi"),
            F.min("l_shipdate").alias("ship_lo"),
            F.max("l_shipdate").alias("ship_hi"),
        )
    )


def q_range_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-12: range-split read with 7 splits — the rows the reference's 7
    range queries return (closed last range, reference sql.py:144-148),
    read in one scan: every row with a non-NULL key."""
    df = read_table(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_linenumber", "l_quantity"])
    return range_partitioned_read(df, "l_orderkey", 7)


def q_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-11 (sort-limit form): top-1 with a deterministic tiebreak."""
    return (
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber")
        .limit(1)
    )


_ORDER_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]


def _orders_staging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 'incremental batch': every 3rd order, repriced."""
    return (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 3 == 0)
        .withColumn("o_orderpriority", F.lit("MERGED"))
    )


def q_anti_join_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-27: MERGE upsert = left anti-join + UNION ALL
    (reference hive_loader.py:162-182)."""
    target = read_table(spark, sf_dir, "orders")
    staging = _orders_staging(spark, sf_dir)
    return merge_upsert(target, staging, ["o_orderkey"]).select(*_ORDER_COLS)


def q_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-27 (set-op component): UNION ALL keeps duplicates."""
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    hi = o.filter(F.col("o_totalprice") > 100000)
    return o.unionByName(hi)


def q_dedup_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-30: keyed window dedup — latest order per customer,
    deterministic tiebreak (reference hive_loader.py:127-145)."""
    orders = read_table(spark, sf_dir, "orders")
    return dedup_keep_first(
        orders,
        keys=["o_custkey"],
        orderby=[F.col("o_orderdate").desc(), F.col("o_orderkey")],
    ).select(*_ORDER_COLS)


def q_merge_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-25/26/27 pipeline: OVERWRITE target, MERGE staging, read back
    (the reference's reconcile-and-swap, hive_loader.py:166-179)."""
    path = os.path.join(tempfile.mkdtemp(prefix="llspark_merge_"), "orders_t")
    target = read_table(spark, sf_dir, "orders")
    staging = _orders_staging(spark, sf_dir)
    Loader(spark, path, "overwrite").execute(target)
    Loader(spark, path, "merge", primary_keys=["o_orderkey"]).execute(staging)
    return spark.read.parquet(path).select(*_ORDER_COLS)


def q_versioned_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned MERGE (loaders/versioned.py): v1 = full orders, v2 =
    MERGE of the repriced staging batch; reads back v2 while v1 stays
    readable (time travel asserted in tests/test_versioned.py). The
    oracle is plain MERGE semantics — versioning must not change the
    reconciled content."""
    from lightlane_spark.loaders.versioned import VersionedTable

    base = os.path.join(tempfile.mkdtemp(prefix="llspark_vt_"), "orders_vt")
    vt = VersionedTable(spark, base)
    vt.write_version(read_table(spark, sf_dir, "orders"))
    vt.merge_version(_orders_staging(spark, sf_dir), ["o_orderkey"])
    return vt.read().select(*_ORDER_COLS)


def q_append_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-26: APPEND load pipeline, read back."""
    path = os.path.join(tempfile.mkdtemp(prefix="llspark_append_"), "orders_t")
    orders = read_table(spark, sf_dir, "orders")
    lo = orders.filter(F.col("o_orderkey") % 2 == 0)
    hi = orders.filter(F.col("o_orderkey") % 2 != 0)
    Loader(spark, path, "overwrite").execute(lo)
    Loader(spark, path, "append").execute(hi)
    return spark.read.parquet(path).select(*_ORDER_COLS)


def q_partitioned_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-24: dynamic partitioned insert, read back (partition column
    round-trips through the directory layout)."""
    path = os.path.join(tempfile.mkdtemp(prefix="llspark_part_"), "orders_p")
    orders = read_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate").cast("int")
    )
    Loader(spark, path, "overwrite", partition_by=["o_year"]).execute(orders)
    return (
        spark.read.parquet(path)
        .select(*_ORDER_COLS, F.col("o_year").cast("int").alias("o_year"))
    )


_LI_CSV_COLS = ["l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"]
_LI_CSV_SCHEMA = "l_orderkey bigint, l_linenumber int, l_quantity double, l_returnflag string"


def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-18: quoted-CSV sink (QUOTE_ALL) → read back with explicit
    schema (never inferred from 'first row' — SURVEY §1.3)."""
    path = os.path.join(tempfile.mkdtemp(prefix="llspark_csv_"), "li_csv")
    df = read_table(spark, sf_dir, "lineitem", columns=_LI_CSV_COLS)
    write_csv(df, path)
    return read_csv(spark, path, _LI_CSV_SCHEMA)


def q_hive_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-19: Hive-text sink (\\x01 fields, \\N nulls) → read back."""
    path = os.path.join(tempfile.mkdtemp(prefix="llspark_hive_"), "li_text")
    df = read_table(spark, sf_dir, "lineitem", columns=_LI_CSV_COLS)
    write_hive_text(df, path)
    return read_hive_text(spark, path, _LI_CSV_SCHEMA)


def q_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro container sink → read back (reference const.py:19-26 lists
    AVRO among Hive storage formats). No spark-avro jar in this
    environment: the sink is the pure-Python container codec in
    loaders/avro_sink.py (public Avro 1.x spec), map-only one file per
    partition via mapInPandas."""
    from lightlane_spark.loaders.avro_sink import read_avro, write_avro

    path = os.path.join(tempfile.mkdtemp(prefix="llspark_avro_"), "li_avro")
    df = read_table(spark, sf_dir, "lineitem", columns=_LI_CSV_COLS)
    write_avro(df, path)
    return read_avro(spark, path, _LI_CSV_SCHEMA)


def q_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-01/OP-22 LIVE: write orders into an embedded Derby database
    (a real JDBC endpoint — Derby ships in Spark's own jars), read the
    table back over a 4-way range-partitioned JDBC scan (real per-task
    predicates). Oracle = the plain source table: a faithful
    write+read must be the identity."""
    from lightlane_spark.sources.jdbc import probe_bounds, read_jdbc, write_jdbc

    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    base = tempfile.mkdtemp(prefix="llspark_derby_")
    url = f"jdbc:derby:{base}/db;create=true"
    orders = read_table(spark, sf_dir, "orders")
    write_jdbc(
        orders,
        url,
        "orders_t",
        mode="append",
        properties={
            **props,
            "createTableColumnTypes": "o_orderstatus VARCHAR(8), o_orderpriority VARCHAR(32)",
        },
    )
    lo, hi = probe_bounds(spark, url, "orders_t", "o_orderkey", properties=props, quote='"')
    back = read_jdbc(
        spark, url, table="orders_t", splitby='"o_orderkey"', splits=4,
        bounds=(lo, hi), properties=props,
    )
    # timestamp_ntz emit for o_orderdate: TZ-adjusted timestamps
    # collect in the host Python zone (see sources/parquet.py)
    return back.select(*_ORDER_COLS).withColumn(
        "o_orderdate", F.col("o_orderdate").cast("timestamp_ntz")
    )


def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink → schema-explicit read back (Spark-native format
    family, SURVEY §1.4; doubles round-trip via shortest-repr)."""
    path = os.path.join(tempfile.mkdtemp(prefix="llspark_json_"), "li_json")
    df = read_table(spark, sf_dir, "lineitem", columns=_LI_CSV_COLS)
    write_json(df, path)
    return read_json(spark, path, _LI_CSV_SCHEMA)


def q_compacted_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction (operators/skew.py::compact_output): a
    deliberately fragmented 64-file write re-laid to ≤4 files, read
    back content-identical (the oracle is the plain table). The
    classic 100 TB hygiene op — millions of KB-sized part files
    punish every downstream scan's file-listing and open costs."""
    from lightlane_spark.operators.skew import compact_output

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    frag = os.path.join(tempfile.mkdtemp(prefix="llspark_frag_"), "li")
    li.repartition(64).write.parquet(frag)
    compacted = os.path.join(tempfile.mkdtemp(prefix="llspark_compact_"), "li")
    compact_output(spark.read.parquet(frag), compacted, target_files=4)
    out = spark.read.parquet(compacted)
    assert len(out.inputFiles()) <= 4, "compaction failed to bound file count"
    return out


def q_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest data skipping (loaders/dataskip.py): range-laid-out
    write with a per-file min/max manifest, then a Q1-quarter scan
    that opens only the overlapping files — identical rows to the
    full-scan filter (the oracle), I/O proportional to the range. The
    lakehouse-manifest pattern on plain parquet; beyond-parity vs the
    reference's full-table SELECT * (hive_extractor.py)."""
    import datetime as dtm

    from lightlane_spark.loaders.dataskip import pruned_scan, write_with_stats

    path = os.path.join(tempfile.mkdtemp(prefix="llspark_skip_"), "li")
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate", "l_quantity"
    )
    write_with_stats(li, path, ["l_shipdate"], num_files=16)
    return pruned_scan(
        spark, path, "l_shipdate", dtm.date(1995, 1, 1), dtm.date(1995, 3, 31)
    )


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-13 (documented Transformer intent): JSON field extraction."""
    ev = read_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )


def q_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-13 (flatten): one row → many (token explode over documents)."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    )


def _events_with_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministically corrupt every 10th event's JSON payload —
    the OP-17 quarantine fixture (reference silently skips bad rows,
    handler/base.py:43-44; we route them)."""
    return read_table(spark, sf_dir, "events").withColumn(
        "props",
        F.when(F.col("event_id") % 10 == 0, F.lit("garbage")).otherwise(F.col("props")),
    )


def q_quarantine_good(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-17: parseable side of the quarantine split."""
    ev = _events_with_corruption(spark, sf_dir)
    good, _bad = quarantine(ev, F.get_json_object("props", "$.k").isNotNull())
    return good.select("event_id", "event_type", "props")


def q_quarantine_bad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-17: quarantined (malformed-JSON) side — auditable, not dropped."""
    ev = _events_with_corruption(spark, sf_dir)
    _good, bad = quarantine(ev, F.get_json_object("props", "$.k").isNotNull())
    return bad.select("event_id", "event_type", "props")


def q_flatten_json_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-13 (documented intent, full form): JSON array → parse →
    explode; empty arrays drop their row (falsy-drop semantics)."""
    orders = read_table(spark, sf_dir, "orders")
    items_json = F.when(F.col("o_orderkey") % 7 == 0, F.lit("[]")).otherwise(
        F.concat(
            F.lit('[{"sku":"s'),
            F.col("o_orderkey"),
            F.lit('","qty":'),
            (F.col("o_orderkey") % 5).cast("int"),
            F.lit('},{"sku":"t'),
            F.col("o_orderkey"),
            F.lit('","qty":1}]'),
        )
    )
    df = orders.select("o_orderkey", items_json.alias("items"))
    flat = flatten_json_array(df, "items", "array<struct<sku:string,qty:int>>")
    return flat.select(
        "o_orderkey", F.col("item.sku").alias("sku"), F.col("item.qty").alias("qty")
    )


def q_map_rows_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-13 (general hook): vectorized pandas batch transform
    (mapInPandas) — per-doc token count; SQL-checkable output."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")

    def count_tokens(pdf):
        out = pdf[["doc_id"]].copy()
        out["n_tokens"] = pdf["text"].str.split(" ").str.len().astype("int64")
        return out

    return map_rows(docs, count_tokens, "doc_id bigint, n_tokens bigint")


def q_drop_falsy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-13 filter semantics: falsy transform result drops the row
    (reference handler/base.py:35-37) — NULL and '0' both drop."""
    ev = _events_with_corruption(spark, sf_dir)
    ev = ev.withColumn("k", F.get_json_object("props", "$.k"))
    return drop_falsy(ev, "k").select("event_id", "k")


def q_multi_sink_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-20: one scan fanned out to parquet + CSV sinks (persist once,
    write twice); returns the parquet read-back."""
    base = os.path.join(tempfile.mkdtemp(prefix="llspark_fan_"))
    df = read_table(
        spark, sf_dir, "lineitem", columns=["l_orderkey", "l_linenumber", "l_quantity"]
    )
    fan_out(
        df,
        [
            lambda d: d.write.mode("overwrite").parquet(os.path.join(base, "p")),
            lambda d: write_csv(d, os.path.join(base, "c")),
        ],
    )
    return spark.read.parquet(os.path.join(base, "p"))


# ---------------------------------------------------------------------------
# Contract functions
# ---------------------------------------------------------------------------


def _pin_utc(fn: Callable[..., DataFrame]) -> Callable[..., DataFrame]:
    """``fn`` with the session time zone pinned to UTC first.

    The correctness harness builds a plain SparkSession, whose zone is
    the host's. Spark's TimestampType is zone-adjusted: window() buckets
    against the session zone's 1970-01-01 origin and collect() renders
    instants as session wall clock, while the DuckDB oracles' naive
    timestamps stay put. Under TZ=America/New_York an unpinned session
    shifts streaming_sliding_counts' window_start by the UTC offset.
    Library calls leave the zone alone; get_spark pins it for the
    engine's own sessions, and this pin does it for the harness's."""

    @functools.wraps(fn)
    def run(spark: SparkSession, *args: str) -> DataFrame:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        return fn(spark, *args)

    return run


@_pin_utc
def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_pricing_summary(spark, "/root/testdata/sf0.001")


# The driver's correctness run truncates at 50 queries. Round-13
# rotation (VERDICT r12 ask #2), GENERATED by
# tools/rotate_window.py from CORRECTNESS_r*.json history. This
# round's invocation (reproducible):
#
#   python tools/rotate_window.py \
#     --changed set_similarity_join,neardup_dedup_quality \
#     --pin pricing_summary,column_exclusion,minmax_probe,top1,\
#           range_split,dedup_window,csv_roundtrip,hive_text_roundtrip,\
#           merge_load,append_load,partitioned_load,anti_join_merge,\
#           multi_sink_fanout,quarantine_good,quarantine_bad,union_all,\
#           json_extract,explode,flatten_json_array,map_rows_tokens,\
#           drop_falsy --python
#
# Window composition (50 slots): r12 was the first 50/50 window with
# zero reds, so slots 1-2 are this round's two SEMANTIC changes, both
# driven by the r13 scale-ratio audit (SCALE_RATIO.json):
# set_similarity_join (prefix_filter_jaccard_join now joins bare
# candidate pairs back to the docs relation instead of carrying both
# gram arrays through the prefix explode — the 10x-corpus audit
# measured the array-laden exchange at 14.5x) and
# neardup_dedup_quality (per-component argmax via max_by struct agg
# instead of a row_number window — map-side partial combine replaces
# the full-width sort exchange; same keep policy, oracle bit-exact).
# Then the 21 pinned SURVEY-2 relational/loader core names (all
# green r12) and the stalest greens (r3/r4-era cohort, per the r12
# ask). Queries in this window are semantically FROZEN for the rest
# of the round; the freeze gate (tools/check_window.py) compares
# DRIVER-STRICT (type-tagged values, tz-aware vs naive, Decimal
# scale, float reprs, oracle values fetched through Arrow exactly as
# the driver's hasher sees them).
_RECHECK = [
    # generated by tools/rotate_window.py — do not hand-edit;
    # re-run with --changed <names> after semantic changes.
    # --- changed ---
    "set_similarity_join",
    "neardup_dedup_quality",
    # --- pinned (green r12) ---
    "pricing_summary",
    "column_exclusion",
    "minmax_probe",
    "top1",
    "range_split",
    "dedup_window",
    "csv_roundtrip",
    "hive_text_roundtrip",
    "merge_load",
    "append_load",
    "partitioned_load",
    "anti_join_merge",
    "multi_sink_fanout",
    "quarantine_good",
    "quarantine_bad",
    "union_all",
    "json_extract",
    "explode",
    "flatten_json_array",
    "map_rows_tokens",
    "drop_falsy",
    # --- green r3 ---
    "quota_sample",
    "weighted_sample",
    "pack_sequences",
    "text_stats",
    "quality_topp",
    "ann_topk_lsh",
    "embedding_quantize",
    "embedding_quantize_error",
    "multimodal_decode",
    "multimodal_resize",
    "frame_sample",
    "zorder_key",
    "cdc_apply",
    "corr_matrix",
    "window_range_frame",
    # --- green r4 ---
    "vocab_tokenize",
    "padding_efficiency",
    "bpe_pair_counts",
    "event_transitions",
    "deterministic_shuffle",
    "bpe_train",
    "negative_pairs",
    "streaming_dedup_counts",
    "blockhash_near_dup",
    "binary_file_scan",
    "streaming_interval_join",
    "dpp_scan",  # end of 50-slot driver window
    "schema_evolution_read",
    "python_datasource_scan",
    "window_percent_rank",
    "grouping_sets",
    "mad_outliers",
    "rolling_distinct_users",
    "volume_shipping",
    "large_volume_customers",
    "product_type_profit",
    "top_supplier",
    "supplier_part_counts",
    "record_linkage",
    "ab_test_zscore",
    "group_quantiles",
    "ivm_join",
    "k_anonymize_suppress",
    "feature_digitize",
    "rollup_grouping_id",
    "cumulative_users",
    "fulfillment_lag",
    "hierarchy_share",
    "pivot_multi",
    "new_vs_returning",
    "aqp_revenue_estimate",
    "supplier_lead_time",
    "referential_audit",
    "abandoned_actions",
    "purchase_attribution",
    # --- green r6 ---
    "versioned_merge",
    "avro_roundtrip",
    "pruned_scan",
    "compacted_load",
    "gopher_rules",
    "decontaminate",
    "boilerplate_ngrams",
    "ann_topk_filtered",
    "pq_topk",
    "embedding_neardup_lsh",
    "semantic_dedup",
    "corpus_overlap",
    "cdc_chunks",
    "k_anonymity_check",
    "lateral_topk",
    "recursive_ancestors",
    "ship_delay_priority",
    "local_supplier_volume",
    "numeric_histogram",
    "incremental_rollup",
    "hll_overlap",
    "market_share",
    "forecast_revenue",
    "order_priority_check",
    "disjunctive_join_filter",
    "group_zscore",
    "dormant_customers",
    "min_cost_supplier",
    "promotion_suppliers",
    "bucketed_join",
    "funnel_analysis",
    "ewma_smooth",
    "target_encode",
    # --- green r7 ---
    "projection",
    "filter",
    "dsir_select",
    "streaming_stateful_counts",
    "session_paths",
    "minhash_lsh_pairs",
    "containment_join",
    "char_entropy",
    "dataset_card_stats",
    "embedding_neardup",
    "rp_project",
    "url_dedup",
    "triangle_count",
    "kcore_peel",
    "minhash_join",
    "temperature_mix",
    "weighted_topk",
    "embedding_centroids",
    "compression_ratio",
    "retrieval_metrics",
    "frequent_pairs",
    "rollup_cdc_apply",
    "trend_detection",
    "waiting_suppliers",
    "winsorize",
    "pareto_frontier",
    "point_in_time_join",
    "quantile_normalize",
    "benford_audit",
    "gini_concentration",
    "association_rules",
    "rfm_segmentation",
    "retention_cohorts",
    "seasonal_baseline",
    "cusum_changepoint",
    "psi_drift",
    "burstiness_bots",
    "cohort_ltv",
    # --- green r9 ---
    "span_dedup",
    "text_quality",
    "text_langid",
    "text_fingerprint",
    "text_clean",
    "chunk_documents",
    "vocab_topk",
    "neardup_clusters",
    "leakage_safe_split",
    "pagerank_neardup",
    "neardup_dedup",
    "ann_topk_ivf",
    "multimodal_features",
    "curation_pipeline",
    "cms_heavy_hitters",
    "cms_windowed",
    "join_size_estimate",
    "bloom_prefilter",
    "ngram_lm_score",
    "kmv_set_ops",
    "approx_distinct",
    "label_propagation",
    "concurrency_curve",
    # --- green r10 ---
    "jdbc_roundtrip",
    "bm25_topk",
    "hybrid_retrieval",
    "streaming_window_counts",
    "repetition_stats",
    "dataset_split",
    "tfidf_topk",
    "hashed_bow",
    "bow_similarity",
    "fuzzy_match",
    "stratified_sample",
    "cooccurrence_pmi",
    "vocab_drift",
    "streaming_sliding_counts",
    "scd2_load",
    "date_functions",
    "hll_rollup",
    "period_over_period",
    "mutual_information",
    "theil_decomposition",
    "asof_join",
    "asof_join_forward",
    "time_rollup",
    "resample_fill",
    "time_weighted_avg",
    # --- green r11 ---
    "corpus_prep",
    "pii_redact",
    "dedup_exact",
    "minhash_signatures",
    "simhash_signatures",
    "simhash_near_pairs",
    "ngram_jaccard",
    "ann_topk_bruteforce",
    "variant_extract",
    "salted_join",
    "moving_avg",
    "join_right_outer",
    "cross_join_grid",
    "window_first_last",
    "ordered_agg",
    "shipping_priority",
    "returned_items",
    "small_order_revenue",
    "customer_order_counts",
    "having_filter",
    "dq_violations",
    "pivot",
    "unpivot",
    "quantile_summary",
    "snapshot_diff",
    # --- green r12 ---
    "json_roundtrip",
    "sessionize",
    "session_window",
    "table_profile",
    "orc_roundtrip",
    "xml_roundtrip",
    "revenue_by_part_type",
    "supplier_rank",
    "grouped_topk_pandas",
    "intersect_except",
    "scalar_subquery",
    "window_ntile",
    "hash_sample",
    "join_3way",
    "join_left_semi",
    "join_full_outer",
    "groupby_rollup",
    "groupby_cube",
    "window_rank_lag",
    "window_running_sum",
    "topk_per_group",
    "distinct_agg",
    "case_expr_bucketing",
    "exists_subquery",
    "json_sink_roundtrip",
    "l_diversity",
    "two_hop_features",
    "range_join",
    "kaplan_meier",
]


def _driver_order(all_queries: dict) -> list[str]:
    front = [n for n in _RECHECK if n in all_queries]
    front += [n for n in all_queries if n not in front]
    return front


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    base = _queries_unordered()
    return {name: _pin_utc(base[name]) for name in _driver_order(base)}


def _queries_unordered() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "pricing_summary": q_pricing_summary,
        "projection": q_projection,
        "filter": q_filter,
        "column_exclusion": q_column_exclusion,
        "minmax_probe": q_minmax_probe,
        "range_split": q_range_split,
        "top1": q_top1,
        "anti_join_merge": q_anti_join_merge,
        "union_all": q_union_all,
        "dedup_window": q_dedup_window,
        "merge_load": q_merge_load,
        "versioned_merge": q_versioned_merge,
        "append_load": q_append_load,
        "partitioned_load": q_partitioned_load,
        "csv_roundtrip": q_csv_roundtrip,
        "hive_text_roundtrip": q_hive_text_roundtrip,
        "json_roundtrip": q_json_roundtrip,
        "avro_roundtrip": q_avro_roundtrip,
        "jdbc_roundtrip": q_jdbc_roundtrip,
        "json_extract": q_json_extract,
        "explode": q_explode,
        "quarantine_good": q_quarantine_good,
        "quarantine_bad": q_quarantine_bad,
        "flatten_json_array": q_flatten_json_array,
        "map_rows_tokens": q_map_rows_tokens,
        "drop_falsy": q_drop_falsy,
        "multi_sink_fanout": q_multi_sink_fanout,
        "pruned_scan": q_pruned_scan,
        "compacted_load": q_compacted_load,
        **m5_queries.QUERIES,
        **rel_queries.QUERIES,
        **temporal_queries.QUERIES,
    }


_ORACLE: dict[str, str] = {
    "pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_base_price,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS sum_disc_price,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(28,6))) AS DOUBLE) AS sum_charge,
               COUNT(*) AS count_order
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "projection": "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem",
    "filter": """
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        FROM lineitem WHERE l_quantity > 30
    """,
    "column_exclusion": "SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders",
    "minmax_probe": """
        SELECT min(l_orderkey) AS lo, max(l_orderkey) AS hi,
               min(l_shipdate) AS ship_lo, max(l_shipdate) AS ship_hi
        FROM lineitem
    """,
    "range_split": "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem",
    "top1": """
        SELECT l_orderkey, l_linenumber, l_extendedprice
        FROM lineitem
        ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        LIMIT 1
    """,
    "anti_join_merge": """
        WITH staging AS (
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                   o_orderdate, 'MERGED' AS o_orderpriority
            FROM orders WHERE o_orderkey % 3 = 0
        )
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        FROM orders t
        WHERE NOT EXISTS (SELECT 1 FROM staging s WHERE s.o_orderkey = t.o_orderkey)
        UNION ALL
        SELECT * FROM staging
    """,
    "union_all": """
        SELECT o_orderkey, o_totalprice FROM orders
        UNION ALL
        SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 100000
    """,
    "dedup_window": """
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey
            ) AS rnk
            FROM orders
        ) WHERE rnk = 1
    """,
    "merge_load": """
        WITH staging AS (
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                   o_orderdate, 'MERGED' AS o_orderpriority
            FROM orders WHERE o_orderkey % 3 = 0
        )
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        FROM orders t
        WHERE NOT EXISTS (SELECT 1 FROM staging s WHERE s.o_orderkey = t.o_orderkey)
        UNION ALL
        SELECT * FROM staging
    """,
    "versioned_merge": """
        WITH staging AS (
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                   o_orderdate, 'MERGED' AS o_orderpriority
            FROM orders WHERE o_orderkey % 3 = 0
        )
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        FROM orders t
        WHERE NOT EXISTS (SELECT 1 FROM staging s WHERE s.o_orderkey = t.o_orderkey)
        UNION ALL
        SELECT * FROM staging
    """,
    "append_load": """
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        FROM orders
    """,
    "partitioned_load": """
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority,
               CAST(year(o_orderdate) AS INTEGER) AS o_year
        FROM orders
    """,
    "csv_roundtrip": "SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem",
    "json_roundtrip": "SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem",
    "avro_roundtrip": "SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem",
    "jdbc_roundtrip": """
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        FROM orders
    """,
    "hive_text_roundtrip": "SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem",
    "json_extract": """
        SELECT event_id, event_type,
               CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        FROM events
    """,
    "explode": """
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    """,
    "quarantine_good": """
        WITH ev AS (
            SELECT event_id, event_type,
                   CASE WHEN event_id % 10 = 0 THEN 'garbage' ELSE props END AS props
            FROM events
        )
        SELECT event_id, event_type, props FROM ev
        WHERE json_extract_string(try_cast(props AS JSON), '$.k') IS NOT NULL
    """,
    "quarantine_bad": """
        WITH ev AS (
            SELECT event_id, event_type,
                   CASE WHEN event_id % 10 = 0 THEN 'garbage' ELSE props END AS props
            FROM events
        )
        SELECT event_id, event_type, props FROM ev
        WHERE json_extract_string(try_cast(props AS JSON), '$.k') IS NULL
    """,
    "flatten_json_array": """
        WITH base AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 7 <> 0)
        SELECT o_orderkey, 's' || o_orderkey AS sku,
               CAST(o_orderkey % 5 AS INTEGER) AS qty FROM base
        UNION ALL
        SELECT o_orderkey, 't' || o_orderkey AS sku, 1 AS qty FROM base
    """,
    "map_rows_tokens": """
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    """,
    "drop_falsy": """
        WITH ev AS (
            SELECT event_id,
                   CASE WHEN event_id % 10 = 0 THEN 'garbage' ELSE props END AS props
            FROM events
        ), ex AS (
            SELECT event_id,
                   json_extract_string(try_cast(props AS JSON), '$.k') AS k
            FROM ev
        )
        SELECT event_id, k FROM ex
        WHERE k IS NOT NULL AND k <> '' AND k <> '0' AND k NOT IN ('false', 'False')
    """,
    "multi_sink_fanout": "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem",
    "pruned_scan": """
        SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity
        FROM lineitem
        WHERE l_shipdate BETWEEN DATE '1995-01-01' AND DATE '1995-03-31'
    """,
    "compacted_load": "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem",
}


def oracle_sql() -> dict[str, str]:
    out = dict(_ORACLE)
    out.update(m5_queries.ORACLE)
    out.update(rel_queries.ORACLE)
    out.update(temporal_queries.ORACLE)
    return out
