"""Transform operators — OP-13..OP-17.

The reference's whole transform surface is one per-row hook
(``transformer.py:11-16``, invoked ``handler/base.py:23-41``) with
three behaviors: scalar map (row→row), filter (falsy→drop,
``base.py:35-37``), and flat-map (row→list of rows, emitted one line
each, ``csv_handler.py:80-90``). Its *documented* intent
(``README.md:26-27``) is JSON extraction + row flattening.

Spark-first re-expression:
  - The documented case is pure Catalyst: ``json_extract`` →
    ``F.get_json_object`` / ``F.from_json``; ``flatten_json_array`` →
    ``from_json`` + ``explode`` — JVM-side, codegen'd, no Python.
  - The general hook is ``map_rows`` over ``mapInPandas``: the user
    function sees pandas DataFrames (Arrow batches, 10-100× faster
    than row-at-a-time UDFs) and may return fewer rows (filter), more
    rows (flat-map), or transformed rows — the exact semantics of the
    reference hook, vectorized.
  - OP-17 error-row handling: the reference silently logs-and-skips
    failed rows (``handler/base.py:43-44``). ``quarantine`` replaces
    that with an auditable split: (good, bad) DataFrames by predicate,
    e.g. malformed JSON → bad side (SURVEY §7.1).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import TYPE_CHECKING, Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lightlane_spark.cache import cache_scope, tracked_persist

if TYPE_CHECKING:
    import pandas as pd


def json_extract(df: DataFrame, source_col: str, fields: dict[str, str]) -> DataFrame:
    """OP-13 (documented intent): extract JSON paths into columns.

    ``fields`` maps output column name → JSONPath (``$.a.b``). Uses
    ``get_json_object`` (JVM, codegen) — no schema needed, NULL on
    malformed input rather than failure (PERMISSIVE, OP-17-friendly).
    Every field reads the original ``source_col``, also when one of
    them replaces it.
    """
    src = F.col(source_col)
    return df.withColumns({name: F.get_json_object(src, path) for name, path in fields.items()})


def flatten_json_array(
    df: DataFrame,
    source_col: str,
    array_path_schema: str,
    out_col: str = "item",
    keep_nulls: bool = False,
) -> DataFrame:
    """OP-13 (flatten): parse a JSON array column and explode it —
    one row → many. ``array_path_schema`` is the Spark DDL schema of
    the array, e.g. ``array<struct<sku:string,qty:int>>``.

    ``keep_nulls=True`` uses ``explode_outer`` so rows whose array is
    NULL/empty survive with a NULL item (the reference drops them —
    falsy transform result, ``handler/base.py:35-37``).
    """
    parsed = F.from_json(F.col(source_col), array_path_schema)
    exploder = F.explode_outer if keep_nulls else F.explode
    return df.withColumn(out_col, exploder(parsed)).drop(source_col)


def map_rows(
    df: DataFrame,
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema: T.StructType | str,
) -> DataFrame:
    """OP-13 (general hook): vectorized replacement for the reference's
    per-row ``Transformer.transform``.

    ``fn`` receives pandas batches (Arrow transfer) and may filter,
    expand, or reshape them — covering the hook's map / filter /
    flat-map behaviors at batch granularity. Runs on executors;
    nothing is collected to the driver.

    The package is shipped to executors first: ``fn`` may reference
    importable functions of this repo, which cloudpickle serializes by
    reference (see shipping.py).
    """
    from lightlane_spark.shipping import ensure_package_shipped

    ensure_package_shipped(df.sparkSession)

    def apply_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = fn(pdf)
            if out is not None and len(out):
                yield out

    return df.mapInPandas(apply_batches, schema=schema)


def grouped_apply(
    df: DataFrame,
    keys: list[str],
    fn: "Callable[[pd.DataFrame], pd.DataFrame]",
    schema: "T.StructType | str",
) -> DataFrame:
    """Grouped-map ``applyInPandas``: ``fn`` receives each key-group as
    ONE pandas DataFrame (vs ``map_rows``' arbitrary batches) — the
    surface for per-group logic a window can't express (model scoring,
    iterative fits, bespoke rankers).

    One shuffle on ``keys``; each group materializes in executor
    memory, so this is for bounded groups — prefer window functions or
    ``map_rows`` when a single key can be corpus-sized (or salt the
    key first, operators/skew.py).
    """
    from lightlane_spark.shipping import ensure_package_shipped

    ensure_package_shipped(df.sparkSession)
    return df.groupBy(*keys).applyInPandas(fn, schema=schema)


def drop_falsy(df: DataFrame, col: str) -> DataFrame:
    """OP-13 filter semantics: the reference drops a row when the
    transform returns a falsy value (``handler/base.py:35-37``) —
    declaratively: drop rows where ``col`` is NULL/''/0/false."""
    c = F.col(col)
    falsy = c.isNull() | (c.cast("string") == "") | (c.cast("string") == "0") | (
        c.cast("string").isin("false", "False")
    )
    return df.filter(~falsy)


def quarantine(
    df: DataFrame, good_predicate: Column | str
) -> tuple[DataFrame, DataFrame]:
    """OP-17: split rows into (good, bad) by predicate instead of the
    reference's silent log-and-skip (``handler/base.py:43-44``).

    Both sides derive from one scan; callers typically persist ``df``
    before writing both (OP-20 fan-out pattern).
    """
    pred = F.expr(good_predicate) if isinstance(good_predicate, str) else good_predicate
    good = df.filter(pred)
    bad = df.filter(~pred | pred.isNull())
    return good, bad


def fan_out(df: DataFrame, sinks: list[Callable[[DataFrame], Any]]) -> None:
    """OP-20: one scan, many outputs (reference ``call_handlers``,
    ``dumper/worker.py:19-23``). With two or more sinks the frame is
    persisted once and written N times, so every sink reads one
    extract; a lone sink reads ``df`` itself, since a persist read once
    only adds a cache write (``etl_load`` single-sink ops ran faster
    without it)."""
    with cache_scope():
        src = df.transform(tracked_persist) if len(sinks) > 1 else df
        for sink in sinks:
            sink(src)


def chunk_text_udtf(chunk_size: int = 32, stride: int = 24):
    """Python UDTF (Spark 4): split a document into overlapping
    fixed-size word windows — LLM context-window chunking / sequence
    packing. One chunk starts at every multiple of ``stride`` below
    the word count, so consecutive chunks overlap by
    ``chunk_size - stride`` words.

    The UDTF is the Spark-4-native face of the reference's
    row→many-rows Transformer hook (LightLane/transformer.py:11-16,
    handler emit loop csv_handler.py:80-90) — same surface, but
    table-valued; apply it per row with ``DataFrame.lateralJoin``
    (no catalog registration needed). Scale: per-row generator, no state, embarrassingly
    parallel; prefer the pure-SQL `F.sequence`+`slice` form
    (operators/fuzzy_dedup.py::shingle pattern) when the chunk rule
    is expressible — the UDTF exists for rules that aren't.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx: int, chunk: string, n_words: int")
    class ChunkText:
        def eval(self, text: str):
            if text is None:
                return
            words = text.split(" ")
            idx = 0
            for start in range(0, len(words), stride):
                part = words[start : start + chunk_size]
                yield idx, " ".join(part), len(part)
                idx += 1

    return ChunkText


def basket_pair_counts(df: DataFrame, basket_col: str = "bs") -> DataFrame:
    """Global upper-triangle pair supports over sorted integer-coded
    basket arrays — the co-occurrence primitive behind market-basket
    and PMI queries.

    The pair expansion is two NESTED codegen Generates entirely
    inside the JVM: ``posexplode`` yields each basket element ``a``
    with its position, and a ``slice``-fed ``explode`` yields every
    later element ``b`` — no lambda higher-order functions (those run
    interpreted, the r12 profile's 1.2 µs/element trap), no pair
    ARRAY ever materialized, and no Python boundary. The hash
    aggregate's map-side partial combine bounds what reaches the
    exchange at ≤ |pair-domain| rows per task (a few kilobytes for
    dictionary-coded baskets) regardless of basket count — the same
    shuffle contract the previous Arrow ``mapInPandas`` bincount
    combiner gave, without its per-task Python worker round-trip
    (guide §4: the boundary itself was the cost — measured 0.6-0.7 s
    per warm task wave; the r13 interleaved A/B at sf0.1 and at the
    10× derived corpus both favor this form, 1.12 vs 1.39 s and
    3.8 vs 4.4 s).

    Contract: ``basket_col`` must hold ASC-SORTED arrays of small
    non-negative integer codes (collect_set + array_sort upstream);
    code order must mirror the caller's desired pair order, so pair
    (a, b) with a < b in code space IS the caller's (x, y), x < y.
    Counts are exact integer COUNT(*)s — oracle parity is
    unconditional, no float anywhere. Returns the globally aggregated
    (a, b, support) with a/b as longs.

    Baskets shorter than 2 contribute nothing: ``posexplode`` emits
    their lone element but the inner non-outer ``explode`` of an
    empty slice drops the row.

    Name-robust (ADVICE r13): the basket column is re-aliased to a
    reserved internal name first and the slice is built from
    Column-typed args (``F.slice`` accepts Column start/length), so a
    caller's ``basket_col`` named ``a``/``__i`` or needing backticks
    can never collide with the internal aliases or break SQL-string
    parsing. Same two-Generate codegen plan as the F.expr form.
    """
    d = df.select(F.col(basket_col).alias("__ll_bs"))
    e1 = d.select(
        F.posexplode("__ll_bs").alias("__ll_i", "__ll_a"), F.col("__ll_bs")
    )
    e2 = e1.select(
        "__ll_a",
        F.explode(
            F.slice(
                F.col("__ll_bs"),
                F.col("__ll_i") + F.lit(2),
                F.size("__ll_bs") - F.col("__ll_i") - F.lit(1),
            )
        ).alias("__ll_b"),
    )
    return e2.groupBy(
        F.col("__ll_a").cast("long").alias("a"),
        F.col("__ll_b").cast("long").alias("b"),
    ).agg(F.count(F.lit(1)).alias("support"))


def stratified_sample(
    df,
    stratum_col: str,
    fractions: dict,
    key_col: str = "doc_id",
    default: float = 1.0,
):
    """Deterministic per-stratum sampling: keep a row iff
    portable-hash(key) % 10000 < stratum_fraction * 10000.

    The corpus-rebalancing primitive (downsample dominant languages /
    sources, keep rare ones whole). Same keys sampled across engines,
    runs, and partitionings — reproducible pipelines, and join-safe
    (sample both sides of a join identically). Map-only: no shuffle,
    no driver involvement, linear at 100 TB.
    """
    from pyspark.sql import functions as F

    from lightlane_spark.functions.hashing import h32

    pct = h32(F.col(key_col).cast("string")) % 10000
    rate = F.lit(int(default * 10000))
    for stratum, frac in sorted(fractions.items()):
        rate = F.when(F.col(stratum_col) == stratum, int(frac * 10000)).otherwise(rate)
    return df.filter(pct < rate)
