"""Declarative job specs: a plain dict (load it from JSON/YAML as you
like) compiled onto :class:`lightlane_spark.pipeline.Pipeline`.

The reference's jobs are constructor-kwarg bundles
(``SQLDumper(connector, table, columns, where, splitby, splits)`` →
``dumper/sql.py:31-47``; ``HiveLoader(..., mode, primary_keys,
dedup_*)`` → ``loader/hive_loader.py``) wired together in small
driver scripts. A spec captures the same fields as data, so a
reference user ports a job by transcribing its kwargs — no Python
required — and the whole job stays reviewable/diffable config.

Spec shape (all sections optional except ``extract`` and at least one
sink/load):

    {
      "extract": {"kind": "parquet", "sf_dir": ..., "table": ...,
                  "columns": [...], "where": "...", "exclude": [...],
                  "splitby": "col", "splits": 4}
               | {"kind": "jdbc", "url": ..., <read_jdbc kwargs>},
      "transforms": [
          {"op": "filter", "predicate": "l_quantity > 30"},
          {"op": "select", "columns": ["a", "b"]},
          {"op": "with_column", "name": "c", "expr": "a + b"},
          {"op": "drop", "columns": ["tmp"]},
          {"op": "json_extract", "column": "payload",
           "fields": {"sku": "$.sku"}},
          {"op": "explode", "column": "items", "alias": "item"},
          {"op": "dedup", "keys": [...], "orderby": ["ts DESC"]},
          {"op": "dedup_exact_text"} | {"op": "dedup_fuzzy",
           "threshold": 0.8} | {"op": "quota_sample", ...},
          {"op": "sql", "query": "SELECT ... FROM __this__"}
      ],
      "quarantine": {"good_predicate": "value IS NOT NULL",
                     "bad_path": ".../bad"},
      "sinks": [{"kind": "csv", "path": ...},
                {"kind": "hive_text", "path": ...},
                {"kind": "parquet", "path": ..., "mode": "overwrite"},
                {"kind": "jdbc", "url": ..., "table": ...}],
      "load": {"path": ..., "mode": "merge",
               "primary_keys": [...], <Loader kwargs>}
    }

A split jdbc extract with no ``bounds`` probes them from its ``table``
(``Pipeline.extract_jdbc``); a split ``query`` needs ``"bounds"``.

Transforms are a CLOSED registry — a spec is data, so it must not be
able to smuggle arbitrary callables; anything custom belongs in
``Pipeline.transform`` from Python. SQL strings in specs run with the
caller's session privileges, same trust model as the reference's
``where``/``query`` kwargs.
"""

from __future__ import annotations

import re
from types import MappingProxyType
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from lightlane_spark.cache import cache_scope
from lightlane_spark.catalog import sql_over
from lightlane_spark.pipeline import Pipeline


def _t_filter(df: DataFrame, predicate: str, **_: Any) -> DataFrame:
    return df.filter(predicate)


def _t_select(df: DataFrame, columns: list[str], **_: Any) -> DataFrame:
    return df.select(*columns)


def _t_with_column(df: DataFrame, name: str, expr: str, **_: Any) -> DataFrame:
    return df.withColumn(name, F.expr(expr))


def _t_drop(df: DataFrame, columns: list[str], **_: Any) -> DataFrame:
    return df.drop(*columns)


def _t_json_extract(
    df: DataFrame, column: str, fields: dict[str, str], **_: Any
) -> DataFrame:
    from lightlane_spark.operators.transform import json_extract

    return json_extract(df, column, fields)


def _t_explode(df: DataFrame, column: str, alias: str | None = None, **_: Any) -> DataFrame:
    return df.withColumn(alias or column, F.explode(F.col(column)))


def _t_dedup(
    df: DataFrame, keys: list[str], orderby: list[str] | None = None, **_: Any
) -> DataFrame:
    from lightlane_spark.operators.dedup import dedup_keep_first

    order_cols = [_sort_order(o) for o in orderby] if orderby else None
    return dedup_keep_first(df, keys, order_cols)


_SORT_ORDER = re.compile(
    r"(?P<expr>.+?)(?:\s+(?P<dir>ASC|DESC))?(?:\s+NULLS\s+(?P<nulls>FIRST|LAST))?",
    re.IGNORECASE | re.DOTALL,
)


def _sort_order(text: str) -> Column:
    """One SQL sort item, ``expr [ASC|DESC] [NULLS FIRST|LAST]``, as a
    sort column. ``F.expr`` alone would read ``ts DESC`` as the alias
    ``ts AS DESC`` and sort ascending. NULLs go where Spark SQL puts
    them by default: first under ASC, last under DESC."""
    m = _SORT_ORDER.fullmatch(text.strip())
    direction = (m["dir"] or "ASC").lower()
    nulls = (m["nulls"] or ("LAST" if direction == "desc" else "FIRST")).lower()
    return getattr(F.expr(m["expr"]), f"{direction}_nulls_{nulls}")()


def _t_sql(df: DataFrame, query: str, **_: Any) -> DataFrame:
    """Free-form SQL over the current stage, exposed as ``__this__``
    (catalog.py::sql_over: the caller's catalog is left as it was)."""
    return sql_over(df.sparkSession, query, __this__=df)


def _t_url_dedup(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id", **_: Any
) -> DataFrame:
    """Crawl stage-0: canonical-URL dedup (operators/web.py)."""
    from lightlane_spark.operators.web import url_dedup

    return url_dedup(df, url_col=url_col, id_col=id_col)


def _t_lm_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "lm_score",
    **_: Any,
) -> DataFrame:
    """Self-trained bigram-LM surprisal scores joined back onto the
    rows (operators/text.py::lm_doc_scores)."""
    from lightlane_spark.operators.text import lm_doc_scores

    scores = lm_doc_scores(df, text_col=text_col, id_col=id_col, out_col=out_col)
    return df.join(scores, on=id_col, how="left")


_TRANSFORMS: MappingProxyType[str, Any] = MappingProxyType({
    "filter": _t_filter,
    "select": _t_select,
    "with_column": _t_with_column,
    "drop": _t_drop,
    "json_extract": _t_json_extract,
    "explode": _t_explode,
    "dedup": _t_dedup,
    "sql": _t_sql,
    "url_dedup": _t_url_dedup,
    "lm_score": _t_lm_score,
})

# Pipeline-method transforms (corpus stages) — dispatched by name with
# the remaining spec keys as kwargs.
_PIPELINE_STAGES = frozenset({"dedup_exact_text", "dedup_fuzzy", "quota_sample"})


def build_pipeline(spark: SparkSession, spec: dict) -> Pipeline:
    """Compile ``spec`` to a ready-to-run Pipeline (lazy — call
    ``.run()`` for sinks or ``.dataframe()`` to inspect)."""
    if "extract" not in spec:
        raise ValueError("job spec needs an 'extract' section")
    p = Pipeline(spark)

    ex = dict(spec["extract"])
    kind = ex.pop("kind", "parquet")
    if kind == "parquet":
        p = p.extract_parquet(**ex)
    elif kind == "jdbc":
        p = p.extract_jdbc(**ex)
    else:
        raise ValueError(f"unknown extract kind {kind!r}")

    for t in spec.get("transforms", []):
        t = dict(t)
        op = t.pop("op", None)
        if op in _PIPELINE_STAGES:
            p = getattr(p, op)(**t)
        elif op in _TRANSFORMS:
            fn = _TRANSFORMS[op]
            p = p.transform(lambda df, _fn=fn, _kw=t: _fn(df, **_kw))
        else:
            raise ValueError(
                f"unknown transform op {op!r}; known: "
                f"{sorted(_TRANSFORMS) + sorted(_PIPELINE_STAGES)}"
            )

    q = spec.get("quarantine")
    if q:
        p = p.quarantine(q["good_predicate"])
        if q.get("bad_path"):
            p = p.bad_to_parquet(q["bad_path"])

    for s in spec.get("sinks", []):
        s = dict(s)
        kind = s.pop("kind")
        if kind == "csv":
            p = p.to_csv(**s)
        elif kind == "hive_text":
            p = p.to_hive_text(**s)
        elif kind == "parquet":
            p = p.to_parquet(**s)
        elif kind == "jdbc":
            p = p.to_jdbc(**s)
        elif kind == "json":
            p = p.to_json(**s)
        elif kind == "avro":
            p = p.to_avro(**s)
        else:
            raise ValueError(f"unknown sink kind {kind!r}")

    ld = spec.get("load")
    if ld:
        ld = dict(ld)
        p = p.load(ld.pop("path"), **ld)
    return p


def run_job(spark: SparkSession, spec: dict) -> dict:
    """Compile and execute a job spec in one ``cache_scope()``, so what
    the run persists is released when it ends, also on error; returns
    the pipeline metrics."""
    with cache_scope():
        return build_pipeline(spark, spec).run()
