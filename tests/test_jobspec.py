"""Declarative job specs compile onto Pipeline and reproduce the
reference's dump / load job shapes end-to-end."""

from __future__ import annotations

import threading

import pytest

from pyspark.sql import functions as F

from lightlane_spark.jobspec import build_pipeline, run_job
from lightlane_spark.loaders.text_sinks import read_csv
from lightlane_spark.sources.parquet import read_table


def test_dump_job_spec(spark, sf_dir, tmp_path):
    """Reference SQLDumper shape: table + columns + where + range split
    → CSV sink (dumper/sql.py:31-47 kwargs as data)."""
    out = str(tmp_path / "dump_csv")
    spec = {
        "extract": {
            "kind": "parquet",
            "sf_dir": sf_dir,
            "table": "lineitem",
            "columns": ["l_orderkey", "l_linenumber", "l_quantity"],
            "where": "l_quantity > 30",
            "splitby": "l_orderkey",
            "splits": 4,
        },
        "sinks": [{"kind": "csv", "path": out}],
    }
    metrics = run_job(spark, spec)
    assert metrics["extracted"]["rows"] > 0
    back = read_csv(
        spark, out, "l_orderkey bigint, l_linenumber int, l_quantity double"
    )
    expect = (
        read_table(spark, sf_dir, "lineitem")
        .filter("l_quantity > 30")
        .count()
    )
    assert back.count() == expect


def test_transform_and_merge_load_spec(spark, sf_dir, tmp_path):
    """Transforms + quarantine + MERGE load — the HiveLoader shape."""
    target = str(tmp_path / "orders_t")
    base = {
        "extract": {"kind": "parquet", "sf_dir": sf_dir, "table": "orders"},
        "load": {"path": target, "mode": "overwrite"},
    }
    run_job(spark, base)
    spec = {
        "extract": {"kind": "parquet", "sf_dir": sf_dir, "table": "orders"},
        "transforms": [
            {"op": "filter", "predicate": "o_orderkey % 3 = 0"},
            {"op": "with_column", "name": "o_orderpriority", "expr": "'MERGED'"},
            {"op": "dedup", "keys": ["o_orderkey"], "orderby": ["o_orderdate DESC"]},
        ],
        "load": {
            "path": target,
            "mode": "merge",
            "primary_keys": ["o_orderkey"],
        },
    }
    run_job(spark, spec)
    merged = spark.read.parquet(target)
    n_merged = merged.filter("o_orderpriority = 'MERGED'").count()
    expect = (
        read_table(spark, sf_dir, "orders").filter("o_orderkey % 3 = 0").count()
    )
    assert n_merged == expect
    assert merged.count() == read_table(spark, sf_dir, "orders").count()


def test_single_sink_merge_counts_staging_rows(spark, sf_dir, tmp_path):
    """A one-sink MERGE reads its staging extract without a persist, so
    the merge plan reads it twice; the observed extract count is still
    the staging row count."""
    target = str(tmp_path / "orders_t")
    orders = read_table(spark, sf_dir, "orders")
    run_job(spark, {
        "extract": {"kind": "parquet", "sf_dir": sf_dir, "table": "orders"},
        "load": {"path": target, "mode": "overwrite"},
    })
    orders.filter("o_orderkey % 7 = 0").withColumn(
        "o_orderpriority", F.lit("MERGED")
    ).write.parquet(str(tmp_path / "batch.parquet"))
    staged = read_table(spark, str(tmp_path), "batch").count()
    assert staged > 0
    metrics = run_job(spark, {
        "extract": {"kind": "parquet", "sf_dir": str(tmp_path), "table": "batch"},
        "load": {"path": target, "mode": "merge", "primary_keys": ["o_orderkey"],
                 "dedup": True, "dedup_uniq_keys": ["o_orderkey"]},
    })
    assert metrics["extracted"]["rows"] == staged
    merged = spark.read.parquet(target)
    assert merged.filter("o_orderpriority = 'MERGED'").count() == staged
    assert merged.count() == orders.count()


def test_single_sink_merge_reads_staging_once(spark, sf_dir, tmp_path):
    """A deduplicated MERGE shuffles its staging rows once: the
    anti-join reads the raw staging keys (dedup keeps a row per key, so
    the key set is the same), leaving five jobs — staging schema, target
    schema, the dedup shuffle, the key broadcast, the write."""
    target = str(tmp_path / "orders_t")
    orders = read_table(spark, sf_dir, "orders")
    run_job(spark, {
        "extract": {"kind": "parquet", "sf_dir": sf_dir, "table": "orders"},
        "load": {"path": target, "mode": "overwrite"},
    })
    batch = orders.filter("o_orderkey % 10 = 0").withColumn(
        "o_orderpriority", F.lit("MERGED")
    )
    dups = batch.limit(10).withColumn("o_orderpriority", F.lit("DUP"))
    batch.unionByName(dups).write.parquet(str(tmp_path / "batch.parquet"))
    sc = spark.sparkContext
    sc.setJobGroup("single_sink_merge", "single_sink_merge")
    try:
        metrics = run_job(spark, {
            "extract": {"kind": "parquet", "sf_dir": str(tmp_path), "table": "batch"},
            "load": {"path": target, "mode": "merge", "primary_keys": ["o_orderkey"],
                     "dedup": True, "dedup_uniq_keys": ["o_orderkey"]},
        })
    finally:
        sc._jsc.clearJobGroup()
    assert len(sc.statusTracker().getJobIdsForGroup("single_sink_merge")) <= 5
    assert metrics["extracted"]["rows"] == batch.count() + 10
    merged = spark.read.parquet(target)
    assert merged.count() == orders.count()
    assert merged.filter("o_orderpriority = 'MERGED'").count() == batch.count() - 10
    assert merged.filter("o_orderpriority = 'DUP'").count() == 10


def test_sql_and_quarantine_spec(spark, sf_dir, tmp_path):
    spec = {
        "extract": {"kind": "parquet", "sf_dir": sf_dir, "table": "orders"},
        "transforms": [
            {"op": "sql", "query": "SELECT o_orderkey, o_totalprice FROM __this__"},
        ],
        "quarantine": {
            "good_predicate": "o_totalprice > 1000",
            "bad_path": str(tmp_path / "bad"),
        },
        "sinks": [{"kind": "parquet", "path": str(tmp_path / "good")}],
    }
    m = run_job(spark, spec)
    good = spark.read.parquet(str(tmp_path / "good"))
    bad = spark.read.parquet(str(tmp_path / "bad"))
    total = read_table(spark, sf_dir, "orders").count()
    assert good.count() + bad.count() == total
    assert m["good"]["rows"] == good.count()
    assert good.columns == ["o_orderkey", "o_totalprice"]


def _run_job_within(spark, spec, timeout_s=120):
    """``run_job(spark, spec)`` on a daemon thread: a run still blocked
    after ``timeout_s`` fails the test instead of hanging the suite."""
    out = {}

    def target():
        try:
            out["metrics"] = run_job(spark, spec)
        except BaseException as e:  # re-raised on the test's thread
            out["error"] = e

    t = threading.Thread(target=target, daemon=True)
    t.start()
    t.join(timeout_s)
    assert not t.is_alive(), f"run_job still blocked after {timeout_s} s"
    if "error" in out:
        raise out["error"]
    return out["metrics"]


def test_quarantine_without_bad_sink_returns(spark, sf_dir, tmp_path):
    """A quarantine with no ``bad_path`` drops the bad rows: the run
    returns the counts of the frames it wrote, with no ``quarantined``
    entry (nothing reads that half, so its count would never fill)."""
    target = str(tmp_path / "orders_t")
    m = _run_job_within(spark, {
        "extract": {"kind": "parquet", "sf_dir": sf_dir, "table": "orders"},
        "quarantine": {"good_predicate": "o_totalprice > 1000"},
        "load": {"path": target, "mode": "overwrite"},
    })
    orders = read_table(spark, sf_dir, "orders")
    n_good = orders.filter("o_totalprice > 1000").count()
    assert spark.read.parquet(target).count() == n_good
    assert m["good"]["rows"] == n_good
    assert m["extracted"]["rows"] == orders.count()
    assert "quarantined" not in m


def test_quarantine_with_only_bad_sink_returns(spark, sf_dir, tmp_path):
    """The mirror: a ``bad_path`` and no sink or load writes only the
    quarantined rows and returns their count, with no ``good`` entry."""
    bad = str(tmp_path / "bad")
    m = _run_job_within(spark, {
        "extract": {"kind": "parquet", "sf_dir": sf_dir, "table": "orders"},
        "quarantine": {"good_predicate": "o_totalprice > 1000", "bad_path": bad},
    })
    orders = read_table(spark, sf_dir, "orders")
    n_bad = orders.count() - orders.filter("o_totalprice > 1000").count()
    assert spark.read.parquet(bad).count() == n_bad
    assert m["quarantined"]["rows"] == n_bad
    assert m["extracted"]["rows"] == orders.count()
    assert "good" not in m


@pytest.mark.parametrize(
    "orderby, keep",
    [
        ("ts DESC", {1: 20, 2: 7, 3: 4}),
        ("ts", {1: 10, 2: 5, 3: None}),
        ("ts ASC", {1: 10, 2: 5, 3: None}),
        ("ts DESC NULLS FIRST", {1: 20, 2: 7, 3: None}),
        ("ts asc nulls last", {1: 10, 2: 5, 3: 4}),
    ],
)
def test_dedup_orderby_direction(spark, tmp_path, orderby, keep):
    """A spec ``dedup`` honours a trailing ``ASC|DESC [NULLS FIRST|LAST]``
    with Spark SQL's defaults (NULLs first under ASC, last under DESC).
    ``F.expr("ts DESC")`` alone reads as the alias ``ts AS DESC`` and
    keeps the smallest ``ts``."""
    rows = [(1, 10), (1, 20), (2, 5), (2, 7), (3, None), (3, 4)]
    spark.createDataFrame(rows, "k: int, ts: int").write.parquet(
        str(tmp_path / "events.parquet")
    )
    df = build_pipeline(spark, {
        "extract": {"kind": "parquet", "sf_dir": str(tmp_path), "table": "events"},
        "transforms": [{"op": "dedup", "keys": ["k"], "orderby": [orderby]}],
    }).dataframe()
    assert {r.k: r.ts for r in df.collect()} == keep


def test_spec_rejects_unknown_ops(spark, sf_dir):
    with pytest.raises(ValueError, match="unknown transform op"):
        build_pipeline(
            spark,
            {
                "extract": {"kind": "parquet", "sf_dir": sf_dir, "table": "orders"},
                "transforms": [{"op": "exec_python", "code": "boom"}],
            },
        )
    with pytest.raises(ValueError, match="extract"):
        build_pipeline(spark, {})


def test_cli_run_and_explain(spark, sf_dir, tmp_path):
    """`python -m lightlane_spark run|explain spec.json` — in-process
    (reusing the session fixture; get_spark getOrCreate's it)."""
    import json as _json

    from lightlane_spark.__main__ import main

    out = str(tmp_path / "cli_out")
    spec = {
        "extract": {
            "kind": "parquet",
            "sf_dir": sf_dir,
            "table": "orders",
            "columns": ["o_orderkey", "o_totalprice"],
            "where": "o_totalprice > 100000",
        },
        "sinks": [{"kind": "parquet", "path": out}],
    }
    spec_path = str(tmp_path / "job.json")
    with open(spec_path, "w") as f:
        _json.dump(spec, f)

    assert main(["explain", spec_path]) == 0
    assert main(["run", spec_path]) == 0
    back = spark.read.parquet(out)
    assert back.count() == (
        read_table(spark, sf_dir, "orders").filter("o_totalprice > 100000").count()
    )


def test_avro_and_json_sink_specs(spark, sf_dir, tmp_path):
    """Declarative fan-out to the round-4 sink kinds: one extract,
    avro + json sinks, both read back row-complete."""
    from lightlane_spark.loaders.avro_sink import read_avro
    from lightlane_spark.loaders.text_sinks import read_json

    avro_out = str(tmp_path / "sink_avro")
    json_out = str(tmp_path / "sink_json")
    spec = {
        "extract": {
            "kind": "parquet",
            "sf_dir": sf_dir,
            "table": "lineitem",
            "columns": ["l_orderkey", "l_linenumber", "l_quantity"],
        },
        "sinks": [
            {"kind": "avro", "path": avro_out},
            {"kind": "json", "path": json_out},
        ],
    }
    run_job(spark, spec)
    ddl = "l_orderkey bigint, l_linenumber int, l_quantity double"
    n = read_table(spark, sf_dir, "lineitem").count()
    assert read_avro(spark, avro_out, ddl).count() == n
    assert read_json(spark, json_out, ddl).count() == n


def test_curation_ops_in_spec(spark, sf_dir, tmp_path):
    """The round-4 curation transforms are spec-addressable: build a
    messy-URL corpus, url_dedup it, score with the bigram LM, and cut
    on the score — all as data, no Python."""
    out = str(tmp_path / "curated")
    spec = {
        "extract": {
            "kind": "parquet",
            "sf_dir": sf_dir,
            "table": "documents",
            "columns": ["doc_id", "text", "source"],
        },
        "transforms": [
            {
                "op": "with_column",
                "name": "url",
                "expr": "concat('HTTP://', upper(source), '.EX.com:80/d/',"
                " CAST(doc_id % 9 AS STRING), '?utm_source=x')",
            },
            {"op": "url_dedup", "url_col": "url", "id_col": "doc_id"},
            {"op": "lm_score", "text_col": "text", "id_col": "doc_id"},
            {"op": "filter", "predicate": "lm_score IS NOT NULL"},
            {"op": "select", "columns": ["doc_id", "norm_url", "lm_score"]},
        ],
        "sinks": [{"kind": "parquet", "path": out}],
    }
    metrics = run_job(spark, spec)
    back = spark.read.parquet(out)
    # 9 distinct canonical urls per source-group... dedup keyed on the
    # normalized url (source x doc_id%9 buckets)
    n_groups = (
        read_table(spark, sf_dir, "documents")
        .selectExpr("lower(source) AS s", "doc_id % 9 AS m")
        .distinct()
        .count()
    )
    assert back.count() == n_groups
    assert set(back.columns) == {"doc_id", "norm_url", "lm_score"}
    assert back.where("norm_url LIKE 'http://%.ex.com/d/%?%'").count() == 0  # utm gone
    assert back.where("norm_url LIKE 'http://%.ex.com/d/%'").count() == n_groups


def test_lineage_cli_subcommand(spark, sf_dir, tmp_path, capsys):
    """`python -m lightlane_spark lineage spec.json` prints one JSON
    object mapping output columns to leaf sources, no execution."""
    import json as _json

    from lightlane_spark.__main__ import main as cli_main

    spec = {
        "extract": {
            "kind": "parquet",
            "sf_dir": sf_dir,
            "table": "lineitem",
            "columns": ["l_orderkey", "l_quantity", "l_extendedprice"],
        },
        "transforms": [
            {"op": "with_column", "name": "rev", "expr": "l_quantity * l_extendedprice"},
            {"op": "select", "columns": ["l_orderkey", "rev"]},
        ],
    }
    p = tmp_path / "spec.json"
    p.write_text(_json.dumps(spec))
    rc = cli_main(["lineage", str(p)])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["columns"]["rev"]["sources"] == [
        "leaf0.l_extendedprice",
        "leaf0.l_quantity",
    ]
    assert out["columns"]["l_orderkey"]["sources"] == ["leaf0.l_orderkey"]


def _sql_spec(sf_dir, where):
    return {
        "extract": {"kind": "parquet", "sf_dir": sf_dir, "table": "orders"},
        "transforms": [
            {"op": "filter", "predicate": where},
            {"op": "sql", "query": "SELECT o_orderkey FROM __this__"},
        ],
    }


def test_sql_transform_leaves_catalog_alone(spark, sf_dir, tmp_path):
    """The ``sql`` transform's stage view is gone once the job has run,
    and a persisted input stays cached."""
    before = {t.name for t in spark.catalog.listTables()}
    spec = _sql_spec(sf_dir, "o_orderkey % 2 = 0")
    spec["sinks"] = [{"kind": "parquet", "path": str(tmp_path / "out")}]
    run_job(spark, spec)
    after = {t.name for t in spark.catalog.listTables()}
    assert after <= before
    assert not [n for n in after if n.startswith("__this")]

    from lightlane_spark.jobspec import _t_sql

    pinned = read_table(spark, sf_dir, "orders").select("o_orderkey").persist()
    try:
        pinned.count()
        n = _t_sql(pinned, "SELECT count(*) AS n FROM __this__").first().n
        assert n == pinned.count()
        cm = spark._jsparkSession.sharedState().cacheManager()  # noqa: SLF001
        assert cm.lookupCachedData(pinned._jdf).isDefined()  # noqa: SLF001
    finally:
        pinned.unpersist()


def test_sql_transforms_on_two_threads_read_their_own_stage(spark, sf_dir):
    """Two threads run ``sql`` transforms over different frames at the
    same time; each gets its own rows."""
    import threading

    preds = {"even": "o_orderkey % 2 = 0", "odd": "o_orderkey % 2 = 1"}
    got: dict[str, set[int]] = {}
    errors: list[BaseException] = []
    barrier = threading.Barrier(len(preds))

    def work(tag: str) -> None:
        try:
            barrier.wait()
            for _ in range(3):
                df = build_pipeline(spark, _sql_spec(sf_dir, preds[tag])).dataframe()
                got.setdefault(tag, set()).update(r.o_orderkey for r in df.collect())
        except BaseException as exc:  # noqa: BLE001 — re-raised below
            errors.append(exc)

    threads = [threading.Thread(target=work, args=(t,)) for t in preds]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert got["even"] and all(k % 2 == 0 for k in got["even"])
    assert got["odd"] and all(k % 2 == 1 for k in got["odd"])
