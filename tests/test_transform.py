"""OP-13..OP-17, OP-20 — transform hook surface."""

from __future__ import annotations

from pyspark.sql import functions as F

from lightlane_spark.operators.transform import (
    drop_falsy,
    fan_out,
    flatten_json_array,
    json_extract,
    map_rows,
    quarantine,
)


def test_json_extract_with_malformed(spark):
    df = spark.createDataFrame(
        [(1, '{"a": {"b": 7}, "t": "x"}'), (2, "not json"), (3, None)],
        "id: bigint, payload: string",
    )
    out = json_extract(df, "payload", {"b": "$.a.b", "t": "$.t"}).orderBy("id").collect()
    assert (out[0].b, out[0].t) == ("7", "x")
    assert out[1].b is None and out[2].b is None  # malformed/null → NULL, no failure


def test_json_extract_fields_read_the_original_column(spark):
    """A field named like the source column replaces it, and the other
    fields still read the original JSON, not the replaced value."""
    df = spark.createDataFrame([('{"a": "x", "b": "y"}',)], "props: string")
    row = json_extract(df, "props", {"props": "$.a", "b": "$.b"}).first()
    assert (row.props, row.b) == ("x", "y")


def test_flatten_json_array(spark):
    df = spark.createDataFrame(
        [
            (1, '[{"sku": "a", "qty": 2}, {"sku": "b", "qty": 1}]'),
            (2, "[]"),
            (3, None),
            (4, "garbage"),
        ],
        "id: bigint, items: string",
    )
    schema = "array<struct<sku:string,qty:int>>"
    out = flatten_json_array(df, "items", schema).collect()
    assert {(r.id, r.item.sku, r.item.qty) for r in out} == {(1, "a", 2), (1, "b", 1)}
    outer = flatten_json_array(df, "items", schema, keep_nulls=True)
    assert outer.count() == 5  # ids 2,3,4 survive with NULL item


def test_map_rows_filter_and_expand(spark):
    df = spark.createDataFrame([(1, 2), (2, 3), (3, 0)], "id: bigint, n: int")

    def fn(pdf):
        pdf = pdf[pdf["n"] > 0]
        return pdf.loc[pdf.index.repeat(pdf["n"])][["id"]]  # flat-map: n copies

    out = map_rows(df, fn, "id bigint").groupBy("id").count().orderBy("id").collect()
    assert [(r.id, r["count"]) for r in out] == [(1, 2), (2, 3)]


def test_drop_falsy(spark):
    df = spark.createDataFrame(
        [(1, "x"), (2, ""), (3, None), (4, "0"), (5, "ok")], "id: bigint, v: string"
    )
    assert {r.id for r in drop_falsy(df, "v").collect()} == {1, 5}


def test_quarantine_splits_all_rows(spark):
    df = spark.createDataFrame(
        [(1, '{"k": 1}'), (2, "oops"), (3, None)], "id: bigint, payload: string"
    )
    good, bad = quarantine(df, F.get_json_object("payload", "$.k").isNotNull())
    assert {r.id for r in good.collect()} == {1}
    assert {r.id for r in bad.collect()} == {2, 3}
    assert good.count() + bad.count() == df.count()


def test_fan_out(spark, tmp_path):
    """Two sinks read one persisted extract, released after the run; a
    lone sink reads the frame as given and nothing is registered."""
    from lightlane_spark import cache

    df = spark.createDataFrame([(1,), (2,)], "id: bigint")
    seen = []

    def sink(path):
        def write(d):
            seen.append((d.storageLevel.useMemory, len(cache._TRACKED)))
            d.write.mode("overwrite").parquet(path)

        return write

    before = len(cache._TRACKED)
    paths = [str(tmp_path / "a"), str(tmp_path / "b")]
    fan_out(df, [sink(p) for p in paths])
    assert seen == [(True, before + 1)] * 2
    assert len(cache._TRACKED) == before
    for p in paths:
        assert spark.read.parquet(p).count() == 2

    seen.clear()
    fan_out(df, [sink(str(tmp_path / "one"))])
    assert seen == [(False, before)]
    assert len(cache._TRACKED) == before
    assert spark.read.parquet(str(tmp_path / "one")).count() == 2


def test_grouped_apply_per_group_frames(spark):
    from lightlane_spark.operators.transform import grouped_apply

    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 30.0), ("a", 3, 20.0), ("b", 4, 5.0)],
        "grp: string, id: bigint, v: double",
    )

    def top2(pdf):
        return pdf.sort_values("v", ascending=False).head(2)

    out = grouped_apply(df, ["grp"], top2, "grp string, id bigint, v double")
    assert {(r.grp, r.id) for r in out.collect()} == {("a", 2), ("a", 3), ("b", 4)}


def test_chunk_text_udtf_edges(spark):
    from lightlane_spark.operators.transform import chunk_text_udtf

    spark.udtf.register("t_chunk", chunk_text_udtf(4, 3))
    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "x"), (3, "")],
        "doc_id: bigint, text: string",
    )
    df.createOrReplaceTempView("__chunk_edges")
    got = {
        (r.doc_id, r.chunk_idx): (r.chunk, r.n_words)
        for r in spark.sql(
            "SELECT d.doc_id, c.* FROM __chunk_edges d, LATERAL t_chunk(d.text) c"
        ).collect()
    }
    # 8 words, size 4, stride 3 -> starts 0,3,6
    assert got[(1, 0)] == ("a b c d", 4)
    assert got[(1, 1)] == ("d e f g", 4)
    assert got[(1, 2)] == ("g h", 2)
    assert got[(2, 0)] == ("x", 1)
    assert got[(3, 0)] == ("", 1)  # split('') -> [''] like the SQL form


def test_permissive_corrupt_json_quarantine(spark, tmp_path):
    """Read-side error-row handling (OP-17's ingest face): PERMISSIVE
    JSON read routes malformed rows to _corrupt_record; quarantine
    splits them into an auditable sink instead of silently dropping."""
    import json as _json

    p = tmp_path / "mixed.json"
    lines = [_json.dumps({"id": 1, "v": 10}), "{not valid json!", _json.dumps({"id": 3, "v": 30})]
    p.write_text("\n".join(lines))
    df = (
        spark.read.schema("id bigint, v bigint, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(p))
        .cache()  # required: corrupt-record column can't be queried alone otherwise
    )
    good = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert sorted(r.id for r in good.collect()) == [1, 3]
    assert bad.count() == 1 and "not valid" in bad.first()["_corrupt_record"]


def test_basket_pair_counts_matches_bruteforce(spark):
    """The nested-Generate pair expansion (r13: replaced the Arrow
    mapInPandas bincount combiner) must produce exactly the
    upper-triangle pair supports of a python brute force, drop
    sub-2-element baskets, stay long-typed, and keep a python-free
    plan (no BatchEvalPython/ArrowEvalPython/MapInPandas node)."""
    from itertools import combinations

    from lightlane_spark.operators.transform import basket_pair_counts

    rows = [
        ([0, 2, 5],),
        ([2, 5],),
        ([1],),
        ([],),
        ([0, 2, 5, 9],),
    ]
    df = spark.createDataFrame(rows, "bs: array<int>")
    got = {
        (r.a, r.b): r.support
        for r in basket_pair_counts(df, "bs").collect()
    }
    want: dict[tuple[int, int], int] = {}
    for (bs,) in rows:
        for a, b in combinations(bs, 2):
            want[(a, b)] = want.get((a, b), 0) + 1
    assert got == want
    sch = dict(basket_pair_counts(df, "bs").dtypes)
    assert sch == {"a": "bigint", "b": "bigint", "support": "bigint"}
    plan = (
        basket_pair_counts(df, "bs")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan
