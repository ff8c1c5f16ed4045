"""M5 similarity search + multimodal plumbing."""

from __future__ import annotations

import duckdb

from pyspark.sql import functions as F

from lightlane_spark.operators.multimodal import (
    attach_binary_payload,
    decode_image_meta,
    sample_frames,
)
from lightlane_spark.operators.similarity import (
    _cosine_neardup_pairs_sql,
    ann_topk_lsh,
    cosine_neardup_pairs,
    topk_bruteforce,
)
from lightlane_spark.sources.parquet import read_table, table_path


def test_topk_bruteforce_matches_duckdb(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter("vec_id < 3")
    got = topk_bruteforce(emb, queries, k=5).collect()
    exp = duckdb.sql(
        f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM '{table_path(sf_dir, "embeddings")}'),
        s AS (
            SELECT q.vec_id AS query_id, c.vec_id,
                   list_dot_product(q.v, c.v) /
                   (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS sim
            FROM e q, e c WHERE q.vec_id < 3
        )
        SELECT query_id, vec_id, rank, sim FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) rank
            FROM s
        ) WHERE rank <= 5
        """
    ).fetchall()
    got_ids = {(r.query_id, r.rank): r.vec_id for r in got}
    exp_ids = {(q, r): v for (q, v, r, _s) in exp}
    assert got_ids == exp_ids
    # self is always rank 1 with sim ≈ 1
    for r in got:
        if r.rank == 1:
            assert r.vec_id == r.query_id and abs(r.sim - 1.0) < 1e-9


def test_ann_lsh_recall_vs_bruteforce(spark, sf_dir):
    """Recall@k ≥ 0.9 contract at the headline config (4 hash tables,
    1-bit multiprobe): a true neighbor is missed only if it misses in
    every table, so recall compounds as 1-(1-q)^L."""
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter("vec_id < 10")
    exact = topk_bruteforce(emb, queries, k=5).collect()
    approx = ann_topk_lsh(emb, queries, dims=64, k=5, num_bits=4, num_tables=4).collect()
    exact_set = {(r.query_id, r.vec_id) for r in exact}
    approx_set = {(r.query_id, r.vec_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.9, f"LSH recall {recall} below contract"
    # every query finds at least itself (same bucket by construction)
    assert {r.query_id for r in approx if r.vec_id == r.query_id} == set(range(10))
    # multi-table candidates are deduped before ranking: ranks are
    # exactly 1..k once per query
    per_query = {}
    for r in approx:
        per_query.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, 6)) for v in per_query.values())


def test_cosine_neardup_blocked(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    # duplicate 5 vectors under new ids: near-dup pairs must be found
    dups = emb.filter("vec_id < 5").select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding", "label"
    )
    out = cosine_neardup_pairs(emb.unionByName(dups), block_col="label", threshold=0.999)
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert {(i, i + 10_000) for i in range(5)} <= pairs


def test_cosine_neardup_impls_agree(spark, sf_dir):
    """The Arrow (tiled Gram-matmul candidate filter + exact-fold
    re-verify) and SQL (sequential-fold, oracle-exact) implementations
    must return the same pairs with BIT-IDENTICAL sims — the Arrow
    path recomputes every kept sim as the same left-associated float64
    fold, so no rounding tolerance is needed. Also pins the shared
    contracts: id_a < id_b canonicalization and the max_block_size
    drop."""
    emb = read_table(spark, sf_dir, "embeddings")
    dups = emb.filter("vec_id < 5").select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding", "label"
    )
    u = emb.unionByName(dups)

    def canon(fn, **kw):
        out = fn(u, block_col="label", threshold=0.9, **kw)
        return sorted(
            (r.id_a, r.id_b, r.sim) for r in out.collect()
        )

    a, s = canon(cosine_neardup_pairs), canon(_cosine_neardup_pairs_sql)
    assert a and a == s
    assert all(x < y for x, y, _ in a)
    # oversized blocks drop identically in both impls
    a0 = canon(cosine_neardup_pairs, max_block_size=3)
    s0 = canon(_cosine_neardup_pairs_sql, max_block_size=3)
    assert a0 == s0 == []


def test_multimodal_decode_meta(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents").limit(20)
    meta = decode_image_meta(attach_binary_payload(docs)).collect()
    assert len(meta) == 20
    for r in meta:
        assert r.n_bytes > 0 and r.format in ("png", "jpeg", "webp")
        assert 64 <= r.width < 704 and 64 <= r.height < 544
        assert len(r.checksum) == 32


def test_sample_frames_offsets(spark):
    df = spark.createDataFrame([(1, b"x" * 3000)], "doc_id: bigint, payload: binary")
    out = sample_frames(df, every_n_bytes=1024).collect()
    assert [r.frame_offset for r in out] == [0, 1024, 2048]


def test_extract_features_feeds_similarity(spark, sf_dir):
    from lightlane_spark.operators.multimodal import extract_features
    from lightlane_spark.operators.similarity import topk_bruteforce

    docs = read_table(spark, sf_dir, "documents").limit(30)
    feats = extract_features(attach_binary_payload(docs), dim=16)
    rows = feats.collect()
    assert len(rows) == 30
    for r in rows:
        assert len(r.embedding) == 16
        assert abs(sum(v * v for v in r.embedding) - 1.0) < 1e-5  # unit norm
    # deterministic: same payload -> same vector
    again = {r.doc_id: r.embedding for r in feats.collect()}
    assert all(again[r.doc_id] == r.embedding for r in rows)
    # the multimodal -> embedding -> search chain runs end-to-end
    corpus = feats.withColumnRenamed("doc_id", "vec_id")
    top = topk_bruteforce(corpus, corpus.limit(3), k=1).collect()
    assert {(r.query_id, r.vec_id) for r in top} == {
        (r.query_id, r.query_id) for r in top
    }  # every probe's nearest neighbor is itself


def test_resize_image_plumbing(spark, sf_dir):
    from lightlane_spark.operators.multimodal import resize_image

    docs = read_table(spark, sf_dir, "documents").limit(5)
    out = resize_image(attach_binary_payload(docs), 224, 224).collect()
    assert len(out) == 5
    for r in out:
        assert (r.width, r.height) == (224, 224) and len(bytes(r.payload)) > 0


def test_pluggable_decoder_injection(spark, sf_dir):
    """The real-decoder slot must be exercisable, not only raise: an
    injected decoder callable flows through the full mapInPandas path
    and its outputs land in the metadata contract."""
    docs = read_table(spark, sf_dir, "documents").filter("doc_id < 20")
    with_bin = attach_binary_payload(docs)

    def header_decoder(payload: bytes):
        # a "real" decoder shape: inspects leading bytes
        return ("bmp" if payload[:1] == b"a" else "tiff", len(payload) % 100, 42)

    out = decode_image_meta(with_bin, decoder=header_decoder).collect()
    assert len(out) == 20
    for r in out:
        assert r.format in ("bmp", "tiff") and r.height == 42
        assert r.width == r.n_bytes % 100


def test_pluggable_extractor_and_resizer(spark, sf_dir):
    from lightlane_spark.operators.multimodal import extract_features, resize_image

    docs = read_table(spark, sf_dir, "documents").filter("doc_id < 10")
    with_bin = attach_binary_payload(docs)

    feats = extract_features(
        with_bin, extractor=lambda p: [float(len(p)), 1.0]
    ).collect()
    assert all(r.embedding == [float(r_len), 1.0] for r, r_len in
               zip(feats, [len(bytes_) for bytes_ in
                           [bytes(x.payload) for x in with_bin.select("payload").collect()]]))

    resized = resize_image(
        with_bin, 32, 16, resizer=lambda p, w, h: p[: w + h]
    ).collect()
    assert all(len(bytes(r.payload)) <= 48 and r.width == 32 and r.height == 16
               for r in resized)


def test_cosine_neardup_lsh_self_blocked(spark, sf_dir):
    """LSH-blocked near-dup (no label column): exact duplicates always
    share every hyperplane bucket, so all injected dup pairs are found."""
    from lightlane_spark.operators.similarity import cosine_neardup_lsh

    emb = read_table(spark, sf_dir, "embeddings")
    dups = emb.filter("vec_id < 5").select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding", "label"
    )
    out = cosine_neardup_lsh(emb.unionByName(dups), dims=64, threshold=0.999)
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert {(i, i + 10_000) for i in range(5)} <= pairs
    # blocking is real: candidate pairs are far below the all-pairs count
    n = emb.count() + 5
    assert out.count() < n * (n - 1) / 20


def test_blockhash_catches_same_length_edit_not_length_change(spark):
    """Grid block hashing contract: a same-length local edit lands in
    1-2 chunks (pair found); a length-changing edit shifts every
    chunk boundary (pair lost) — the documented CTPH trade-off."""
    from pyspark.sql import functions as F
    from lightlane_spark.operators.multimodal import (
        blockhash_near_pairs,
        blockhash_signatures,
    )

    base = "the quick brown fox jumps over the lazy dog " * 8
    rows = [
        (1, base),
        (2, base[:-6] + "XXXXXX"),     # same length, local edit
        (3, base + "trailing growth"),  # length change
    ]
    df = spark.createDataFrame(rows, "doc_id: bigint, text: string").withColumn(
        "payload", F.encode("text", "UTF-8")
    )
    pairs = blockhash_near_pairs(blockhash_signatures(df), max_diff_chunks=3)
    got = {(r["a_id"], r["b_id"]) for r in pairs.collect()}
    assert (1, 2) in got
    assert (1, 3) not in got and (2, 3) not in got


def test_cosine_neardup_arrow_null_vectors_match_sql(spark):
    """A NULL embedding must not crash the Arrow path and must yield
    the same pair set as the SQL form (whose NULL sims are dropped by
    the threshold filter)."""
    rows = [
        (1, [1.0, 0.0], 0),
        (2, [1.0, 0.0], 0),
        (3, None, 0),
        (4, [0.0, 1.0], 0),
    ]
    df = spark.createDataFrame(
        rows, "vec_id: bigint, embedding: array<double>, label: int"
    )
    a = sorted(
        (r.id_a, r.id_b)
        for r in cosine_neardup_pairs(df, "label", threshold=0.99).collect()
    )
    s = sorted(
        (r.id_a, r.id_b)
        for r in _cosine_neardup_pairs_sql(df, "label", threshold=0.99).collect()
    )
    assert a == s == [(1, 2)]


def test_arrow_boundary_ignores_session_arrow_flag(spark, sf_dir):
    """``local_df`` and ``topk_bruteforce_arrow`` take the Arrow path
    through the API, not the session flag: with the flag off they give
    the same rows, and the flag is still off afterwards."""
    from lightlane_spark.operators.similarity import topk_bruteforce_arrow
    from lightlane_spark.sources.localrel import local_df

    key = "spark.sql.execution.arrow.pyspark.enabled"
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter("vec_id < 3")
    rows = [(1, [0.5, 1.0]), (2, None), (3, [])]
    schema = "id bigint, v array<double>"

    def run():
        topk = sorted(tuple(r) for r in topk_bruteforce_arrow(emb, queries, k=5).collect())
        local = sorted(tuple(r) for r in local_df(spark, rows, schema).collect())
        return topk, local

    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        on = run()
        spark.conf.set(key, "false")
        off = run()
        assert spark.conf.get(key) == "false"
    finally:
        spark.conf.set(key, old)
    assert off == on
    assert off[1] == sorted(tuple(r) for r in spark.createDataFrame(rows, schema).collect())
