"""M5 (LLM-data-pipeline) queries + DuckDB oracles for the driver
correctness gate. Merged into ``__spark_entry__.queries()``.

Every sketch here is built on the portable md5-based ``h32``
(functions/hashing.py), so even MinHash-LSH banding and SimHash have
EXACT SQL oracles — both engines compute identical signatures,
buckets, and verified pairs.

Float policy (same as the main entry): integer-derived values compared
exactly. Exact-rational ratios (Jaccard/containment/fractions — int
or decimal numerator over int denominator) are emitted UNROUNDED:
both engines produce bit-identical IEEE quotients, while a final
round() diverges whenever the quotient's SHORTEST DECIMAL REPR is an
exact grid half but its binary value sits epsilon below — Spark
rounds the repr (BigDecimal.valueOf) up, DuckDB rounds the binary
value down (measured: 33374.0610425 → …43 vs …42). Only
genuinely noisy floats keep a round as a documented ulp-mask: cosine
similarities (reduction-order variance, ≤1e-15) and moments past the
2^53 envelope (corr_matrix, trend_detection).
"""

from __future__ import annotations

from types import MappingProxyType

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lightlane_spark.cache import scratch_dir, tracked_persist
from lightlane_spark.operators.fuzzy_dedup import (
    dedup_exact,
    dedup_minhash,
    minhash_signatures,
    ngram_jaccard_pairs,
    shingle,
    simhash_near_pairs,
    simhash_signatures,
)
from lightlane_spark.operators.multimodal import (
    attach_binary_payload,
    decode_image_meta,
    sample_frames,
)
from lightlane_spark.operators.similarity import (
    ann_topk_lsh,
    cosine_neardup_pairs,
    topk_bruteforce,
)
from lightlane_spark.operators.text import (
    fingerprint_md5,
    language_id,
    quality_score,
    subword_count,
    token_count,
)
from lightlane_spark.sources.localrel import local_df
from lightlane_spark.sources.parquet import read_table


def _docs_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dedup fixture: every 5th doc duplicated verbatim
    under id+1e6; every 7th re-added under id+2e6 with its first word
    dropped (a near-duplicate).

    A union of three reads of ``documents``, not one scan that expands
    each row into its variants: the branches are separate scan tasks,
    so the variants' shingling runs beside the base corpus's. The
    one-scan form puts a split's variants in that split's task, and on
    a 10× corpus (six row groups over four splits) it ran four MinHash
    consumers 0.25-0.92 s slower at local[4] (CHANGES.md)."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    exact = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    near = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
    )
    return docs.unionByName(exact).unionByName(near)


# The same fixture as a DuckDB CTE (string_split/array ops mirror the
# Spark expressions exactly).
_CORPUS_CTE = """
corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0
    UNION ALL
    SELECT doc_id + 2000000, substring(text, instr(text, ' ') + 1)
    FROM documents WHERE doc_id % 7 = 0
)
"""

# Shared shingle/signature CTE chain over `corpus` (3-gram shingles,
# 16 seeded h32 minhashes, 4 bands × 4 rows).
_MINHASH_CTES = (
    _CORPUS_CTE
    + """,
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
sh AS (
    SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh
    FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) idx
    WHERE len(t) >= 3
),
shh AS (
    SELECT doc_id,
           ('0x' || substr(md5(sh), 1, 8))::BIGINT AS m1,
           ('0x' || substr(md5(sh), 9, 8))::BIGINT AS m2
    FROM sh
),
sig AS (
    SELECT doc_id, seed, min((m1 + seed * m2) % 4294967296) AS minh
    FROM shh, LATERAL (SELECT unnest(range(0, 16)) AS seed) s
    GROUP BY doc_id, seed
)
"""
)


# Banding + candidate + exact-Jaccard verification over `sig`/`sh`
# (shared by the pair query and the clustering queries).
_VERIFIED_PAIRS_CTES = (
    _MINHASH_CTES
    + """,
bands AS (
    SELECT doc_id, CAST(seed // 4 AS INTEGER) AS band,
           string_agg(minh, ',' ORDER BY seed) AS band_sig
    FROM sig GROUP BY doc_id, band
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
    SELECT c.id_a, c.id_b, count(*) AS n_inter
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.id_a
    JOIN sh sb ON sb.doc_id = c.id_b AND sb.sh = sa.sh
    GROUP BY c.id_a, c.id_b
),
verified AS (
    SELECT i.id_a, i.id_b,
           CAST(n_inter AS DOUBLE) / (za.n_sh + zb.n_sh - n_inter) AS jaccard
    FROM inter i
    JOIN sizes za ON za.doc_id = i.id_a
    JOIN sizes zb ON zb.doc_id = i.id_b
    WHERE CAST(n_inter AS DOUBLE) / (za.n_sh + zb.n_sh - n_inter) >= 0.7
)
"""
)

# Transitive closure of the verified-pair graph: component = min
# reachable id. The `r.lbl < e.v` guard prunes propagation to labels
# that can still win (the component min always passes), keeping the
# recursion linear instead of all-pairs.
_CLUSTER_CTES = (
    _VERIFIED_PAIRS_CTES
    + """,
edges AS (
    SELECT id_a AS u, id_b AS v FROM verified
    UNION ALL
    SELECT id_b, id_a FROM verified
),
reach AS (
    SELECT doc_id AS u, doc_id AS lbl FROM corpus
    UNION
    SELECT e.v AS u, r.lbl FROM reach r JOIN edges e ON e.u = r.u
    WHERE r.lbl < e.v
),
clusters AS (
    SELECT u AS doc_id, min(lbl) AS component FROM reach GROUP BY u
)
"""
)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token/subword/char counts — the basic corpus accounting pass."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        subword_count("text").alias("n_subwords"),
        F.length("text").cast("bigint").alias("n_chars_calc"),
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpretable [0,1] quality blend: length, alpha ratio, stopword signal, mean word length."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select("doc_id", quality_score("text").alias("quality"))


def q_quality_topp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-p quality selection: keep docs scoring at or above the
    corpus's exact 0.8-quantile quality — the curation cut of corpus
    prep, as a 1-row broadcast threshold (no global sort)."""
    from lightlane_spark.operators.text import select_top_quality

    docs = read_table(spark, sf_dir, "documents")
    return select_top_quality(docs, p=0.8)


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language ID per document (en/de/es/fr lexicons, deterministic tie-break)."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select("doc_id", language_id("text").alias("lang_guess"))


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (md5) and rolling-min-hash document fingerprints per doc."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint_md5("text").alias("fp_md5"))


def q_text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace/control-char normalization over a deliberately
    dirtied corpus (control bytes + tab + space runs appended)."""
    from lightlane_spark.operators.text import clean_text

    docs = read_table(spark, sf_dir, "documents")
    dirty = docs.select(
        "doc_id", F.concat(F.col("text"), F.lit("  \x01odd\tspacing   here ")).alias("text")
    )
    return dirty.select("doc_id", clean_text("text").alias("cleaned"))


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Email + phone redaction over docs with synthetic PII appended
    (deterministic per doc_id, same fixture in the oracle)."""
    from lightlane_spark.operators.text import redact_pii

    docs = read_table(spark, sf_dir, "documents")
    with_pii = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com or +1-555-0"),
            (F.col("doc_id") % 1000).cast("string"),
            F.lit(" now"),
        ).alias("text"),
    )
    return with_pii.select("doc_id", redact_pii("text").alias("redacted"))


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (90/5/5 by portable
    id-hash)."""
    from lightlane_spark.operators.text import dataset_split

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    return dataset_split(docs)


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per doc by smoothed TF-IDF."""
    from lightlane_spark.operators.text import tfidf_topk

    docs = read_table(spark, sf_dir, "documents")
    return tfidf_topk(docs, k=3)


def q_hashed_bow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashed bag-of-words vectors in (doc, dim, weight) row
    form — exact integer weights."""
    from lightlane_spark.operators.text import hashed_bow

    docs = read_table(spark, sf_dir, "documents")
    return hashed_bow(docs, dims=64)


def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution: dirty supplier names (vowels after position 3
    dropped — a deterministic 'typo' generator) matched back to the
    clean register by trigram blocking + Levenshtein ≤ 2."""
    from lightlane_spark.operators.text import fuzzy_join

    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    dirty = s.select(
        F.col("s_suppkey").alias("dirty_key"),
        F.concat(
            F.substring("s_name", 1, 3),
            F.regexp_replace(F.expr("substring(s_name, 4)"), "[aeiou]", ""),
        ).alias("dirty_name"),
    )
    out = fuzzy_join(dirty, s, "dirty_name", "s_name", max_distance=2)
    return out.select("dirty_key", "dirty_name", "s_suppkey", "s_name", "edit_distance")


def q_bow_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text→vector→similarity chain, fully oracle-checked: hashed-BoW
    vectors pivoted to dense 64-dim arrays (one shuffle keyed by
    doc_id), probe docs (every 100th) BROADCAST against the corpus,
    cosine top-3 per probe. Integer dots and norms are exact, so the
    whole chain is engine-deterministic (oracle computes the same
    numbers via a sparse dim-join in DuckDB).

    Scale shape: probe vectors are collected (broadcast-small by
    contract) and scored against the corpus by an Arrow-batched numpy
    matmul (``similarity.topk_bruteforce_arrow``) — the corpus is
    never shuffled and each batch pre-truncates to its local top-k, so
    the exact final window sees ~batches × probes × k rows instead of
    probes × corpus. Integer BoW weights make the float64 matmul
    exact, so the result is bit-identical to the sparse dim-join the
    DuckDB oracle runs. ``dot > 0`` keeps parity with the oracle's
    inner dim-join (weights are non-negative, so dot > 0 ⇔ at least
    one co-occurring dim). At 100 TB use the ANN operators
    (ann_topk_lsh / ivf_topk) for huge probe sets."""
    from lightlane_spark.operators.similarity import topk_bruteforce_arrow
    from lightlane_spark.operators.text import hashed_bow

    docs = read_table(spark, sf_dir, "documents")

    def vecs_of(d):
        # hashed_bow is purely per-document (no corpus statistics), so
        # vectorizing a filtered slice equals filtering the vectorized
        # corpus — and the probe-side filter pushes down to the scan,
        # so collecting 1% of probes never tokenizes the other 99%.
        bow = hashed_bow(d, dims=64)
        # Dense-pivot form A/B'd three ways in r14 (map+interpreted
        # transform — this form; 64 sum(when) conditional aggregates;
        # map + 64 codegen'd getItem projections). The wide-expression
        # forms cut the pivot's EXECUTOR time 15.1 → 2.9 s at the 10×
        # corpus but pay ~1.5-2.3 s of fixed per-execution
        # plan/codegen cost for the 64-column plans — a 2× wall
        # REGRESSION at sf0.1 (1.69 → 3.94 / 3.07 s best-of-3,
        # identical results) and no wall win at 10× (the stage is
        # driver-bound once parallelismFirst fans it out). The
        # interpreted transform stays: smallest plan, best wall at
        # both scales.
        return (
            bow.groupBy("doc_id")
            .agg(
                F.map_from_entries(F.collect_list(F.struct("dim", "weight"))).alias("m")
            )
            .select(
                "doc_id",
                F.expr(
                    "transform(sequence(0, 63), d -> CAST(coalesce(element_at(m, d), 0) AS DOUBLE))"
                ).alias("v"),
            )
        )

    probes = vecs_of(docs.filter(F.col("doc_id") % 100 == 0))
    corpus = vecs_of(docs.filter(F.col("doc_id") % 100 != 0))
    out = topk_bruteforce_arrow(
        corpus,
        probes,
        k=3,
        id_col="doc_id",
        vec_col="v",
        query_id_col="query_id",
        positive_dot_only=True,
        round_digits=6,
    )
    return out.select("query_id", "doc_id", "sim", "rank")


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition: duplicate 2-gram and
    3-gram fractions per doc (boilerplate/spam signal)."""
    from lightlane_spark.operators.text import dup_ngram_fraction

    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        dup_ngram_fraction("text", 2).alias("dup_2gram_frac"),
        dup_ngram_fraction("text", 3).alias("dup_3gram_frac"),
    )


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution Shannon entropy per doc
    (text.char_entropy): the symbol-level gibberish/spam signal —
    base64 blobs score high, padding spam scores low. One map-side-
    combined (id, char) shuffle; 9dp decimal-exact contributions."""
    from lightlane_spark.operators.text import char_entropy

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    # entropy is already exact (9dp decimal sum cast to double) — no
    # re-round, the oracle emits the identical cast
    return char_entropy(docs).select("doc_id", "n_chars", "entropy")


def q_dataset_card_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card composition report: per detected language, doc
    count, corpus share, total whitespace tokens, high-quality count
    (quality_score ≥ 0.75) and decimal-exact mean quality — the
    one-pass summary every corpus release ships (HF dataset cards,
    Dolma/RedPajama composition tables). All signals are JVM
    expressions (language_id, quality_score, token_count), so the
    corpus is scanned ONCE and map-side-combined into a
    language-cardinality aggregate; the share window runs over that
    ≤|langs|-row relation, never the corpus. Mean quality goes
    through round-9dp DECIMAL per doc (order-independent sum, same
    contract as char_entropy) divided in double by the count."""
    docs = read_table(spark, sf_dir, "documents").select("text")
    m = docs.select(
        language_id("text").alias("lang"),
        quality_score("text").alias("q"),
        token_count("text").alias("ntok"),
    )
    per = m.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ntok").alias("n_tokens"),
        F.sum(F.round(F.col("q"), 9).cast("decimal(28,9)")).alias("qsum"),
        F.sum((F.col("q") >= 0.75).cast("bigint")).alias("n_high_q"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy()  # over the tiny per-language relation only
    return per.select(
        "lang",
        "n_docs",
        "n_tokens",
        "n_high_q",
        (F.col("qsum").cast("double") / F.col("n_docs")).alias("mean_quality"),
        (
            F.col("n_docs").cast("double")
            / F.sum("n_docs").over(w).cast("double")
        ).alias("doc_share"),
    ).orderBy("lang")


def q_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token co-occurrence PMI over the top-40 vocabulary: which word
    pairs appear in the same document far more often than chance —
    the collocation / topic-coherence primitive (phrase mining,
    embedding sanity checks, template detection when PMI ≈ max).
    Candidate blow-up is controlled by the vocabulary restriction:
    per-doc pair fan-out is ≤ C(40,2) — never all-pairs over the
    corpus. Pairs come from ONE groupBy(doc_id) basket aggregation
    plus the shared JVM codegen pair expansion
    (transform.basket_pair_counts) over dict-coded tokens — the r13
    reshape of what was a within-doc self-join (two keyed exchanges
    of the token relation + millions of raw pair rows into the pair
    aggregate; now one exchange and kilobyte map-side partials).
    Codes are assigned in token string order, so code_a < code_b IS
    tok_a < tok_b and the upper-triangle pairs reproduce
    the old a.tok < b.tok join predicate exactly. The vocabulary
    itself comes from a distributed top-k (TakeOrderedAndProject over
    the doc-frequency aggregate, deterministic df-desc/token-asc
    ties), is persisted once (three consumers — the basket join and
    both decode sides — otherwise each re-run the corpus-wide
    doc-frequency aggregate), and is broadcast back; doc frequencies
    re-attach to the pair counts by the same broadcast.
    PMI = ln(P(a,b)/(P(a)P(b))) = ln(pmi_num/pmi_den); the emitted
    columns are the EXACT integer numerator/denominator (n_both·N and
    df_a·df_b) — the consumer applies the ln. A round(ln(…), 6) in
    hashed output is the r7/r8 driver-red class (libm + round-grid
    divergence across hosts); integers can't flip."""
    from lightlane_spark.operators.text import tokenize

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select("doc_id", F.explode(tokenize("text")).alias("tok")).distinct()
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    from pyspark.sql import Window as W

    from lightlane_spark.operators.transform import basket_pair_counts

    # 40-row dict: code order == token string order (window over 40
    # rows is trivially bounded)
    # not persisted: 10x A/B local[4], on beat off beyond spread in two
    # runs of three
    vocab = (
        dfreq.orderBy(F.col("df").desc(), F.col("tok"))
        .limit(40)
        .withColumn("tc", F.row_number().over(W.orderBy("tok")) - 1)
    )
    e = toks.join(F.broadcast(vocab.select("tok", "tc")), "tok").select(
        "doc_id", "tc"
    )
    baskets = e.groupBy("doc_id").agg(
        F.array_sort(F.collect_set("tc")).alias("bs")
    )
    pairs = basket_pair_counts(baskets, "bs").where(F.col("support") >= 5)
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_corpus"))
    return (
        pairs.join(
            F.broadcast(vocab.select(F.col("tc").alias("a"),
                                     F.col("tok").alias("tok_a"),
                                     F.col("df").alias("df_a"))),
            "a",
        )
        .join(
            F.broadcast(vocab.select(F.col("tc").alias("b"),
                                     F.col("tok").alias("tok_b"),
                                     F.col("df").alias("df_b"))),
            "b",
        )
        .crossJoin(F.broadcast(n_docs))
        .select(
            "tok_a",
            "tok_b",
            F.col("support").alias("n_both"),
            (F.col("support") * F.col("n_corpus")).alias("pmi_num"),
            (F.col("df_a") * F.col("df_b")).alias("pmi_den"),
        )
        .orderBy("tok_a", "tok_b")
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing any 8-gram with
    the 'benchmark' fixture (every 97th doc). Benchmark grams
    broadcast; corpus side map-only."""
    from lightlane_spark.operators.text import contaminated_ids

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    benchmark = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return contaminated_ids(corpus, benchmark, k=8)


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary building: top-100 corpus tokens with deterministic
    rank (count desc, token asc). The global window runs over the
    vocab-sized count table, not the corpus — fine at any scale."""
    from pyspark.sql import Window

    from lightlane_spark.operators.text import tokenize

    docs = read_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokenize("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # distributed top-k first (TakeOrderedAndProject), then rank the
    # 100 survivors — a global row_number window would funnel the whole
    # vocabulary through one partition (same fix as cms_heavy_hitters).
    top = counts.orderBy(F.col("cnt").desc(), F.col("tok")).limit(100)
    w = Window.orderBy(F.col("cnt").desc(), F.col("tok"))
    return top.withColumn("rank", F.row_number().over(w))


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus rebalancing: language-stratified deterministic sampling
    (downsample 'en' to 30%, keep other strata whole)."""
    from lightlane_spark.operators.text import language_id
    from lightlane_spark.operators.transform import stratified_sample

    docs = read_table(spark, sf_dir, "documents")
    with_lang = docs.withColumn("lang", language_id("text"))
    return stratified_sample(
        with_lang, "lang", {"en": 0.3}, key_col="doc_id", default=1.0
    ).select("doc_id", "lang")


def q_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship corpus-prep composition: clean → quality-filter →
    exact-dedup → token-count. Each stage is an independently
    oracle-checked operator; this query pins the COMPOSITION."""
    from lightlane_spark.operators.text import (
        clean_text,
        quality_score,
        token_count,
    )

    docs = read_table(spark, sf_dir, "documents")
    cleaned = docs.select("doc_id", clean_text("text").alias("text"))
    good = cleaned.filter(quality_score("text") >= 0.75)
    deduped = dedup_exact(good)
    return deduped.select("doc_id", token_count("text").alias("n_tokens"))


# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking via a Python UDTF lateral join: 32-word
    chunks, stride 24 (8-word overlap)."""
    from lightlane_spark.operators.transform import chunk_text_udtf

    docs = read_table(spark, sf_dir, "documents").alias("d")
    return docs.lateralJoin(chunk_text_udtf(32, 24)(F.col("d.text").outer())).select(
        "d.doc_id", "chunk_idx", "chunk", "n_words"
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one row per distinct md5 text fingerprint (min-id canonical), one shuffle on a 128-bit key."""
    return dedup_exact(_docs_with_dups(spark, sf_dir)).select("doc_id")


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-form MinHash signatures (doc, seed, minh) from one md5 per shingle via the Carter-Wegman family."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return minhash_signatures(shingle(docs))


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified MinHash-LSH near-dup pairs (3-gram shingles, 16 hashes, 4x4 banding, exact-Jaccard verify at 0.7)."""
    verified = dedup_minhash(_docs_with_dups(spark, sf_dir), threshold=0.7)
    return verified.select(
        "id_a", "id_b", "jaccard"
    )


def _neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verified near-dup edge set (id_a, id_b) shared by the whole
    graph family — clusters, dedup, leakage-safe split, PageRank,
    triangles, k-core. One definition (MinHash→LSH→Jaccard-verify at
    0.7 over the dup fixture) so every family member analyzes the
    IDENTICAL graph. The derivation persists nothing: its bucket
    exchange runs once (ReusedExchange) and the verifier re-derives
    its candidates' shingles from the fixture. A consumer that reads
    the edges more than once cuts them (``cache.tracked_checkpoint``
    in pagerank_integer and triangle_count), so the derivation runs
    once, not per read."""
    return dedup_minhash(_docs_with_dups(spark, sf_dir), threshold=0.7).select(
        "id_a", "id_b"
    )


def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING: verified MinHash-LSH pairs -> connected
    components (large-star/small-star) -> every corpus doc labeled
    with its cluster id (singletons label themselves). The DuckDB
    oracle computes the same components via a recursive CTE."""
    from lightlane_spark.operators.clustering import assign_components

    corpus = _docs_with_dups(spark, sf_dir)
    return assign_components(
        corpus, _neardup_pairs(spark, sf_dir), assume_canonical=True
    ).select("doc_id", "component")


def q_neardup_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end fuzzy dedup: keep the min-id canonical doc per
    near-dup cluster."""
    from lightlane_spark.operators.clustering import dedup_by_components

    corpus = _docs_with_dups(spark, sf_dir)
    return dedup_by_components(
        corpus, _neardup_pairs(spark, sf_dir), assume_canonical=True
    ).select("doc_id")


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: hashing each DOC id
    independently (``dataset_split``) lets near-duplicates straddle
    train and test — silent eval contamination. Splitting on the
    near-dup CLUSTER id instead keeps every duplicate family inside
    one split by construction. Composition of existing operators:
    verified MinHash pairs → connected components → split =
    h32('split:' + component) bucketed 90/5/5. The oracle replays the
    whole chain (recursive-CTE components + the same portable hash),
    so both the clustering and the family-atomicity are value-pinned."""
    from lightlane_spark.functions.hashing import h32
    from lightlane_spark.operators.clustering import assign_components

    corpus = _docs_with_dups(spark, sf_dir)
    labeled = assign_components(
        corpus, _neardup_pairs(spark, sf_dir), assume_canonical=True
    )
    bucket = h32(
        F.concat(F.lit("split:"), F.col("component").cast("string"))
    ) % 100
    split = (
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    )
    return labeled.select("doc_id", "component", split.alias("split"))


def q_pagerank_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer fixed-point PageRank over the verified near-dup graph —
    centrality of each doc inside its duplicate family (the canonical-
    doc-selection signal beyond min-id). Bit-exact iterative algorithm:
    every contribution is bigint floor division, so 5 iterations match
    the DuckDB recursive-CTE oracle exactly."""
    from lightlane_spark.operators.clustering import pagerank_integer

    return pagerank_integer(_neardup_pairs(spark, sf_dir), iterations=5)


def q_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 32-bit SimHash: per-bit majority vote over distinct-token h32 values, pure expressions."""
    return simhash_signatures(_docs_with_dups(spark, sf_dir))


def q_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-pairs: Hamming distance <= 3 on 32-bit signatures via band-blocked candidate generation."""
    sigs = simhash_signatures(_docs_with_dups(spark, sf_dir))
    return simhash_near_pairs(sigs, max_hamming=3)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked headline shape: the gram universe is df-capped (grams in
    >25 docs dropped before the self-join), bounding pair expansion at
    cap² per gram — the Σcnt² frequent-gram blowup cannot happen.
    The synthetic corpus draws from a ~50-word vocabulary, so random
    docs share grams at rates no real corpus shows; the fixture subset
    keeps the benched work representative. Exact full-universe Jaccard
    remains available as the MinHash-LSH verifier (fuzzy_dedup.py)."""
    corpus = _docs_with_dups(spark, sf_dir).filter(
        "doc_id % 7 = 0 OR doc_id >= 2000000"
    )
    pairs = ngram_jaccard_pairs(corpus, threshold=0.5, max_doc_freq=25)
    return pairs.select("id_a", "id_b", "jaccard")


def q_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-document boilerplate detection: per doc, the
    fraction of its DISTINCT word 5-grams that occur in ≥8 documents
    corpus-wide (C4 removed 3-sentence spans repeated across pages;
    word-soup fixtures have no sentences, so the unit is the 5-gram).
    Top-20 most boilerplate-heavy docs, deterministic (ratio desc,
    doc_id).

    Scale shape: per-doc distinct grams are built IN-ROW
    (array_distinct before the explode — per-doc sets never span
    rows), and each doc's gram count rides along the exploded rows,
    so no join back to the doc table is needed. The gram array is
    MATERIALIZED as its own projection before size()/explode()
    reference it — with the transform inlined, Spark evaluates the
    generator-adjacent size() expression per exploded OUTPUT row, a
    |grams|/|docs| ≈ 50× re-evaluation blowup (measured 22 s vs 1 s
    at sf0.1; same trap documented on ``fuzzy_dedup.shingle``). The
    boilerplate set (grams with dfreq ≥ 8) is aggregated once and
    LEFT-joined back — heavy-hitter sets are small by construction,
    so AQE broadcasts it — then one tiny doc_id aggregation. No
    all-pairs anything: cost is linear in total distinct grams.

    Grams travel as strings (not token-wise xxhash64 longs as in
    ``contaminated_ids``): measured head-to-head at sf0.1, the
    5-arg interpreted hash per gram costs 2.7× the slice+concat —
    with array_distinct in the row the string form wins here."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    from lightlane_spark.operators.text import tokenize

    d = docs.withColumn("__toks", tokenize(F.col("text"))).filter(
        F.size("__toks") >= 5
    )
    grams_arr = F.array_distinct(
        F.expr(
            "transform(sequence(0, size(__toks) - 5),"
            " i -> concat_ws(' ', slice(__toks, i + 1, 5)))"
        )
    )
    with_grams = d.select("doc_id", grams_arr.alias("__ga"))
    # kept (off re-reads documents); cold A/B sf0.1 local[4]: on 1.59 s, off 2.62 s
    base = with_grams.select(
        "doc_id",
        F.size("__ga").cast("bigint").alias("n_grams"),
        F.explode("__ga").alias("sh"),
    ).transform(tracked_persist)
    boiler = (
        base.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("dfreq"))
        .filter(F.col("dfreq") >= 8)
        .select("sh", F.lit(1).alias("__b"))
    )
    per_doc = (
        base.join(boiler, "sh", "left")
        .groupBy("doc_id", "n_grams")
        .agg(F.sum(F.coalesce("__b", F.lit(0))).cast("bigint").alias("n_boiler"))
    )
    return (
        per_doc.select(
            "doc_id", "n_grams", "n_boiler",
            (F.col("n_boiler") / F.col("n_grams")).alias("boiler_ratio"),
        )
        .orderBy(F.col("boiler_ratio").desc(), "doc_id")
        .limit(20)
    )


def q_set_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard ≥ 0.7 self-join via prefix filtering (PPJoin
    family): rare-first global gram order, per-doc prefix inverted
    index, in-row array_intersect verify — lossless (no df cap), with
    candidate expansion bounded by prefix-gram rarity. The exact
    counterpart to ngram_jaccard's blocked shape; oracle is the plain
    all-pairs SQL, which prefix filtering must reproduce verbatim."""
    from lightlane_spark.operators.fuzzy_dedup import prefix_filter_jaccard_join

    pairs = prefix_filter_jaccard_join(_docs_with_dups(spark, sf_dir), threshold=0.7)
    return pairs.select("id_a", "id_b", "jaccard")


def q_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT containment ≥ 0.9 join (fuzzy_dedup.containment_join):
    the asymmetric dedup relation — contained docs (quotes, snippets,
    truncated re-posts; the fixture's dropped-first-word near-dups
    score exactly 1.0 against their originals) found via probe-prefix
    × full-index filtering, verified in-row; oracle is the plain
    all-pairs SQL the lossless filter must reproduce verbatim."""
    from lightlane_spark.operators.fuzzy_dedup import containment_join

    pairs = containment_join(_docs_with_dups(spark, sf_dir), threshold=0.9)
    return pairs.select(
        "id_a", "id_b", "containment"
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


def q_ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 per probe — the oracle anchor the ANN variants (LSH/IVF/PQ) measure recall against."""
    emb = read_table(spark, sf_dir, "embeddings")
    out = topk_bruteforce(emb, emb.filter("vec_id < 10"), k=5)
    return out.select(
        "query_id", "vec_id", "rank", F.round(F.col("sim"), 6).alias("sim")
    )


def q_ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate variant, recall-tuned (4 hash tables → measured
    recall@5 ≥ 0.95 vs brute force). Fully oracle-checked since round
    3 (``_ann_lsh_oracle_sql`` reproduces buckets, multiprobe
    expansion, and ranking in DuckDB — hyperplane sign tests are
    bit-portable); the recall contract stays in
    tests/test_similarity_multimodal.py. This is the benched
    similarity headline: candidate count, not corpus size, scales the
    work."""
    emb = read_table(spark, sf_dir, "embeddings")
    out = ann_topk_lsh(
        emb, emb.filter("vec_id < 10"), dims=64, k=5, num_bits=4, num_tables=4
    )
    return out.select("query_id", "vec_id", "rank")


def q_ann_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-FILTERED vector search (the vector-DB capability every
    retrieval stack needs): top-5 among vectors with an even label,
    via the PRE-FILTER strategy — the predicate restricts the corpus
    BEFORE bucketing, so the per-filter index is exact for that
    slice and probe cost is unchanged. Pre-filter is the right call
    when the predicate is a partition-stable dimension (tenant /
    label / date — build per-slice buckets once); POST-filtering
    (probe deeper, filter candidates) is the ad-hoc-predicate
    fallback and needs k·1/selectivity probes to keep recall. Exact
    bucket-replay oracle, same machinery as ann_topk_lsh."""
    emb = read_table(spark, sf_dir, "embeddings")
    out = ann_topk_lsh(
        emb.filter("label % 2 = 0"),
        emb.filter("vec_id < 10"),
        dims=64,
        k=5,
        num_bits=4,
        num_tables=4,
    )
    return out.select("query_id", "vec_id", "rank")


def _recall_contract(
    probes: DataFrame, approx: DataFrame, exact: DataFrame, k: int = 5
) -> DataFrame:
    """Reduce an approximate top-k result to driver-checkable recall
    booleans vs its exact twin: (query_id, probe_ok, overall_ok) with
    thresholds 0.6 per-probe / 0.9 overall — a recall regression flips
    a row to false and hash-mismatches against the literal-TRUE
    oracle.

    The overall average is a GLOBAL WINDOW over the per-probe rows
    (one row per probe — broadcast-tiny by construction), so the
    expensive approx+exact ANN chain is read exactly once: no
    persist, no second aggregate pass. The within-session A/B
    (tools/ab_persist.py, r6) measured the previous persist +
    crossJoin(broadcast(agg)) form at 3.0-3.1 s vs 1.1 s for the
    single-read form at sf0.1 — materializing the chain cost ~3×
    what the duplicated read would have."""
    from pyspark.sql import Window as W

    hits = approx.select("query_id", "vec_id").join(
        exact.select("query_id", "vec_id"), ["query_id", "vec_id"]
    )
    per = (
        probes.select(F.col("vec_id").alias("query_id"))
        .join(
            hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit")),
            "query_id",
            "left",
        )
        .select(
            "query_id",
            (F.coalesce(F.col("n_hit"), F.lit(0)) / float(k)).alias("recall"),
        )
    )
    return per.select(
        "query_id",
        (F.col("recall") >= 0.6).alias("probe_ok"),
        (F.avg("recall").over(W.partitionBy()) >= 0.9).alias("overall_ok"),
    )


def q_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN recall contract, driver-checkable: the IVF top-5 set is
    k-means-model dependent (not SQL-expressible), so the query emits
    the CONTRACT instead (``_recall_contract``) vs the exact
    ``topk_bruteforce`` twin. Measured with the sample fit
    (fit_fraction=0.5, max_iter=4 — probe-dominated recall at
    n_probe=7/8): overall 0.96-0.98, per-probe min 0.8 at sf0.01 /
    0.6 at sf0.001, so the thresholds hold with margin."""
    from lightlane_spark.operators.similarity import ivf_topk

    emb = read_table(spark, sf_dir, "embeddings")
    probes = emb.filter("vec_id < 10")
    ivf = ivf_topk(emb, probes, k=5, n_centroids=8, n_probe=7, max_iter=4)
    bf = topk_bruteforce(emb, probes, k=5)
    return _recall_contract(probes, ivf, bf, k=5)


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN recall contract (operators/pq.py):
    64-bit PQ codes (m=16 × 4-bit) + ADC shortlist + exact re-rank,
    checked as recall booleans vs brute force. Measured recall 1.0 at
    sf0.001 and sf0.01 (shortlist=200 dominates quantization error on
    the near-uniform synthetic embeddings); thresholds 0.6/0.9 as in
    the IVF twin."""
    from lightlane_spark.operators.pq import pq_topk

    emb = read_table(spark, sf_dir, "embeddings")
    probes = emb.filter("vec_id < 10")
    pq = pq_topk(emb, probes, k=5)
    bf = topk_bruteforce(emb, probes, k=5)
    return _recall_contract(probes, pq, bf, k=5)


def q_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-blocked (hyperplane-bucket) embedding near-dup — the scale
    shape with no label crutch. Fully oracle-checked since round 3:
    the hyperplane sign tests are bit-portable (sequential-fold
    projection rendered as a left-associated chain in DuckDB —
    ``_embedding_neardup_lsh_oracle_sql``); the dup-recovery contract
    also lives in tests/test_similarity_multimodal.py."""
    from lightlane_spark.operators.similarity import cosine_neardup_lsh

    emb = read_table(spark, sf_dir, "embeddings")
    dups = emb.filter("vec_id < 5").select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding", "label"
    )
    out = cosine_neardup_lsh(emb.unionByName(dups), dims=64, threshold=0.999)
    return out.select("id_a", "id_b")


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs at cosine >= 0.999 over the planted-duplicate fixture (label-blocked exact form)."""
    emb = read_table(spark, sf_dir, "embeddings")
    dups = emb.filter("vec_id < 5").select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding", "label"
    )
    out = cosine_neardup_pairs(
        emb.unionByName(dups), block_col="label", threshold=0.999
    )
    return out.select("id_a", "id_b", F.round(F.col("sim"), 6).alias("sim"))


def q_rp_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss ±1 random projection 64 → 16 dims
    (embeddings.random_projection): the cheap pre-ANN dimensionality
    reduction; md5-derived sign matrix (engine-portable, stateless),
    one map-side-combined shuffle, decimal-exact sums."""
    from lightlane_spark.operators.embeddings import random_projection

    emb = read_table(spark, sf_dir, "embeddings")
    return random_projection(emb, in_dims=64, out_dims=16)


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 quantization codes, exploded to integer rows (engine-exact
    arithmetic; see operators/embeddings.py)."""
    from lightlane_spark.operators.embeddings import quantize_codes

    emb = read_table(spark, sf_dir, "embeddings")
    return quantize_codes(emb)


def q_embedding_quantize_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector max reconstruction error of the int8 round-trip
    (bounded by scale/2 — the operator's contract)."""
    from lightlane_spark.operators.embeddings import dequantize_error

    emb = read_table(spark, sf_dir, "embeddings")
    return dequantize_error(emb)


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary image payload metadata decode via the injected deterministic decoder (Arrow-batched mapInPandas)."""
    docs = read_table(spark, sf_dir, "documents")
    return decode_image_meta(attach_binary_payload(docs))


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame sampling: every k-th frame index per video payload, Arrow-batched, deterministic."""
    docs = attach_binary_payload(read_table(spark, sf_dir, "documents"))
    return sample_frames(docs, every_n_bytes=64)


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing (mapInPandas, payload-in/payload-out; byte
    transform stubbed as identity): integer projection of the result
    so the Arrow round-trip is oracle-checkable."""
    from lightlane_spark.operators.multimodal import resize_image

    docs = attach_binary_payload(read_table(spark, sf_dir, "documents"))
    out = resize_image(docs, 224, 224)
    return out.select(
        "doc_id",
        F.length("payload").cast("bigint").alias("n_bytes"),
        "width",
        "height",
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal → embedding → similarity chain: extract (stub-fake)
    features from binary payloads, then each probe's nearest neighbor.
    Exact-oracled since round 4: the fake extractor and the
    topk_bruteforce folds are order-pinned IEEE float64 ops, so
    ``_multimodal_features_oracle_sql`` replays them (including the
    float32 store) bit-for-bit in DuckDB; unit tests additionally pin
    determinism and self-match."""
    from lightlane_spark.operators.multimodal import extract_features
    from lightlane_spark.operators.similarity import topk_bruteforce

    docs = attach_binary_payload(read_table(spark, sf_dir, "documents"))
    feats = extract_features(docs, dim=16).withColumnRenamed("doc_id", "vec_id")
    probes = feats.filter(F.col("vec_id") % 50 == 0)
    return topk_bruteforce(feats, probes, k=3).select(
        "query_id", "vec_id", "rank", F.round(F.col("sim"), 6).alias("sim")
    )


# ---------------------------------------------------------------------------
# Streaming (extension — reference has none; SURVEY §2.5)
# ---------------------------------------------------------------------------


def q_streaming_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window counts computed THROUGH the streaming
    engine (file source → watermark → window agg → availableNow), then
    returned as the materialized result. Matches the batch SQL oracle
    exactly — streaming and batch agree on completed windows."""
    import tempfile

    from lightlane_spark.streaming.incremental import (
        drain_to_frame,
        stream_from_directory,
        windowed_counts,
    )

    with tempfile.TemporaryDirectory(prefix="llspark_stream_") as base:
        land = f"{base}/landing"
        ev = read_table(spark, sf_dir, "events")
        ev.write.mode("overwrite").parquet(land)
        stream = stream_from_directory(spark, land, ev.schema)
        agg = windowed_counts(
            stream, ts_col="ts", window="1 day", watermark="2 days", group_cols=["event_type"]
        )
        return drain_to_frame(agg, "complete").select("window_start", "event_type", "n")


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Gopher quality rule battery (operators/text.py::gopher_rules)
    over documents — every ratio threshold rendered as integer
    cross-multiplication, so the per-rule booleans and keep flag have
    an exact DuckDB oracle. The stopword lexicon is the engine's
    English list (the synthetic vocabulary contains only one of the
    paper's 8 words, which would make stopword_ok constant-false —
    the corpus-appropriate lexicon keeps the rule discriminative)."""
    from lightlane_spark.operators.text import STOPWORDS, gopher_rules

    docs = read_table(spark, sf_dir, "documents")
    return gopher_rules(docs, stopwords=STOPWORDS["en"])


def q_streaming_stateful_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM stateful streaming operator (applyInPandasWithState)
    driven end-to-end: per-event-type running counts whose state
    crosses micro-batch boundaries (events staged as 3 files,
    maxFilesPerTrigger=1 forces 3 batches). Running totals are
    monotone, so MAX(n) per key at completion equals the batch
    aggregate — the exact SQL oracle."""
    import tempfile

    from lightlane_spark.streaming.incremental import (
        drain_to_frame,
        stateful_running_counts,
        stream_from_directory,
    )

    with tempfile.TemporaryDirectory(prefix="llspark_state_") as base:
        land = f"{base}/landing"
        ev = read_table(spark, sf_dir, "events")
        ev.withColumn("__p", F.col("event_id") % 3).repartitionByRange(3, "__p").drop(
            "__p"
        ).write.mode("overwrite").parquet(land)
        stream = stream_from_directory(spark, land, ev.schema, max_files_per_trigger=1)
        counts = stateful_running_counts(stream, ["event_type"])
        return (
            drain_to_frame(counts, "update", checkpoint_location=f"{base}/ck")
            .groupBy("event_type")
            .agg(F.max("n").alias("n_events"))
        )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gaps-and-islands): per-user sessions with
    a 60-minute gap over the events table."""
    from lightlane_spark.operators.sessions import session_stats

    ev = read_table(spark, sf_dir, "events")
    return session_stats(ev, gap_minutes=60)


def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 session event paths (product-analytics path analysis):
    sessionize → in-session event-type sequence (in-row struct sort,
    deterministic (ts, event_id) order) → path frequency ranking. Two
    shuffles beyond sessionization, both keyed aggregations; the path
    string is bounded by session length."""
    from lightlane_spark.operators.sessions import sessionize

    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    s = sessionize(ev, gap_minutes=60)
    paths = s.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda x: x["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(20)
    )


def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-native session_window sessionization (dynamic-gap groupBy)
    — same single shuffle as the gaps-and-islands form; exact-gap
    events merge (split iff diff > gap, verified empirically), so the
    oracle reuses the sessionize island logic with end = last + gap."""
    from lightlane_spark.operators.sessions import session_window_stats

    ev = read_table(spark, sf_dir, "events")
    return session_window_stats(ev, gap_minutes=60)


def q_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota sampling (corpus domain balancing): keep at
    most 30 docs per source in deterministic h32 order."""
    from lightlane_spark.operators.text import quota_sample

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    return quota_sample(docs, "source", 30)


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted deterministic downsampling: keep probability
    scales with doc length (stand-in quality score), reproducible via
    hash threshold — map-only, no shuffle."""
    from lightlane_spark.operators.text import weighted_sample

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = docs.withColumn(
        "weight", F.least(F.col("n_chars") / F.lit(600.0), F.lit(1.0))
    )
    return weighted_sample(w, "weight").select("doc_id", "n_chars")


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style span-level exact dedup over the planted-duplicate
    corpus: 16-token windows, corpus-wide first occurrence survives,
    documents reassembled from surviving spans. The verbatim
    re-uploads (+1e6 ids) lose every span; the drop-first-word
    variants (+2e6) keep their shifted spans."""
    from lightlane_spark.operators.text import span_dedup

    return span_dedup(_docs_with_dups(spark, sf_dir), span=16)


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: docs concatenated (id order, 8
    sharded streams) and cut every 256 tokens; one row per doc×seq
    intersection with doc-relative token offsets."""
    from lightlane_spark.operators.text import pack_sequences, token_count

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    return pack_sequences(docs, "n_tokens", window_tokens=256, buckets=8)


def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (``text.cdc_chunks``): boundaries from
    token-hash low bits, so identical passages chunk identically at
    any document offset (dedup-friendly, unlike fixed windows). Exact
    oracle: the same md5 boundary rule as a SQL window cumsum."""
    from lightlane_spark.operators.text import cdc_chunks

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return cdc_chunks(docs, mask_bits=5)


def q_minhash_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus fuzzy join (``fuzzy_dedup.minhash_join``): the
    corpus joined against an 'incoming batch' of mutated docs (every
    6th doc, first word dropped) on Jaccard ≥ 0.5. Each batch doc must
    link back to its original; threshold 0.5 clears the one-word
    mutation's Jaccard loss. Exact oracle: the full banding pipeline
    over the parity-embedded union, cross-parity pairs mapped back."""
    from lightlane_spark.operators.fuzzy_dedup import minhash_join

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    batch = docs.filter(F.col("doc_id") % 6 == 0).select(
        "doc_id",
        F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
    )
    out = minhash_join(docs, batch, threshold=0.5)
    return out.select(
        "left_id", "right_id", "jaccard"
    )


def _minhash_join_oracle_sql(threshold: float = 0.5) -> str:
    """The q_minhash_join pipeline in SQL: parity-embedded union →
    the same 3-gram/16-hash/4-band chain as ``_MINHASH_CTES`` →
    cross-parity verified pairs mapped back to (left_id, right_id)."""
    return f"""
    WITH corpus AS (
        SELECT doc_id * 2 AS doc_id, text FROM documents
        UNION ALL
        SELECT doc_id * 2 + 1, substring(text, instr(text, ' ') + 1)
        FROM documents WHERE doc_id % 6 = 0
    ),
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
    sh AS (
        SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh
        FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) idx
        WHERE len(t) >= 3
    ),
    shh AS (
        SELECT doc_id,
               ('0x' || substr(md5(sh), 1, 8))::BIGINT AS m1,
               ('0x' || substr(md5(sh), 9, 8))::BIGINT AS m2
        FROM sh
    ),
    sig AS (
        SELECT doc_id, seed, min((m1 + seed * m2) % 4294967296) AS minh
        FROM shh, LATERAL (SELECT unnest(range(0, 16)) AS seed) s
        GROUP BY doc_id, seed
    ),
    bands AS (
        SELECT doc_id, CAST(seed // 4 AS INTEGER) AS band,
               string_agg(minh, ',' ORDER BY seed) AS band_sig
        FROM sig GROUP BY doc_id, band
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.id_a, c.id_b, count(*) AS n_inter
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.id_a
        JOIN sh sb ON sb.doc_id = c.id_b AND sb.sh = sa.sh
        GROUP BY c.id_a, c.id_b
    ),
    verified AS (
        SELECT i.id_a, i.id_b,
               CAST(n_inter AS DOUBLE) / (za.n_sh + zb.n_sh - n_inter) AS jaccard
        FROM inter i
        JOIN sizes za ON za.doc_id = i.id_a
        JOIN sizes zb ON zb.doc_id = i.id_b
        WHERE CAST(n_inter AS DOUBLE) / (za.n_sh + zb.n_sh - n_inter)
              >= {threshold}
    )
    SELECT (CASE WHEN id_a % 2 = 0 THEN id_a ELSE id_b END) // 2 AS left_id,
           (CASE WHEN id_a % 2 = 1 THEN id_a ELSE id_b END) // 2 AS right_id,
           jaccard
    FROM verified WHERE (id_a + id_b) % 2 = 1
    """


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end crawl-curation chain, value-pinned: messy-URL fixture
    → canonical-URL dedup → self-trained bigram-LM scoring → keep
    at-or-below-average surprisal (threshold compared as
    ``score·n ≤ Σscore`` in exact DECIMAL — no division, no
    engine-specific decimal scale rules) → exact text dedup (min-id
    per md5) → per-source survivor counts. Every stage is one of this
    repo's operators; the oracle replays the whole chain in SQL, so a
    regression ANYWHERE in the five-stage composition hash-mismatches.
    """
    from pyspark.sql import Window

    from lightlane_spark.operators.text import lm_doc_scores
    from lightlane_spark.operators.web import url_dedup

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    raw = docs.withColumn(
        "url",
        F.concat(
            F.lit("HTTPS://"),
            F.upper("source"),
            F.lit(".Example.COM:443/p/"),
            (F.col("doc_id") % 5).cast("string"),
            F.lit("?id="),
            (F.col("doc_id") % 11).cast("string"),
            F.lit("&utm_campaign=c"),
        ),
    )
    kept = url_dedup(raw).select("doc_id", "text", "source")
    scored = kept.join(
        lm_doc_scores(kept.select("doc_id", "text")), "doc_id"
    ).withColumn("__q", F.col("lm_score").cast("decimal(18,6)"))
    thr = scored.agg(
        F.sum("__q").alias("__s"), F.count(F.lit(1)).alias("__n")
    )
    filtered = scored.crossJoin(F.broadcast(thr)).where(
        F.col("__q") * F.col("__n") <= F.col("__s")
    )
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = (
        filtered.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
    )
    return deduped.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the verified near-dup graph — how
    clique-like the duplicate families are (see
    ``clustering.triangle_count``). Exact oracle: the same two-join
    closure over the SQL-reproduced pair set."""
    from lightlane_spark.operators.clustering import triangle_count

    return triangle_count(_neardup_pairs(spark, sf_dir))


def q_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-round 3-core of the verified near-dup graph (4 peel
    rounds; see ``clustering.kcore_peel``) — keeps only docs embedded
    in dense template families. The oracle replays all 4 rounds as
    unrolled SQL over the SQL-reproduced pair set, so the iterative
    distributed loop is value-pinned round for round."""
    from lightlane_spark.operators.clustering import kcore_peel

    return kcore_peel(_neardup_pairs(spark, sf_dir), k=3, rounds=4).orderBy("id")


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl stage-0 dedup on canonical URLs (operators/web.py): a
    deterministic messy-URL fixture (upper-cased scheme/host, default
    port, utm param, alternating trailing slash and fragment) keyed to
    doc_id arithmetic, normalized engine-side with parse_url
    expressions, then min-id per canonical URL. The oracle states the
    expected canonical form directly from the same doc_id arithmetic —
    every normalization rule is therefore value-checked end-to-end."""
    from lightlane_spark.operators.web import url_dedup

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    raw = docs.withColumn(
        "url",
        F.concat(
            F.lit("HTTPS://"),
            F.upper("source"),
            F.lit(".Example.COM:443/path/"),
            (F.col("doc_id") % 7).cast("string"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("/")).otherwise(F.lit("")),
            F.lit("?id="),
            (F.col("doc_id") % 50).cast("string"),
            F.lit("&utm_source=feed"),
            F.when(F.col("doc_id") % 2 == 0, F.lit("#frag")).otherwise(F.lit("")),
        ),
    )
    return url_dedup(raw).select("doc_id", "norm_url")


def q_corpus_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-corpus overlap from corpus-level MinHash
    fingerprints (one signature per source, pairwise agreement
    fraction) — see ``fuzzy_dedup.corpus_overlap_estimates``. Exact
    oracle: same portable double-hash minima per (source, seed)."""
    from lightlane_spark.operators.fuzzy_dedup import corpus_overlap_estimates

    docs = read_table(spark, sf_dir, "documents").select("source", "text")
    return corpus_overlap_estimates(docs, group_col="source", k=3, num_hashes=32)


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup contract: corpus = embeddings + 5 planted exact
    duplicates (id+10000). Identical vectors always share an argmin
    centroid, so every planted dup collapses onto its original
    (min-id survivor); at threshold 0.999 random synthetic embeddings
    have no natural pairs (pinned by embedding_neardup's exact-oracle
    row). The survivor ID set is therefore exactly the original ids —
    deterministic and SQL-stated — while the model-dependent cluster
    labels stay engine-internal. See ``similarity.semantic_dedup``."""
    from lightlane_spark.operators.similarity import semantic_dedup

    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.where("vec_id < 5").select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(planted)
    out = semantic_dedup(corpus, n_centroids=8, threshold=0.999, max_iter=4)
    return out.select("vec_id")


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters over the document token stream via a count-min
    sketch (depth=4, width=64 — narrow enough that collisions are real
    at sf0.01's vocab, proving the estimate path, while the md5
    double-hash keeps every collision reproducible in the oracle).
    The sketch is fixed-size mergeable state: at 100 TB the exact
    groupBy shuffles one row per distinct token with Zipf skew, the
    sketch shuffles ≤ depth×width rows per partition. Estimation is
    depth broadcast joins — map-only on the candidate side."""
    from lightlane_spark.operators.sketches import cms_build, cms_estimate
    from pyspark.sql import Window

    toks = (
        read_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .where(F.col("tok") != "")
    )
    sketch = cms_build(toks, "tok", depth=4, width=64)
    est = cms_estimate(sketch, toks.distinct(), "tok", depth=4, width=64)
    # distributed top-k FIRST (TakeOrderedAndProject keeps 10 rows per
    # partition — a global row_number window would sort EVERY distinct
    # token through one partition at scale), then rank the 10
    # survivors with a trivially-bounded window.
    top = est.orderBy(F.col("cms_est").desc(), F.col("tok")).limit(10)
    w = Window.orderBy(F.col("cms_est").desc(), F.col("tok"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "tok", "cms_est", "rank"
    )


def q_weighted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-100-doc weighted sample without replacement
    (``text.weighted_topk_sample``, Efraimidis-Spirakis keys on the
    portable hash — longer docs proportionally likelier). The oracle
    ranks by the identical ln(u)/w formula; key gaps dwarf the 1-ulp
    cross-engine ln risk at the cut boundary (same determinism class
    as the tfidf rank precedent)."""
    from lightlane_spark.operators.text import weighted_topk_sample

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return weighted_topk_sample(docs, "n_chars", k=100)


def q_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from two kilobyte sketches
    (``sketches.cms_join_size``, the CMS inner product): estimate
    |orders ⋈ lineitem| on orderkey without running the join, then —
    for the correctness gate — ALSO compute the exact size and the
    never-underestimates bound. All three values are deterministic
    (md5 positions), so the oracle reproduces them exactly."""
    from lightlane_spark.operators.sketches import cms_build, cms_join_size

    depth, width = 4, 4096
    # ONE key relation per table feeds BOTH the exact join and the CMS
    # build (VERDICT r13 ask #2, guide §5/§6): the former shape read
    # orders and lineitem twice each — once numeric for the exact side,
    # once string-cast for the sketches. The persisted single-column
    # key relations are scanned from parquet once; the string cast the
    # CMS md5 needs is applied on top of the pin. BIGINT→STRING is
    # injective, so the CMS values and the exact count are unchanged.
    # both kept (off re-reads orders / lineitem); cold A/B sf0.1 local[4]: on 0.89 s,
    # off 0.91 s (o_keys) and 0.82 s (li_keys)
    o_keys = (
        read_table(spark, sf_dir, "orders")
        .select("o_orderkey")
        .transform(tracked_persist)
    )
    li_keys = (
        read_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o_orderkey"))
        .transform(tracked_persist)
    )
    as_k = F.col("o_orderkey").cast("string").alias("k")
    est = cms_join_size(
        cms_build(o_keys.select(as_k), "k", depth=depth, width=width),
        cms_build(li_keys.select(as_k), "k", depth=depth, width=width),
    )
    # Exact side stays the RAW join + count: the r13 A/B of the
    # count-product identity (Σ_k c_A(k)·c_B(k) over per-key
    # pre-aggregates) measured SLOWER here (best 1.67 vs 1.47 s
    # interleaved) — both inputs are join keys with ~unique keys on
    # the orders side, so the two wide pre-aggregations cost more
    # than the join output they avoid materializing. It joins the
    # NUMERIC orderkeys (guide §2.3 "narrower types"): the broadcast
    # build and probe hash 8-byte longs, and the string cast exists
    # only inside the CMS branch above.
    exact = o_keys.join(li_keys, "o_orderkey").agg(
        F.count(F.lit(1)).alias("exact_size")
    )
    return (
        est.crossJoin(exact)
        .withColumn("never_under", F.col("est") >= F.col("exact_size"))
        .select("est", "exact_size", "never_under")
    )


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """τ=0.5 temperature mixing over sources with a 200-doc budget —
    see ``text.temperature_mix_sample``. sqrt weights are exact IEEE
    in both engines; quotas floor to integers, ranks cut in portable
    hash order, so the sampled id set is reproducible exactly."""
    from lightlane_spark.operators.text import temperature_mix_sample

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    out = temperature_mix_sample(docs, "source", budget=200, temperature=0.5)
    return out.select("doc_id", "source")


def q_cms_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-partitioned sketching: per-DAY count-min sketches of the
    event-type stream, rolled up to WEEKLY sketches by ``cms_merge``
    (cell-wise addition — no raw data touched again), then estimated
    per (week, type). Because the hash grid is shared, merged daily
    sketches equal a directly-built weekly sketch — which is exactly
    what the oracle builds, so the mergeability claim is value-checked
    end-to-end. The frequency twin of the ``hll_rollup`` pattern."""
    from lightlane_spark.operators.sketches import (
        cms_build,
        cms_estimate,
        cms_merge,
    )

    ev = read_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "event_type"
    )
    daily = cms_build(ev, "event_type", depth=3, width=32, group_cols=["day"])
    week = F.date_trunc("week", F.col("day").cast("timestamp")).cast("date")
    weekly = cms_merge(
        daily.withColumn("week", week).drop("day"), group_cols=["week"]
    )
    items = ev.select(week.alias("week"), "event_type").distinct()
    est = cms_estimate(
        weekly, items, "event_type", depth=3, width=32, group_cols=["week"]
    )
    return est.select("week", "event_type", "cms_est")


def q_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist prefilter via Bloom bits: the 'blocklist' is the md5
    fingerprints of src0's documents; the corpus is flagged by k=4
    broadcast joins against a 256-bit filter — the 100 TB side never
    shuffles (vs the corpus-wide shuffle of an exact anti-join). The
    flag column is deterministic (portable double-hash), so false
    positives — the documented price of the prefilter pattern — are
    reproduced exactly by the oracle."""
    from lightlane_spark.operators.sketches import bloom_build, bloom_member

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5("text").alias("fp")
    )
    blocked = docs.where(F.col("source") == "src0").select("fp")
    bits = bloom_build(blocked, "fp", num_bits=256, k=4)
    return bloom_member(docs, "fp", bits, num_bits=256, k=4).select(
        "doc_id", F.col("bloom_member").alias("flagged")
    )


def q_ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained bigram-LM surprisal per document (CCNet-style
    quality signal) — corpus-count aggregations + count joins, exact
    decimal term sums so the oracle matches bit-for-bit. See
    ``text.lm_doc_scores``."""
    from lightlane_spark.operators.text import lm_doc_scores

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return lm_doc_scores(docs)


def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE merge round's pair statistics (text.bpe_pair_stats):
    corpus → vocabulary (one word-count shuffle), in-row adjacent
    char-pair expansion over vocab rows, one weighted pair-count agg,
    TakeOrdered top-50. The tokenizer-training primitive."""
    from lightlane_spark.operators.text import bpe_pair_stats

    docs = read_table(spark, sf_dir, "documents").select("text")
    return bpe_pair_stats(docs, top_k=50)


def q_vocab_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a learned vocabulary at scale: top-1000 words by corpus
    frequency get ids (rank order, deterministic tie-break), every
    token row maps word→id through a BROADCAST vocab join, OOV → 0.
    The map-only tokenization step of every training pipeline — the
    corpus is never shuffled; the only shuffle builds the vocab
    (output rows = |vocab|). Flat (doc_id, pos, token_id) output."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "w"),
    ).withColumn("pos", F.col("pos") + 1)
    wc = tok.groupBy("w").agg(F.count("*").alias("cnt"))
    from pyspark.sql import Window as W

    vocab = (
        wc.orderBy(F.col("cnt").desc(), "w")
        .limit(1000)
        .withColumn(
            "id", F.row_number().over(W.orderBy(F.col("cnt").desc(), "w"))
        )
        .select("w", "id")
    )
    return (
        tok.join(F.broadcast(vocab), "w", "left")
        .select(
            "doc_id",
            "pos",
            F.coalesce(F.col("id"), F.lit(0)).cast("int").alias("token_id"),
        )
    )


def q_padding_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length bucketing report: docs grouped into power-of-2
    token-length buckets (the padded batch shapes a trainer would
    use); per bucket emits doc count, real token sum, padded token
    sum (bucket_len × docs) and the padding efficiency ratio. One
    map-only pass + a tiny aggregation — the capacity-planning query
    run before packing (pack_sequences is the fix when efficiency is
    low)."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    n = F.size(F.split("text", " "))
    bucket = F.expr(
        "CAST(pow(2, ceil(log2(size(split(text, ' '))))) AS BIGINT)"
    )
    return (
        docs.select(n.alias("n"), bucket.alias("bucket_len"))
        .where(F.col("n") >= 1)
        .groupBy("bucket_len")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n").cast("bigint")).alias("real_tokens"),
        )
        .withColumn("padded_tokens", F.col("bucket_len") * F.col("n_docs"))
        .withColumn(
            "efficiency",
            F.col("real_tokens") / F.col("padded_tokens"),
        )
        .orderBy("bucket_len")
    )


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for the query 'table join scan' (text.bm25_topk):
    postings-proportional work, 1-row broadcast stats, decimal-exact
    per-doc score sums emitted as DOUBLE (per-term scores rounded 6dp
    before summing so the ranking hash-matches cross-engine; no
    DecimalType in hashed output — the r9 driver-red class)."""
    from lightlane_spark.operators.text import bm25_topk

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return bm25_topk(docs, ["table", "join", "scan"], k=10)


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (text.dsir_log_weights): importance
    log-weights of every document against the 'src0' target domain
    under the hashed unigram+bigram generative model, top 20 — the
    standard pretraining-mixture selector, fixed-size (64-bucket)
    model, one feature shuffle, broadcast distributions."""
    from lightlane_spark.operators.text import dsir_log_weights

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    return (
        dsir_log_weights(docs, target=F.col("source") == "src0", dims=64)
        .orderBy(F.col("dsir_weight").desc(), "doc_id")
        .limit(20)
    )


def q_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 top-50 and hashed-BoW cosine top-50 for
    the same query, fused by reciprocal-rank fusion (text.rrf_fuse —
    decimal-exact contributions, DOUBLE-emitted score). The
    lexical+vector fusion every retrieval stack runs; both legs and
    the fusion are exactly SQL-reproducible (integer dot products,
    decimal RRF sums cast to double on emit)."""
    from pyspark.sql import Window as W

    from lightlane_spark.operators.text import bm25_topk, hashed_bow, rrf_fuse

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    terms = ["table", "join", "scan"]

    lex = bm25_topk(docs, terms, k=50).withColumn(
        "rank", F.row_number().over(W.orderBy(F.col("score").desc(), "doc_id"))
    )

    # ONE pass over the BoW relation: broadcast LEFT join against the
    # query's (unique) dims, then a single groupBy computes the dot
    # product and the doc norm together — non-matching rows carry a
    # NULL qw, which SUM skips, and a doc with NO matching dim sums to
    # a NULL dot, filtered below (exactly the row set the former
    # inner-join `dots` produced). The previous norms-agg + dots-join
    # form read the hashed_bow explode+groupBy subtree twice, and the
    # persist that bridged the re-read lost its within-session A/B
    # (tools/ab_persist.py r7: 2.18 s persisted vs 1.80 s without);
    # fusing removes the second read instead of re-deriving it, so the
    # single-scan shape holds at corpus scale too. Integer weights →
    # both sums are order-independent, oracle parity unconditional.
    bow = hashed_bow(docs, dims=64)
    qbow = hashed_bow(
        local_df(spark, [(0, " ".join(terms))], "doc_id: bigint, text: string")
    ).select(F.col("dim").alias("qdim"), F.col("weight").alias("qw"))
    qnorm = qbow.agg(F.sum(F.col("qw") * F.col("qw")).alias("nq"))
    docstats = (
        bow.join(F.broadcast(qbow), bow["dim"] == F.col("qdim"), "left")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("weight") * F.col("qw")).alias("dot"),
            F.sum(F.col("weight") * F.col("weight")).alias("nd"),
        )
        .where(F.col("dot").isNotNull())
    )
    vec = (
        docstats.crossJoin(F.broadcast(qnorm))
        .select(
            "doc_id",
            # raw double on purpose: dot/nd/nq are exact ints and
            # sqrt/÷ are IEEE-correctly-rounded, so the value is
            # bit-identical across engines — a round(…, 9) here would
            # ADD the cross-engine round-grid divergence (the r7/r8
            # driver-red class) to an otherwise deterministic key
            (F.col("dot") / (F.sqrt(F.col("nd")) * F.sqrt(F.col("nq")))).alias(
                "cos"
            ),
        )
        .orderBy(F.col("cos").desc(), "doc_id")
        .limit(50)
        .withColumn(
            "rank", F.row_number().over(W.orderBy(F.col("cos").desc(), "doc_id"))
        )
    )
    return rrf_fuse(
        [lex.select("doc_id", "rank"), vec.select("doc_id", "rank")], k=20
    )


QUERIES = {
    "bm25_topk": q_bm25_topk,
    "dsir_select": q_dsir_select,
    "hybrid_retrieval": q_hybrid_retrieval,
    "vocab_tokenize": q_vocab_tokenize,
    "padding_efficiency": q_padding_efficiency,
    "bpe_pair_counts": q_bpe_pair_counts,
    "streaming_window_counts": q_streaming_window_counts,
    "streaming_stateful_counts": q_streaming_stateful_counts,
    "gopher_rules": q_gopher_rules,
    "sessionize": q_sessionize,
    "session_paths": q_session_paths,
    "session_window": q_session_window,
    "quota_sample": q_quota_sample,
    "weighted_sample": q_weighted_sample,
    "pack_sequences": q_pack_sequences,
    "span_dedup": q_span_dedup,
    "text_stats": q_text_stats,
    "text_quality": q_text_quality,
    "quality_topp": q_quality_topp,
    "text_langid": q_text_langid,
    "text_fingerprint": q_text_fingerprint,
    "text_clean": q_text_clean,
    "chunk_documents": q_chunk_documents,
    "vocab_topk": q_vocab_topk,
    "repetition_stats": q_repetition_stats,
    "dataset_split": q_dataset_split,
    "tfidf_topk": q_tfidf_topk,
    "hashed_bow": q_hashed_bow,
    "bow_similarity": q_bow_similarity,
    "fuzzy_match": q_fuzzy_match,
    "decontaminate": q_decontaminate,
    "stratified_sample": q_stratified_sample,
    "corpus_prep": q_corpus_prep,
    "pii_redact": q_pii_redact,
    "dedup_exact": q_dedup_exact,
    "minhash_signatures": q_minhash_signatures,
    "minhash_lsh_pairs": q_minhash_lsh_pairs,
    "neardup_clusters": q_neardup_clusters,
    "leakage_safe_split": q_leakage_safe_split,
    "pagerank_neardup": q_pagerank_neardup,
    "neardup_dedup": q_neardup_dedup,
    "simhash_signatures": q_simhash_signatures,
    "simhash_near_pairs": q_simhash_near_pairs,
    "ngram_jaccard": q_ngram_jaccard,
    "boilerplate_ngrams": q_boilerplate_ngrams,
    "set_similarity_join": q_set_similarity_join,
    "containment_join": q_containment_join,
    "char_entropy": q_char_entropy,
    "dataset_card_stats": q_dataset_card_stats,
    "cooccurrence_pmi": q_cooccurrence_pmi,
    "ann_topk_bruteforce": q_ann_topk_bruteforce,
    "ann_topk_lsh": q_ann_topk_lsh,
    "ann_topk_filtered": q_ann_topk_filtered,
    "ann_topk_ivf": q_ann_topk_ivf,
    "pq_topk": q_pq_topk,
    "embedding_neardup": q_embedding_neardup,
    "embedding_neardup_lsh": q_embedding_neardup_lsh,
    "rp_project": q_rp_project,
    "embedding_quantize": q_embedding_quantize,
    "embedding_quantize_error": q_embedding_quantize_error,
    "multimodal_decode": q_multimodal_decode,
    "multimodal_resize": q_multimodal_resize,
    "frame_sample": q_frame_sample,
    "multimodal_features": q_multimodal_features,
    "semantic_dedup": q_semantic_dedup,
    "corpus_overlap": q_corpus_overlap,
    "url_dedup": q_url_dedup,
    "triangle_count": q_triangle_count,
    "kcore_peel": q_kcore_peel,
    "curation_pipeline": q_curation_pipeline,
    "minhash_join": q_minhash_join,
    "cdc_chunks": q_cdc_chunks,
    "cms_heavy_hitters": q_cms_heavy_hitters,
    "cms_windowed": q_cms_windowed,
    "temperature_mix": q_temperature_mix,
    "join_size_estimate": q_join_size_estimate,
    "weighted_topk": q_weighted_topk,
    "bloom_prefilter": q_bloom_prefilter,
    "ngram_lm_score": q_ngram_lm_score,
}

def _ann_lsh_oracle_sql(corpus_where: str = "") -> str:
    """Exact oracle for q_ann_topk_lsh (dims=64, k=5, num_bits=4,
    num_tables=4, multiprobe=1). The hyperplane bucket ids are
    bit-identical across engines (see
    ``similarity.hyperplane_bits_duckdb_sql``), so the candidate sets
    match exactly; sims use list_dot_product, same precedent as the
    ann_topk_bruteforce oracle. ``corpus_where`` restricts the
    INDEXED side only (the pre-filter strategy of
    q_ann_topk_filtered); probes always come from the full table."""
    from lightlane_spark.operators.similarity import (
        _table_salt,
        hyperplane_bits_duckdb_sql,
    )

    cw = f"WHERE {corpus_where}" if corpus_where else ""
    c_parts, q_parts = [], []
    for t in range(4):
        b = hyperplane_bits_duckdb_sql("v", 64, 4, salt=_table_salt(t))
        c_parts.append(f"SELECT vec_id, v, {t} AS tbl, {b} AS b FROM e {cw}")
        q_parts.append(
            f"SELECT vec_id AS query_id, v AS qv, {t} AS tbl, {b} AS b "
            "FROM e WHERE vec_id < 10"
        )
    c_sql = " UNION ALL ".join(c_parts)
    q_sql = " UNION ALL ".join(q_parts)
    probes = "[b, xor(b, 1), xor(b, 2), xor(b, 4), xor(b, 8)]"
    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
        c AS ({c_sql}),
        q AS ({q_sql}),
        probes AS (
            SELECT query_id, qv, tbl, u.bucket
            FROM q CROSS JOIN unnest({probes}) AS u(bucket)
        ),
        cand AS (
            SELECT DISTINCT p.query_id, c.vec_id,
                   list_dot_product(p.qv, c.v) /
                   (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(c.v, c.v))) AS sim
            FROM probes p JOIN c ON c.tbl = p.tbl AND c.b = p.bucket
        )
        SELECT query_id, vec_id, CAST(rank AS INTEGER) AS rank
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
            FROM cand
        ) WHERE rank <= 5
    """


def _embedding_neardup_lsh_oracle_sql() -> str:
    """Exact oracle for q_embedding_neardup_lsh (self-blocked
    hyperplane buckets, num_bits=6, salt='nd', threshold=0.999)."""
    from lightlane_spark.operators.similarity import hyperplane_bits_duckdb_sql

    blk = hyperplane_bits_duckdb_sql("v", 64, 6, salt="nd")
    return f"""
        WITH base AS (
            SELECT vec_id, embedding FROM embeddings
            UNION ALL
            SELECT vec_id + 10000, embedding FROM embeddings WHERE vec_id < 5
        ),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM base),
        blocked AS (SELECT vec_id, v, {blk} AS blk FROM e)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM blocked a JOIN blocked b ON a.blk = b.blk AND a.vec_id < b.vec_id
        WHERE list_dot_product(a.v, b.v) /
              (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.999
    """


_SW = "('the','a','of','and','to','in','is','it')"
_SW_DE = "('der','die','das','und','ist','ein','zu','von')"
_SW_ES = "('el','la','de','que','y','en','un','es')"
_SW_FR = "('le','la','de','et','un','est','que','en')"

ORACLE = {
    "weighted_sample": """
        SELECT doc_id, n_chars FROM (
            SELECT doc_id, n_chars,
                   LEAST(n_chars / 600.0, 1.0) AS weight,
                   ('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                       / 4294967296.0 AS u
            FROM documents
        ) WHERE u < weight
    """,
    "pack_sequences": """
        WITH d AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
                   CAST(doc_id % 8 AS INTEGER) AS bucket
            FROM documents
            WHERE len(string_split(text, ' ')) > 0
        ), c AS (
            SELECT *, CAST(SUM(n) OVER (PARTITION BY bucket ORDER BY doc_id
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_end
            FROM d
        ), e AS (
            SELECT bucket, doc_id, cum_end, cum_end - n AS cum_before,
                   CAST(floor((cum_end - n) / 256.0) AS BIGINT) AS first_seq,
                   CAST(floor((cum_end - 1) / 256.0) AS BIGINT) AS last_seq
            FROM c
        )
        SELECT bucket, seq_id, doc_id,
               GREATEST(seq_id * 256, cum_before) - cum_before AS doc_start,
               LEAST(seq_id * 256 + 256, cum_end) - cum_before AS doc_end
        FROM e, LATERAL (SELECT unnest(range(first_seq, last_seq + 1)) AS seq_id) s
    """,
    "quota_sample": """
        SELECT doc_id, source, lang FROM (
            SELECT doc_id, source, lang,
                   ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
                                doc_id
                   ) AS rk
            FROM documents
        ) WHERE rk <= 30
    """,
    "session_window": """
        WITH e AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) > 3600000000
                        THEN 1 ELSE 0 END AS opens
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), s AS (
            SELECT user_id, ts,
                   CAST(SUM(opens) OVER (PARTITION BY user_id ORDER BY ts
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
            FROM e
        )
        SELECT user_id,
               min(ts) AS session_start,
               max(ts) + INTERVAL 60 MINUTE AS session_end,
               count(*) AS n_events
        FROM s GROUP BY user_id, sid
    """,
    "sessionize": """
        WITH e AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) > 3600000000
                        THEN 1 ELSE 0 END AS opens
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), s AS (
            SELECT user_id, ts,
                   CAST(SUM(opens) OVER (PARTITION BY user_id ORDER BY ts
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
            FROM e
        )
        SELECT user_id, session_id,
               min(ts) AS session_start, max(ts) AS session_end,
               count(*) AS n_events
        FROM s GROUP BY 1, 2
    """,
    "streaming_window_counts": """
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
               event_type, count(*) AS n
        FROM events GROUP BY 1, 2
    """,
    "streaming_stateful_counts": """
        SELECT event_type, count(*) AS n_events
        FROM events GROUP BY event_type
    """,
    "gopher_rules": """
        WITH d AS (
            SELECT doc_id, text,
                   string_split(text, ' ') AS w,
                   string_split(text, chr(10)) AS l
            FROM documents
        ),
        m AS (
            SELECT doc_id,
                   len(w) AS n_words,
                   length(text) - (len(w) - 1) AS n_wchars,
                   length(text) - length(replace(text, '#', '')) AS n_hash,
                   (length(text) - length(regexp_replace(text, '\\.\\.\\.', '', 'g'))) // 3 AS n_ell,
                   len(l) AS n_lines,
                   len(list_filter(l, x -> regexp_matches(x, '^\\s*[-*•]'))) AS n_bullet,
                   len(list_filter(l, x -> regexp_matches(x, '(\\.\\.\\.|…)\\s*$'))) AS n_ell_lines,
                   len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
                   len(list_intersect(list_distinct(w),
                       ['the','a','of','and','to','in','is','it'])) AS n_sw
            FROM d
        )
        SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
               n_words >= 50 AND n_words <= 100000 AS wc_ok,
               n_wchars >= 3 * n_words AND n_wchars <= 10 * n_words AS mwl_ok,
               10 * (n_hash + n_ell) <= n_words AS symbol_ok,
               10 * n_bullet <= 9 * n_lines AS bullet_ok,
               10 * n_ell_lines <= 3 * n_lines AS ellipsis_ok,
               5 * n_alpha >= 4 * n_words AS alpha_ok,
               n_sw >= 2 AS stopword_ok,
               (n_words >= 50 AND n_words <= 100000)
                   AND (n_wchars >= 3 * n_words AND n_wchars <= 10 * n_words)
                   AND (10 * (n_hash + n_ell) <= n_words)
                   AND (10 * n_bullet <= 9 * n_lines)
                   AND (10 * n_ell_lines <= 3 * n_lines)
                   AND (5 * n_alpha >= 4 * n_words)
                   AND (n_sw >= 2) AS keep
        FROM m
    """,
    "text_stats": """
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_subwords,
               CAST(length(text) AS BIGINT) AS n_chars_calc
        FROM documents
    """,
    "text_quality": f"""
        WITH m AS (
            SELECT doc_id,
                   CAST(length(text) AS DOUBLE) AS n_chars,
                   CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_toks,
                   CAST(length(text) - length(regexp_replace(text, '[A-Za-z ]', '', 'g')) AS DOUBLE) AS n_alpha,
                   CAST(len(list_filter(string_split(text, ' '), x -> x IN {_SW})) AS DOUBLE) AS n_sw
            FROM documents
        )
        SELECT doc_id,
               0.25 * (CASE WHEN n_toks >= 10 AND n_toks <= 100000 THEN 1.0 ELSE 0.0 END)
             + 0.25 * (n_alpha / n_chars)
             + 0.25 * (CASE WHEN (n_sw / n_toks) > 0.01 THEN 1.0 ELSE 0.0 END)
             + 0.25 * (CASE WHEN (n_chars / n_toks) >= 2 AND (n_chars / n_toks) <= 12 THEN 1.0 ELSE 0.0 END)
               AS quality
        FROM m
    """,
    "quality_topp": f"""
        WITH m AS (
            SELECT doc_id,
                   CAST(length(text) AS DOUBLE) AS n_chars,
                   CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_toks,
                   CAST(length(text) - length(regexp_replace(text, '[A-Za-z ]', '', 'g')) AS DOUBLE) AS n_alpha,
                   CAST(len(list_filter(string_split(text, ' '), x -> x IN {_SW})) AS DOUBLE) AS n_sw
            FROM documents
        ),
        scored AS (
            SELECT doc_id,
                   0.25 * (CASE WHEN n_toks >= 10 AND n_toks <= 100000 THEN 1.0 ELSE 0.0 END)
                 + 0.25 * (n_alpha / n_chars)
                 + 0.25 * (CASE WHEN (n_sw / n_toks) > 0.01 THEN 1.0 ELSE 0.0 END)
                 + 0.25 * (CASE WHEN (n_chars / n_toks) >= 2 AND (n_chars / n_toks) <= 12 THEN 1.0 ELSE 0.0 END)
                   AS quality
            FROM m
        )
        SELECT doc_id, quality FROM scored
        WHERE quality >= (SELECT quantile_cont(quality, 0.8) FROM scored)
    """,
    "text_langid": f"""
        WITH m AS (
            SELECT doc_id,
                   CAST(len(string_split(text,' ')) AS DOUBLE) AS n,
                   len(list_filter(string_split(text,' '), x -> x IN {_SW})) / CAST(len(string_split(text,' ')) AS DOUBLE) AS r_en,
                   len(list_filter(string_split(text,' '), x -> x IN {_SW_DE})) / CAST(len(string_split(text,' ')) AS DOUBLE) AS r_de,
                   len(list_filter(string_split(text,' '), x -> x IN {_SW_ES})) / CAST(len(string_split(text,' ')) AS DOUBLE) AS r_es,
                   len(list_filter(string_split(text,' '), x -> x IN {_SW_FR})) / CAST(len(string_split(text,' ')) AS DOUBLE) AS r_fr
            FROM documents
        )
        SELECT doc_id,
               CASE WHEN greatest(r_en,r_de,r_es,r_fr) = 0 THEN 'und'
                    WHEN r_en = greatest(r_en,r_de,r_es,r_fr) THEN 'en'
                    WHEN r_de = greatest(r_en,r_de,r_es,r_fr) THEN 'de'
                    WHEN r_es = greatest(r_en,r_de,r_es,r_fr) THEN 'es'
                    WHEN r_fr = greatest(r_en,r_de,r_es,r_fr) THEN 'fr'
                    ELSE 'und' END AS lang_guess
        FROM m
    """,
    "text_fingerprint": """
        SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp_md5
        FROM documents
    """,
    "text_clean": """
        WITH dirty AS (
            SELECT doc_id,
                   text || '  ' || chr(1) || 'odd' || chr(9) || 'spacing   here ' AS text
            FROM documents
        )
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(text, '[\\x00-\\x1F]', ' ', 'g'),
                                   '\\s+', ' ', 'g')) AS cleaned
        FROM dirty
    """,
    "chunk_documents": """
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        starts AS (
            SELECT doc_id, t, unnest(range(0, len(t), 24)) AS s
            FROM toks
        )
        SELECT doc_id,
               CAST(s // 24 AS INTEGER) AS chunk_idx,
               array_to_string(t[s+1 : s+32], ' ') AS chunk,
               CAST(least(32, len(t) - s) AS INTEGER) AS n_words
        FROM starts
    """,
    "pii_redact": """
        WITH with_pii AS (
            SELECT doc_id,
                   text || ' contact user' || doc_id || '@mail.example.com or +1-555-0'
                        || (doc_id % 1000) || ' now' AS text
            FROM documents
        )
        SELECT doc_id,
               regexp_replace(
                   regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                   '\\+?[0-9][0-9()\\- ]{6,}[0-9]', '<PHONE>', 'g') AS redacted
        FROM with_pii
    """,
    "dataset_split": """
        SELECT doc_id,
               CASE WHEN h < 5 THEN 'test' WHEN h < 10 THEN 'val'
                    ELSE 'train' END AS split
        FROM (
            SELECT doc_id,
                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS h
            FROM documents
        )
    """,
    "tfidf_topk": """
        WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
        dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
        n AS (SELECT count(DISTINCT doc_id) AS nd FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.tok, tf.tf, dfreq.df,
                   CAST(round(tf.tf * ln((nd + 1.0) / (df + 1.0)), 9)
                        AS DECIMAL(18,9)) AS tfidf
            FROM tf JOIN dfreq USING (tok) CROSS JOIN n
        )
        SELECT doc_id, tok, tf, df, CAST(rank AS INTEGER) AS rank FROM (
            SELECT doc_id, tok, tf, df,
                   ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS rank
            FROM scored
        ) WHERE rank <= 3
    """,
    "hashed_bow": """
        WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        SELECT doc_id,
               CAST(('0x' || substr(md5(tok), 1, 8))::BIGINT % 64 AS INTEGER) AS dim,
               count(*) AS weight
        FROM toks GROUP BY 1, 2
    """,
    "fuzzy_match": """
        WITH dirty AS (
            SELECT s_suppkey AS dirty_key,
                   substring(s_name, 1, 3) ||
                   regexp_replace(substring(s_name, 4), '[aeiou]', '', 'g') AS dirty_name
            FROM supplier
        ),
        lg AS (
            SELECT DISTINCT dirty_key, dirty_name,
                   substring(dirty_name, i, 3) AS g
            FROM dirty, LATERAL (
                SELECT unnest(range(1, greatest(1, length(dirty_name) - 2) + 1)) AS i
            ) ix
        ),
        rg AS (
            SELECT DISTINCT s_suppkey, s_name, substring(s_name, i, 3) AS g
            FROM supplier, LATERAL (
                SELECT unnest(range(1, greatest(1, length(s_name) - 2) + 1)) AS i
            ) ix
        ),
        cand AS (
            SELECT DISTINCT dirty_key, dirty_name, s_suppkey, s_name
            FROM lg JOIN rg USING (g)
        )
        SELECT dirty_key, dirty_name, s_suppkey, s_name,
               CAST(levenshtein(dirty_name, s_name) AS INTEGER) AS edit_distance
        FROM cand
        WHERE levenshtein(dirty_name, s_name) <= 2
    """,
    "bow_similarity": """
        WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        bow AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5(tok), 1, 8))::BIGINT % 64 AS INTEGER) AS dim,
                   count(*) AS weight
            FROM toks GROUP BY 1, 2
        ),
        norms AS (SELECT doc_id, sqrt(sum(weight * weight)) AS nrm FROM bow GROUP BY doc_id),
        dots AS (
            SELECT p.doc_id AS query_id, c.doc_id, sum(p.weight * c.weight) AS dot
            FROM bow p JOIN bow c ON p.dim = c.dim
            WHERE p.doc_id % 100 = 0 AND c.doc_id % 100 <> 0
            GROUP BY 1, 2
        ),
        sims AS (
            SELECT d.query_id, d.doc_id,
                   round(dot / (nq.nrm * nc.nrm), 6) AS sim
            FROM dots d
            JOIN norms nq ON nq.doc_id = d.query_id
            JOIN norms nc ON nc.doc_id = d.doc_id
        )
        SELECT query_id, doc_id, sim, CAST(rank AS INTEGER) AS rank FROM (
            SELECT query_id, doc_id, sim,
                   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, doc_id) AS rank
            FROM sims
        ) WHERE rank <= 3
    """,
    "repetition_stats": """
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        g AS (
            SELECT doc_id, t,
                   list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' ')) AS g2,
                   list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' ')) AS g3
            FROM toks
        )
        SELECT doc_id,
               CASE WHEN len(t) < 2 THEN 0.0
                    ELSE 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2) END AS dup_2gram_frac,
               CASE WHEN len(t) < 3 THEN 0.0
                    ELSE 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3) END AS dup_3gram_frac
        FROM g
    """,
    "decontaminate": """
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        grams AS (
            SELECT doc_id, array_to_string(t[i:i+7], ' ') AS sh
            FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 6)) AS i) idx
            WHERE len(t) >= 8
        ),
        bench AS (SELECT DISTINCT sh FROM grams WHERE doc_id % 97 = 0)
        SELECT DISTINCT g.doc_id
        FROM grams g JOIN bench b ON g.sh = b.sh
        WHERE g.doc_id % 97 <> 0
    """,
    "vocab_topk": """
        WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        c AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok)
        SELECT tok, cnt, CAST(rank AS INTEGER) AS rank FROM (
            SELECT tok, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rank FROM c
        ) WHERE rank <= 100
    """,
    "stratified_sample": f"""
        WITH m AS (
            SELECT doc_id,
                   len(list_filter(string_split(text,' '), x -> x IN {_SW})) / CAST(len(string_split(text,' ')) AS DOUBLE) AS r_en,
                   len(list_filter(string_split(text,' '), x -> x IN {_SW_DE})) / CAST(len(string_split(text,' ')) AS DOUBLE) AS r_de,
                   len(list_filter(string_split(text,' '), x -> x IN {_SW_ES})) / CAST(len(string_split(text,' ')) AS DOUBLE) AS r_es,
                   len(list_filter(string_split(text,' '), x -> x IN {_SW_FR})) / CAST(len(string_split(text,' ')) AS DOUBLE) AS r_fr
            FROM documents
        ),
        langed AS (
            SELECT doc_id,
                   CASE WHEN greatest(r_en,r_de,r_es,r_fr) = 0 THEN 'und'
                        WHEN r_en = greatest(r_en,r_de,r_es,r_fr) THEN 'en'
                        WHEN r_de = greatest(r_en,r_de,r_es,r_fr) THEN 'de'
                        WHEN r_es = greatest(r_en,r_de,r_es,r_fr) THEN 'es'
                        WHEN r_fr = greatest(r_en,r_de,r_es,r_fr) THEN 'fr'
                        ELSE 'und' END AS lang
            FROM m
        )
        SELECT doc_id, lang FROM langed
        WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000
              < CASE WHEN lang = 'en' THEN 3000 ELSE 10000 END
    """,
    "corpus_prep": f"""
        WITH cleaned AS (
            SELECT doc_id,
                   trim(regexp_replace(regexp_replace(text, '[\\x00-\\x1F]', ' ', 'g'),
                                       '\\s+', ' ', 'g')) AS text
            FROM documents
        ),
        q AS (
            SELECT doc_id,
                   0.25 * (CASE WHEN n_toks >= 10 AND n_toks <= 100000 THEN 1.0 ELSE 0.0 END)
                 + 0.25 * (n_alpha / n_chars)
                 + 0.25 * (CASE WHEN (n_sw / n_toks) > 0.01 THEN 1.0 ELSE 0.0 END)
                 + 0.25 * (CASE WHEN (n_chars / n_toks) >= 2 AND (n_chars / n_toks) <= 12 THEN 1.0 ELSE 0.0 END)
                   AS quality
            FROM (
                SELECT doc_id,
                       CAST(length(text) AS DOUBLE) AS n_chars,
                       CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_toks,
                       CAST(length(text) - length(regexp_replace(text, '[A-Za-z ]', '', 'g')) AS DOUBLE) AS n_alpha,
                       CAST(len(list_filter(string_split(text, ' '), x -> x IN {_SW})) AS DOUBLE) AS n_sw
                FROM cleaned
            )
        ),
        good AS (
            SELECT c.doc_id, c.text FROM cleaned c JOIN q ON q.doc_id = c.doc_id
            WHERE q.quality >= 0.75
        ),
        keyed AS (
            SELECT doc_id, text,
                   md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
            FROM good
        ),
        kept AS (
            SELECT doc_id, text FROM (
                SELECT doc_id, text,
                       ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
                FROM keyed
            ) WHERE rn = 1
        )
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM kept
    """,
    "span_dedup": f"""
        WITH {_CORPUS_CTE},
        toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
        spans AS (
            SELECT doc_id, CAST(i AS INT) AS span_idx,
                   array_to_string(t[i * 16 + 1 : i * 16 + 16], ' ') AS span
            FROM toks, LATERAL (
                SELECT unnest(range(0, CAST(ceil(len(t) / 16.0) AS BIGINT))) AS i
            ) ix
        ),
        ranked AS (
            SELECT doc_id, span_idx, span,
                   ROW_NUMBER() OVER (
                       PARTITION BY md5(span) ORDER BY doc_id, span_idx
                   ) AS rn
            FROM spans
        ),
        kept AS (SELECT doc_id, span_idx, span FROM ranked WHERE rn = 1),
        reassembled AS (
            SELECT doc_id,
                   array_to_string(list(span ORDER BY span_idx), ' ') AS text_deduped,
                   count(*) AS n_spans_kept
            FROM kept GROUP BY doc_id
        ),
        totals AS (SELECT doc_id, count(*) AS n_spans FROM spans GROUP BY doc_id)
        SELECT t.doc_id,
               coalesce(r.text_deduped, '') AS text_deduped,
               CAST(t.n_spans AS BIGINT) AS n_spans,
               CAST(coalesce(r.n_spans_kept, 0) AS BIGINT) AS n_spans_kept
        FROM totals t LEFT JOIN reassembled r ON r.doc_id = t.doc_id
    """,
    "dedup_exact": f"""
        WITH {_CORPUS_CTE},
        keyed AS (
            SELECT doc_id,
                   md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
            FROM corpus
        )
        SELECT doc_id FROM (
            SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) rn
            FROM keyed
        ) WHERE rn = 1
    """,
    "minhash_signatures": """
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        sh AS (
            SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh
            FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) idx
            WHERE len(t) >= 3
        ),
        shh AS (
            SELECT doc_id,
                   ('0x' || substr(md5(sh), 1, 8))::BIGINT AS m1,
                   ('0x' || substr(md5(sh), 9, 8))::BIGINT AS m2
            FROM sh
        )
        SELECT doc_id, CAST(seed AS INTEGER) AS seed,
               min((m1 + seed * m2) % 4294967296) AS minh
        FROM shh, LATERAL (SELECT unnest(range(0, 16)) AS seed) s
        GROUP BY doc_id, seed
    """,
    "minhash_lsh_pairs": f"""
        WITH {_VERIFIED_PAIRS_CTES}
        SELECT id_a, id_b, jaccard FROM verified
    """,
    "pagerank_neardup": f"""
        WITH RECURSIVE {_VERIFIED_PAIRS_CTES},
        sym AS (
            SELECT id_a AS src, id_b AS dst FROM verified
            UNION
            SELECT id_b, id_a FROM verified
        ),
        deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY src),
        nn AS (SELECT count(*) AS n FROM deg),
        pr AS (
            SELECT 0 AS lvl, src AS id,
                   CAST(1000000000000 // (SELECT n FROM nn) AS BIGINT) AS rank
            FROM deg
            UNION ALL
            SELECT p.lvl + 1, s.dst AS id,
                   CAST((SELECT 15 * 1000000000000 // (100 * n) FROM nn)
                        + sum(p.rank * 85 // (100 * d.deg)) AS BIGINT)
            FROM pr p
            JOIN sym s ON s.src = p.id
            JOIN deg d ON d.src = p.id
            WHERE p.lvl < 5
            GROUP BY p.lvl, s.dst
        )
        SELECT id, rank FROM pr WHERE lvl = 5
    """,
    "neardup_clusters": f"""
        WITH RECURSIVE {_CLUSTER_CTES}
        SELECT doc_id, component FROM clusters
    """,
    "neardup_dedup": f"""
        WITH RECURSIVE {_CLUSTER_CTES}
        SELECT doc_id FROM clusters WHERE doc_id = component
    """,
    "simhash_signatures": f"""
        WITH {_CORPUS_CTE},
        toks AS (
            SELECT DISTINCT doc_id, tok
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM corpus)
        ),
        hashed AS (
            SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM toks
        ),
        votes AS (
            SELECT doc_id, b,
                   sum(CASE WHEN (h // CAST(pow(2, b) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END) AS s
            FROM hashed, LATERAL (SELECT unnest(range(0, 32)) AS b) bits
            GROUP BY doc_id, b
        )
        SELECT doc_id,
               CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
        FROM votes GROUP BY doc_id
    """,
    "simhash_near_pairs": f"""
        WITH {_CORPUS_CTE},
        toks AS (
            SELECT DISTINCT doc_id, tok
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM corpus)
        ),
        hashed AS (
            SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM toks
        ),
        votes AS (
            SELECT doc_id, b,
                   sum(CASE WHEN (h // CAST(pow(2, b) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END) AS s
            FROM hashed, LATERAL (SELECT unnest(range(0, 32)) AS b) bits
            GROUP BY doc_id, b
        ),
        sigs AS (
            SELECT doc_id,
                   sum(CASE WHEN s > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS simhash
            FROM votes GROUP BY doc_id
        ),
        bands AS (
            SELECT doc_id, simhash, band,
                   (simhash // CAST(pow(2, band * 8) AS BIGINT)) % 256 AS byte
            FROM sigs, LATERAL (SELECT unnest(range(0, 4)) AS band) bd
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                   a.simhash AS sh_a, b.simhash AS sh_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.byte = b.byte AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
        FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
    """,
    "boilerplate_ngrams": """
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        g AS (
            SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS sh
            FROM toks, LATERAL (SELECT unnest(range(1, len(w) - 3)) AS i) idx
            WHERE len(w) >= 5
        ),
        dfreq AS (SELECT sh, count(*) AS dfreq FROM g GROUP BY 1),
        per_doc AS (
            SELECT g.doc_id,
                   count(*) AS n_grams,
                   SUM(CASE WHEN d.dfreq >= 8 THEN 1 ELSE 0 END) AS n_boiler
            FROM g JOIN dfreq d ON g.sh = d.sh
            GROUP BY 1
        )
        SELECT doc_id,
               CAST(n_grams AS BIGINT) AS n_grams,
               CAST(n_boiler AS BIGINT) AS n_boiler,
               CAST(n_boiler AS DOUBLE) / n_grams AS boiler_ratio
        FROM per_doc
        ORDER BY boiler_ratio DESC, doc_id
        LIMIT 20
    """,
    "ngram_jaccard": f"""
        WITH {_CORPUS_CTE},
        sub AS (SELECT * FROM corpus WHERE doc_id % 7 = 0 OR doc_id >= 2000000),
        toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM sub),
        sh0 AS (
            SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh
            FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) idx
            WHERE len(t) >= 3
        ),
        rare AS (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) <= 25),
        sh AS (SELECT s.doc_id, s.sh FROM sh0 s JOIN rare r ON s.sh = r.sh),
        pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
            FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id)
        SELECT p.id_a, p.id_b,
               CAST(n_inter AS DOUBLE) / (za.n_sh + zb.n_sh - n_inter) AS jaccard
        FROM pairs p
        JOIN sizes za ON za.doc_id = p.id_a
        JOIN sizes zb ON zb.doc_id = p.id_b
        WHERE CAST(n_inter AS DOUBLE) / (za.n_sh + zb.n_sh - n_inter) >= 0.5
    """,
    "ann_topk_bruteforce": """
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        s AS (
            SELECT q.vec_id AS query_id, c.vec_id,
                   list_dot_product(q.v, c.v) /
                   (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS sim
            FROM e q, e c WHERE q.vec_id < 10
        )
        SELECT query_id, vec_id, CAST(rank AS INTEGER) AS rank, round(sim, 6) AS sim
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
            FROM s
        ) WHERE rank <= 5
    """,
    "embedding_neardup": """
        WITH base AS (
            SELECT vec_id, embedding, label FROM embeddings
            UNION ALL
            SELECT vec_id + 10000, embedding, label FROM embeddings WHERE vec_id < 5
        ),
        e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM base)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_dot_product(a.v, b.v) /
                     (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS sim
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE list_dot_product(a.v, b.v) /
              (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.999
    """,
    "rp_project": """
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        comps AS (
            SELECT vec_id,
                   CAST(unnest(range(len(v))) AS INTEGER) AS i,
                   unnest(v) AS x
            FROM e
        ),
        mat AS (
            SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
                   CASE WHEN ('0x' || substr(
                        md5('rp:' || i || ':' || j), 1, 8))::BIGINT % 2 = 0
                        THEN 1 ELSE -1 END AS s
            FROM range(64) t1(i), range(16) t2(j)
        )
        SELECT c.vec_id, m.j AS rp_dim,
               CAST(SUM(CAST(round(m.s * c.x, 6) AS DECIMAL(18,6)))
                    AS DOUBLE) * 0.25 AS value
        FROM comps c JOIN mat m ON c.i = m.i
        GROUP BY c.vec_id, m.j
    """,
    "embedding_quantize": """
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        m AS (
            SELECT vec_id, v,
                   list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
            FROM e
        ),
        x AS (
            SELECT vec_id, scale,
                   unnest(v) AS val,
                   unnest(range(len(v))) AS pos
            FROM m
        )
        SELECT vec_id, CAST(pos AS INTEGER) AS pos,
               CAST(CASE WHEN scale = 0 THEN 0 ELSE round(val / scale) END AS BIGINT) AS q,
               round(scale, 9) AS scale
        FROM x
    """,
    "embedding_quantize_error": """
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        m AS (
            SELECT vec_id, v,
                   list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
            FROM e
        )
        SELECT vec_id,
               round(list_max(list_transform(v,
                   x -> abs(x - CASE WHEN scale = 0 THEN 0.0
                                     ELSE round(x / scale) * scale END))), 9) AS max_abs_err,
               round(scale, 9) AS scale
        FROM m
    """,
    "multimodal_decode": """
        WITH m AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n FROM documents)
        SELECT doc_id, n AS n_bytes,
               CASE n % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END AS format,
               CAST(64 + (n % 640) AS INTEGER) AS width,
               CAST(64 + ((n * 7) % 480) AS INTEGER) AS height,
               md5(text) AS checksum
        FROM m
    """,
    "multimodal_resize": """
        SELECT doc_id, CAST(length(text) AS BIGINT) AS n_bytes,
               CAST(224 AS INTEGER) AS width, CAST(224 AS INTEGER) AS height
        FROM documents
    """,
    "frame_sample": """
        SELECT doc_id, CAST(length(text) AS BIGINT) AS n_bytes,
               CAST(unnest(range(0, length(text), 64)) AS INTEGER) AS frame_offset
        FROM documents
    """,
}

def _multimodal_features_oracle_sql(dim: int = 16, k: int = 3) -> str:
    """Exact DuckDB twin of q_multimodal_features: the fake extractor
    derives the vector from md5(payload) with plain IEEE float64 ops
    (byte/255.0 - 0.5, left-fold norm, divide, float32 store), and
    topk_bruteforce folds dot/norm sequentially in float64 — every
    step is order-pinned, so rendering the SAME left-associated chains
    in SQL reproduces the similarities bit-for-bit. dim must be ≤ 16
    (the XOR spread term is zero there, as in the extractor)."""
    assert dim <= 16

    def chain(terms: list[str]) -> str:
        expr = terms[0]
        for t in terms[1:]:
            expr = f"({expr} + {t})"
        return expr

    raw = ",\n               ".join(
        f"(CAST('0x' || substr(h, {2 * i + 1}, 2) AS INT) / 255.0 - 0.5) AS r{i}"
        for i in range(dim)
    )
    nrm = chain([f"r{i} * r{i}" for i in range(dim)])
    e_cols = ",\n               ".join(
        f"CAST(CAST(r{i} / nn AS REAL) AS DOUBLE) AS e{i}" for i in range(dim)
    )
    vn = chain([f"e{i} * e{i}" for i in range(dim)])
    dot_expr = chain([f"q.e{i} * c.e{i}" for i in range(dim)])
    return f"""
        WITH b AS (SELECT doc_id, md5(text) AS h FROM documents),
        v AS (
            SELECT doc_id,
               {raw}
            FROM b
        ),
        n AS (SELECT *, sqrt({nrm}) AS nn FROM v),
        e AS (
            SELECT doc_id,
               {e_cols}
            FROM n
        ),
        en AS (SELECT *, sqrt({vn}) AS vnorm FROM e),
        pairs AS (
            SELECT q.doc_id AS query_id, c.doc_id AS vec_id,
                   ({dot_expr}) / (q.vnorm * c.vnorm) AS sim
            FROM en q, en c
            WHERE q.doc_id % 50 = 0
        )
        SELECT query_id, vec_id, CAST(rnk AS INTEGER) AS rank, round(sim, 6) AS sim
        FROM (
            SELECT query_id, vec_id, sim,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id ORDER BY sim DESC, vec_id
                   ) AS rnk
            FROM pairs
        ) WHERE rnk <= {k}
    """


# Generated oracles (hyperplane bucket expressions are rendered from
# the same md5-derived weights the Spark side uses — bit-identical
# sign tests, see similarity.hyperplane_bits_duckdb_sql).
ORACLE["ann_topk_lsh"] = _ann_lsh_oracle_sql()
ORACLE["ann_topk_filtered"] = _ann_lsh_oracle_sql("label % 2 = 0")
ORACLE["embedding_neardup_lsh"] = _embedding_neardup_lsh_oracle_sql()
ORACLE["multimodal_features"] = _multimodal_features_oracle_sql()
# ann_topk_ivf emits its recall CONTRACT (see q_ann_topk_ivf): the
# oracle states the expected booleans as literals, so any recall
# regression hash-mismatches.
ORACLE["ann_topk_ivf"] = """
    SELECT vec_id AS query_id, TRUE AS probe_ok, TRUE AS overall_ok
    FROM embeddings WHERE vec_id < 10
"""
# pq_topk: same recall-contract shape as ann_topk_ivf.
ORACLE["pq_topk"] = """
    SELECT vec_id AS query_id, TRUE AS probe_ok, TRUE AS overall_ok
    FROM embeddings WHERE vec_id < 10
"""


def _cms_heavy_hitters_oracle_sql(depth: int = 4, width: int = 64) -> str:
    """Exact oracle for q_cms_heavy_hitters: rebuilds the identical
    sketch (collisions included) from the shared ``position_sql``
    arithmetic, then estimates and ranks the same way."""
    from lightlane_spark.operators.sketches import position_sql

    pos_union = " UNION ALL ".join(
        f"SELECT {i} AS d, {position_sql('tok', i, width, 'duckdb')} AS b FROM toks"
        for i in range(depth)
    )
    cand_pos = " UNION ALL ".join(
        f"SELECT tok, {i} AS d, {position_sql('tok', i, width, 'duckdb')} AS b FROM cand"
        for i in range(depth)
    )
    return f"""
        WITH toks AS (
            SELECT tok FROM (
                SELECT unnest(string_split(text, ' ')) AS tok FROM documents
            ) WHERE tok <> ''
        ),
        cms AS (SELECT d, b, COUNT(*) AS cnt FROM ({pos_union}) GROUP BY 1, 2),
        cand AS (SELECT DISTINCT tok FROM toks),
        est AS (
            SELECT p.tok, MIN(COALESCE(c.cnt, 0)) AS cms_est
            FROM ({cand_pos}) p LEFT JOIN cms c USING (d, b)
            GROUP BY p.tok
        )
        SELECT tok, cms_est, CAST(rank AS INTEGER) AS rank FROM (
            SELECT tok, cms_est,
                   ROW_NUMBER() OVER (ORDER BY cms_est DESC, tok) AS rank
            FROM est
        ) WHERE rank <= 10
    """


def _bloom_prefilter_oracle_sql(num_bits: int = 256, k: int = 4) -> str:
    """Exact oracle for q_bloom_prefilter — same double-hash bit
    arithmetic, membership = all k bits set (false positives and
    all)."""
    from lightlane_spark.operators.sketches import position_sql

    bit_union = " UNION ALL ".join(
        f"SELECT {position_sql('fp', i, num_bits, 'duckdb')} AS b "
        "FROM docs WHERE source = 'src0'"
        for i in range(k)
    )
    probes = " AND ".join(
        f"({position_sql('fp', i, num_bits, 'duckdb')} IN (SELECT b FROM bits))"
        for i in range(k)
    )
    return f"""
        WITH docs AS (SELECT doc_id, source, md5(text) AS fp FROM documents),
        bits AS (SELECT DISTINCT b FROM ({bit_union}))
        SELECT doc_id, {probes} AS flagged FROM docs
    """


ORACLE["semantic_dedup"] = "SELECT vec_id FROM embeddings"
ORACLE["minhash_join"] = _minhash_join_oracle_sql()
ORACLE["cdc_chunks"] = """
    WITH d AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents
    ),
    toks AS (
        SELECT doc_id, unnest(t) AS tok,
               unnest(range(1, len(t) + 1)) AS pos
        FROM d
    ),
    flagged AS (
        SELECT doc_id, pos, tok,
               CASE WHEN ('0x' || substr(md5(tok), 1, 8))::BIGINT % 32 = 0
                    THEN 1 ELSE 0 END AS b
        FROM toks
    ),
    chunked AS (
        SELECT doc_id, pos, tok,
               COALESCE(SUM(b) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS chunk_idx
        FROM flagged
    )
    SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
           string_agg(tok, ' ' ORDER BY pos) AS chunk_text,
           count(*) AS n_tokens
    FROM chunked GROUP BY 1, 2
"""
ORACLE["triangle_count"] = f"""
    WITH pairs AS ({ORACLE["minhash_lsh_pairs"]})
    SELECT CAST(count(*) AS BIGINT) AS n_triangles
    FROM pairs e1
    JOIN pairs e2 ON e1.id_b = e2.id_a
    WHERE EXISTS (
        SELECT 1 FROM pairs e3
        WHERE e3.id_a = e1.id_a AND e3.id_b = e2.id_b
    )
"""
def _kcore_oracle_sql(k: int = 3, rounds: int = 4) -> str:
    """Unrolled SQL replay of ``clustering.kcore_peel``: each round
    recomputes degrees on the remaining edges and keeps only edges
    whose BOTH endpoints still have degree ≥ k — identical round
    structure to the Spark loop, over the same SQL-reproduced verified
    pair set."""
    # every CTE is MATERIALIZED: DuckDB otherwise re-inlines each
    # referenced CTE, and e{r+1} references e{r} three times (edge set
    # + both degree-filter sides) — 3^rounds expansions of the whole
    # MinHash pair derivation (observed as thousands of parquet opens)
    sql = f"WITH pairs AS MATERIALIZED ({ORACLE['minhash_lsh_pairs']}),\n"
    sql += "e0 AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pairs)"
    for r in range(rounds):
        sql += f""",
d{r} AS MATERIALIZED (SELECT id, count(*) AS deg
         FROM (SELECT a AS id FROM e{r} UNION ALL SELECT b AS id FROM e{r}) t
         GROUP BY 1),
k{r} AS MATERIALIZED (SELECT id FROM d{r} WHERE deg >= {k}),
e{r + 1} AS MATERIALIZED (SELECT e.a, e.b FROM e{r} e
             JOIN k{r} x ON e.a = x.id
             JOIN k{r} y ON e.b = y.id)"""
    sql += f"""
SELECT id, CAST(count(*) AS BIGINT) AS deg
FROM (SELECT a AS id FROM e{rounds} UNION ALL SELECT b AS id FROM e{rounds}) t
GROUP BY 1
ORDER BY 1
"""
    return sql


ORACLE["kcore_peel"] = _kcore_oracle_sql()

ORACLE["url_dedup"] = """
    WITH d AS (
        SELECT doc_id,
               'https://' || lower(source) || '.example.com/path/'
               || CAST(doc_id % 7 AS VARCHAR)
               || '?id=' || CAST(doc_id % 50 AS VARCHAR) AS norm_url
        FROM documents
    )
    SELECT min(doc_id) AS doc_id, norm_url FROM d GROUP BY norm_url
"""
ORACLE["corpus_overlap"] = """
    WITH toks AS (SELECT source, string_split(text, ' ') AS t FROM documents),
    sh AS (
        SELECT DISTINCT source, array_to_string(t[i:i+2], ' ') AS sh
        FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) idx
        WHERE len(t) >= 3
    ),
    shh AS (
        SELECT source,
               ('0x' || substr(md5(sh), 1, 8))::BIGINT AS m1,
               ('0x' || substr(md5(sh), 9, 8))::BIGINT AS m2
        FROM sh
    ),
    sig AS (
        SELECT source, seed, min((m1 + seed * m2) % 4294967296) AS minh
        FROM shh, LATERAL (SELECT unnest(range(0, 32)) AS seed) s
        GROUP BY 1, 2
    )
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(SUM(CASE WHEN a.minh = b.minh THEN 1 ELSE 0 END) AS BIGINT)
               AS n_agree,
           SUM(CASE WHEN a.minh = b.minh THEN 1 ELSE 0 END) / 32.0
               AS est_jaccard
    FROM sig a JOIN sig b ON a.seed = b.seed AND a.source < b.source
    GROUP BY 1, 2
"""
ORACLE["cms_heavy_hitters"] = _cms_heavy_hitters_oracle_sql()
ORACLE["bloom_prefilter"] = _bloom_prefilter_oracle_sql()
ORACLE["ngram_lm_score"] = """
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents
    ),
    uni AS (
        SELECT tok, COUNT(*) AS cu
        FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY 1
    ),
    v AS (SELECT COUNT(*) AS vn FROM uni),
    bg AS (
        SELECT doc_id,
               unnest(list_transform(list_slice(toks, 1, len(toks) - 1),
                                     (w, i) -> w || ' ' || toks[i + 1])) AS bigram
        FROM t
    ),
    bgc AS (SELECT bigram, COUNT(*) AS cb FROM bg GROUP BY 1),
    terms AS (
        SELECT bg.doc_id,
               CAST(ROUND(-ln((bgc.cb + 1.0) / (uni.cu + v.vn)), 9)
                    AS DECIMAL(18,9)) AS term
        FROM bg
        JOIN bgc USING (bigram)
        JOIN uni ON uni.tok = string_split(bg.bigram, ' ')[1]
        CROSS JOIN v
    )
    SELECT doc_id, ROUND(CAST(SUM(term) AS DOUBLE) / COUNT(*), 6) AS lm_score
    FROM terms GROUP BY doc_id
"""

ORACLE["curation_pipeline"] = """
    WITH d AS (SELECT doc_id, text, source FROM documents),
    kept_ids AS (
        SELECT min(doc_id) AS doc_id
        FROM d GROUP BY source, doc_id % 5, doc_id % 11
    ),
    kd AS (SELECT d.* FROM d JOIN kept_ids USING (doc_id)),
    t AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM kd
    ),
    uni AS (
        SELECT tok, COUNT(*) AS cu
        FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY 1
    ),
    v AS (SELECT COUNT(*) AS vn FROM uni),
    bg AS (
        SELECT doc_id,
               unnest(list_transform(list_slice(toks, 1, len(toks) - 1),
                                     (w, i) -> w || ' ' || toks[i + 1])) AS bigram
        FROM t
    ),
    bgc AS (SELECT bigram, COUNT(*) AS cb FROM bg GROUP BY 1),
    terms AS (
        SELECT bg.doc_id,
               CAST(ROUND(-ln((bgc.cb + 1.0) / (uni.cu + v.vn)), 9)
                    AS DECIMAL(18,9)) AS term
        FROM bg
        JOIN bgc USING (bigram)
        JOIN uni ON uni.tok = string_split(bg.bigram, ' ')[1]
        CROSS JOIN v
    ),
    scores AS (
        SELECT doc_id,
               CAST(ROUND(CAST(SUM(term) AS DOUBLE) / COUNT(*), 6)
                    AS DECIMAL(18,6)) AS q
        FROM terms GROUP BY doc_id
    ),
    sc AS (
        SELECT kd.doc_id, kd.text, kd.source, s.q
        FROM kd JOIN scores s USING (doc_id)
    ),
    agg AS (SELECT SUM(q) AS s, COUNT(*) AS n FROM sc),
    filt AS (SELECT sc.* FROM sc, agg WHERE sc.q * agg.n <= agg.s),
    ded AS (SELECT min(doc_id) AS doc_id FROM filt GROUP BY md5(text))
    SELECT source, count(*) AS n_docs
    FROM filt JOIN ded USING (doc_id)
    GROUP BY 1
"""


def _cms_windowed_oracle_sql(depth: int = 3, width: int = 32) -> str:
    """Direct weekly-sketch build — equals the engine's daily→merged
    path because the hash grid is shared (mergeability contract)."""
    from lightlane_spark.operators.sketches import position_sql

    pos_union = " UNION ALL ".join(
        f"SELECT week, {i} AS d, "
        f"{position_sql('event_type', i, width, 'duckdb')} AS b FROM ev"
        for i in range(depth)
    )
    cand_pos = " UNION ALL ".join(
        f"SELECT week, event_type, {i} AS d, "
        f"{position_sql('event_type', i, width, 'duckdb')} AS b FROM cand"
        for i in range(depth)
    )
    return f"""
        WITH ev AS (
            SELECT CAST(date_trunc('week', ts) AS DATE) AS week, event_type
            FROM events
        ),
        cms AS (SELECT week, d, b, COUNT(*) AS cnt
                FROM ({pos_union}) GROUP BY 1, 2, 3),
        cand AS (SELECT DISTINCT week, event_type FROM ev)
        SELECT p.week, p.event_type, MIN(COALESCE(c.cnt, 0)) AS cms_est
        FROM ({cand_pos}) p
        LEFT JOIN cms c ON c.week = p.week AND c.d = p.d AND c.b = p.b
        GROUP BY 1, 2
    """


ORACLE["cms_windowed"] = _cms_windowed_oracle_sql()
ORACLE["temperature_mix"] = """
    WITH counts AS (
        SELECT source, COUNT(*) AS ng FROM documents GROUP BY 1
    ),
    quotas AS (
        SELECT source,
               CAST(floor(200.0 * sqrt(CAST(ng AS DOUBLE)) /
                    (SELECT SUM(sqrt(CAST(ng AS DOUBLE))) FROM counts))
                    AS INTEGER) AS quota
        FROM counts
    ),
    ranked AS (
        SELECT d.doc_id, d.source,
               ROW_NUMBER() OVER (
                   PARTITION BY d.source
                   ORDER BY ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT,
                            d.doc_id
               ) AS rk
        FROM documents d
    )
    SELECT r.doc_id, r.source
    FROM ranked r JOIN quotas q USING (source)
    WHERE r.rk <= q.quota
"""


def _join_size_oracle_sql(depth: int = 4, width: int = 4096) -> str:
    """Replays both key sketches and the CMS inner product exactly."""
    from lightlane_spark.operators.sketches import position_sql

    def cms(rel: str, key: str) -> str:
        pos = " UNION ALL ".join(
            f"SELECT {i} AS d, "
            f"{position_sql(f'CAST({key} AS VARCHAR)', i, width, 'duckdb')} AS b "
            f"FROM {rel}"
            for i in range(depth)
        )
        return f"SELECT d, b, COUNT(*) AS cnt FROM ({pos}) GROUP BY 1, 2"

    return f"""
        WITH ca AS ({cms('orders', 'o_orderkey')}),
        cb AS ({cms('lineitem', 'l_orderkey')}),
        dots AS (
            SELECT ca.d, SUM(ca.cnt * cb.cnt) AS dot
            FROM ca JOIN cb ON ca.d = cb.d AND ca.b = cb.b
            GROUP BY 1
        ),
        est AS (SELECT CAST(MIN(dot) AS BIGINT) AS est FROM dots),
        exact AS (
            SELECT COUNT(*) AS exact_size
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        )
        SELECT est, exact_size, est >= exact_size AS never_under
        FROM est CROSS JOIN exact
    """


ORACLE["join_size_estimate"] = _join_size_oracle_sql()

ORACLE["weighted_topk"] = """
    SELECT doc_id, n_chars FROM (
        SELECT doc_id, n_chars,
               ln((('0x' || substr(md5('es:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   + 1.0) / 4294967297.0) / n_chars AS es_key
        FROM documents WHERE n_chars > 0
        ORDER BY es_key DESC, doc_id
        LIMIT 100
    )
"""

ORACLE["session_paths"] = """
    WITH e AS (
        SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(CAST(ts AS TIMESTAMP))
                            - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP))
                            > 3600000000
                    THEN 1 ELSE 0 END AS opens
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
        SELECT user_id, event_id, event_type, ts,
               SUM(opens) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
        FROM e
    ),
    p AS (
        SELECT user_id, session_id,
               string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        FROM s GROUP BY 1, 2
    )
    SELECT path, count(*) AS n_sessions
    FROM p GROUP BY 1
    ORDER BY n_sessions DESC, path
    LIMIT 20
"""

ORACLE["leakage_safe_split"] = f"""
    WITH RECURSIVE {_CLUSTER_CTES}
    SELECT doc_id, component,
           CASE WHEN ('0x' || substr(md5('split:' || CAST(component AS VARCHAR)), 1, 8))::BIGINT % 100 < 90
                THEN 'train'
                WHEN ('0x' || substr(md5('split:' || CAST(component AS VARCHAR)), 1, 8))::BIGINT % 100 < 95
                THEN 'val'
                ELSE 'test' END AS split
    FROM clusters
"""

ORACLE["set_similarity_join"] = f"""
    WITH {_CORPUS_CTE},
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
    sh AS (
        SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh
        FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) idx
        WHERE len(t) >= 3
    ),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id)
    SELECT p.id_a, p.id_b,
           CAST(n_inter AS DOUBLE) / (za.n_sh + zb.n_sh - n_inter) AS jaccard
    FROM pairs p
    JOIN sizes za ON za.doc_id = p.id_a
    JOIN sizes zb ON zb.doc_id = p.id_b
    WHERE n_inter * (7 + 10) >= (za.n_sh + zb.n_sh) * 7
"""

ORACLE["char_entropy"] = """
    WITH chars AS (
        SELECT doc_id, substring(text, CAST(i AS INTEGER), 1) AS ch
        FROM documents,
             LATERAL (SELECT unnest(range(1, len(text) + 1)) AS i) t
    ),
    counts AS (
        SELECT doc_id, ch, count(*) AS cnt FROM chars GROUP BY 1, 2
    ),
    tot AS (
        SELECT doc_id, ch, cnt,
               SUM(cnt) OVER (PARTITION BY doc_id) AS n_chars
        FROM counts
    )
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(SUM(CAST(round(
               -(CAST(cnt AS DOUBLE) / n_chars)
               * ln(CAST(cnt AS DOUBLE) / n_chars), 9)
               AS DECIMAL(28,9))) AS DOUBLE) AS entropy
    FROM tot
    GROUP BY doc_id, n_chars
"""

ORACLE["dataset_card_stats"] = f"""
    WITH m AS (
        SELECT CAST(length(text) AS DOUBLE) AS n_chars,
               CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_toks,
               len(string_split(text, ' ')) AS ntok_i,
               CAST(length(text) - length(regexp_replace(text, '[A-Za-z ]', '', 'g')) AS DOUBLE) AS n_alpha,
               len(list_filter(string_split(text,' '), x -> x IN {_SW})) / CAST(len(string_split(text,' ')) AS DOUBLE) AS r_en,
               len(list_filter(string_split(text,' '), x -> x IN {_SW_DE})) / CAST(len(string_split(text,' ')) AS DOUBLE) AS r_de,
               len(list_filter(string_split(text,' '), x -> x IN {_SW_ES})) / CAST(len(string_split(text,' ')) AS DOUBLE) AS r_es,
               len(list_filter(string_split(text,' '), x -> x IN {_SW_FR})) / CAST(len(string_split(text,' ')) AS DOUBLE) AS r_fr
        FROM documents
    ),
    scored AS (
        SELECT CASE WHEN greatest(r_en,r_de,r_es,r_fr) = 0 THEN 'und'
                    WHEN r_en = greatest(r_en,r_de,r_es,r_fr) THEN 'en'
                    WHEN r_de = greatest(r_en,r_de,r_es,r_fr) THEN 'de'
                    WHEN r_es = greatest(r_en,r_de,r_es,r_fr) THEN 'es'
                    WHEN r_fr = greatest(r_en,r_de,r_es,r_fr) THEN 'fr'
                    ELSE 'und' END AS lang,
               0.25 * (CASE WHEN n_toks >= 10 AND n_toks <= 100000 THEN 1.0 ELSE 0.0 END)
             + 0.25 * (n_alpha / n_chars)
             + 0.25 * (CASE WHEN r_en > 0.01 THEN 1.0 ELSE 0.0 END)
             + 0.25 * (CASE WHEN (n_chars / n_toks) >= 2 AND (n_chars / n_toks) <= 12 THEN 1.0 ELSE 0.0 END)
               AS q,
               ntok_i
        FROM m
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(SUM(ntok_i) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN q >= 0.75 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_q,
           CAST(SUM(CAST(round(q, 9) AS DECIMAL(28,9))) AS DOUBLE) / count(*) AS mean_quality,
           CAST(count(*) AS DOUBLE)
               / CAST(SUM(count(*)) OVER () AS DOUBLE) AS doc_share
    FROM scored GROUP BY lang ORDER BY lang
"""

ORACLE["cooccurrence_pmi"] = """
    WITH toks AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    dfreq AS (SELECT tok, count(*) AS df FROM toks GROUP BY tok),
    vocab AS (
        SELECT tok, df FROM dfreq ORDER BY df DESC, tok LIMIT 40
    ),
    e AS (SELECT t.doc_id, t.tok FROM toks t JOIN vocab v USING (tok)),
    pairs AS (
        SELECT a.tok AS tok_a, b.tok AS tok_b, count(*) AS n_both
        FROM e a JOIN e b ON a.doc_id = b.doc_id AND a.tok < b.tok
        GROUP BY 1, 2 HAVING count(*) >= 5
    ),
    n AS (SELECT count(*) AS n_corpus FROM documents)
    SELECT tok_a, tok_b, CAST(n_both AS BIGINT) AS n_both,
           CAST(n_both * n_corpus AS BIGINT) AS pmi_num,
           CAST(va.df * vb.df AS BIGINT) AS pmi_den
    FROM pairs
    JOIN vocab va ON va.tok = pairs.tok_a
    JOIN vocab vb ON vb.tok = pairs.tok_b
    CROSS JOIN n
    ORDER BY tok_a, tok_b
"""

ORACLE["containment_join"] = f"""
    WITH {_CORPUS_CTE},
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
    sh AS (
        SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh
        FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) idx
        WHERE len(t) >= 3
    ),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id != b.doc_id
        GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id)
    SELECT p.id_a, p.id_b,
           CAST(n_inter AS DOUBLE) / za.n_sh AS containment
    FROM pairs p
    JOIN sizes za ON za.doc_id = p.id_a
    WHERE n_inter * 10 >= za.n_sh * 9
"""

ORACLE["bpe_pair_counts"] = """
    WITH words AS (
        SELECT w, count(*) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE len(w) >= 2
        GROUP BY w
    ),
    pairs AS (
        SELECT substring(w, CAST(i AS INTEGER), 2) AS pair, freq
        FROM words, LATERAL (SELECT unnest(range(1, len(w))) AS i) t
    )
    SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt
    FROM pairs GROUP BY pair
    ORDER BY cnt DESC, pair
    LIMIT 50
"""

ORACLE["vocab_tokenize"] = """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    tok AS (
        SELECT doc_id, t[CAST(i AS INTEGER)] AS w, CAST(i AS INTEGER) AS pos
        FROM toks, LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i) x
    ),
    wc AS (SELECT w, count(*) AS cnt FROM tok GROUP BY w),
    topv AS (SELECT w, cnt FROM wc ORDER BY cnt DESC, w LIMIT 1000),
    vid AS (
        SELECT w, row_number() OVER (ORDER BY cnt DESC, w) AS id FROM topv
    )
    SELECT t.doc_id, t.pos,
           CAST(COALESCE(v.id, 0) AS INTEGER) AS token_id
    FROM tok t LEFT JOIN vid v ON t.w = v.w
"""

ORACLE["padding_efficiency"] = """
    WITH d AS (
        SELECT len(string_split(text, ' ')) AS n,
               CAST(pow(2, ceil(log2(len(string_split(text, ' '))))) AS BIGINT)
                   AS bucket_len
        FROM documents
    )
    SELECT bucket_len,
           COUNT(*) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS real_tokens,
           bucket_len * COUNT(*) AS padded_tokens,
           CAST(SUM(n) AS BIGINT) / CAST(bucket_len * COUNT(*) AS DOUBLE)
               AS efficiency
    FROM d WHERE n >= 1
    GROUP BY bucket_len ORDER BY bucket_len
"""

ORACLE["bm25_topk"] = """
    WITH toks AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS dl,
               unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    hits AS (SELECT * FROM toks WHERE tok IN ('table', 'join', 'scan')),
    tf AS (
        SELECT doc_id, tok, count(*) AS tf, min(dl) AS dl
        FROM hits GROUP BY doc_id, tok
    ),
    dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    stats AS (
        SELECT (SELECT count(DISTINCT doc_id) FROM documents) AS n,
               (SELECT SUM(len(string_split(text, ' '))) FROM documents) AS toks
    )
    SELECT doc_id,
           CAST(CAST(SUM(CAST(round(
               ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
               * t.tf * (1.2 + 1.0)
               / (t.tf + 1.2 * (1.0 - 0.75
                   + 0.75 * t.dl / (CAST(s.toks AS DOUBLE) / s.n))), 6)
               AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS score
    FROM tf t JOIN dfreq d ON t.tok = d.tok CROSS JOIN stats s
    GROUP BY doc_id
    ORDER BY score DESC, doc_id
    LIMIT 10
"""

ORACLE["dsir_select"] = """
    WITH toks AS (
        SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
    ),
    grams AS (
        SELECT doc_id, source, unnest(t) AS gram FROM toks
        UNION ALL
        SELECT doc_id, source,
               unnest(list_transform(range(1, len(t)),
                                     i -> t[i] || ' ' || t[i + 1])) AS gram
        FROM toks
    ),
    feats AS (
        SELECT doc_id, source,
               CAST(('0x' || substr(md5(gram), 1, 8))::BIGINT % 64
                    AS INTEGER) AS bucket,
               count(*) AS cnt
        FROM grams GROUP BY 1, 2, 3
    ),
    dist AS (
        SELECT bucket,
               SUM(cnt) AS cq,
               COALESCE(SUM(CASE WHEN source = 'src0' THEN cnt END), 0) AS tp
        FROM feats GROUP BY bucket
    ),
    tot AS (SELECT SUM(cq) AS cq_tot, SUM(tp) AS tp_tot FROM dist)
    SELECT f.doc_id,
           CAST(SUM(CAST(round(f.cnt * ln(
               ((d.tp + 1) / (t.tp_tot + 64))
               / ((d.cq + 1) / (t.cq_tot + 64))), 6)
               AS DECIMAL(18,6))) AS DOUBLE) AS dsir_weight
    FROM feats f JOIN dist d ON f.bucket = d.bucket CROSS JOIN tot t
    GROUP BY f.doc_id
    ORDER BY dsir_weight DESC, f.doc_id
    LIMIT 20
"""

ORACLE["hybrid_retrieval"] = """
    WITH toks AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS dl,
               unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    hits AS (SELECT * FROM toks WHERE tok IN ('table', 'join', 'scan')),
    tf AS (
        SELECT doc_id, tok, count(*) AS tf, min(dl) AS dl
        FROM hits GROUP BY doc_id, tok
    ),
    dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    stats AS (
        SELECT (SELECT count(DISTINCT doc_id) FROM documents) AS n,
               (SELECT SUM(len(string_split(text, ' '))) FROM documents) AS toks
    ),
    bm25 AS (
        SELECT doc_id,
               CAST(CAST(SUM(CAST(round(
                   ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
                   * t.tf * (1.2 + 1.0)
                   / (t.tf + 1.2 * (1.0 - 0.75
                       + 0.75 * t.dl / (CAST(s.toks AS DOUBLE) / s.n))), 6)
                   AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS score
        FROM tf t JOIN dfreq d ON t.tok = d.tok CROSS JOIN stats s
        GROUP BY doc_id
        ORDER BY score DESC, doc_id
        LIMIT 50
    ),
    lex AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY score DESC, doc_id) AS rank
        FROM bm25
    ),
    bow AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(tok), 1, 8))::BIGINT % 64 AS INTEGER) AS dim,
               count(*) AS weight
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY 1, 2
    ),
    qbow AS (
        SELECT CAST(('0x' || substr(md5(tok), 1, 8))::BIGINT % 64 AS INTEGER) AS qdim,
               count(*) AS qw
        FROM (SELECT unnest(['table', 'join', 'scan']) AS tok)
        GROUP BY 1
    ),
    norms AS (SELECT doc_id, SUM(weight * weight) AS nd FROM bow GROUP BY 1),
    qnorm AS (SELECT SUM(qw * qw) AS nq FROM qbow),
    dots AS (
        SELECT b.doc_id, SUM(b.weight * q.qw) AS dot
        FROM bow b JOIN qbow q ON b.dim = q.qdim
        GROUP BY b.doc_id
    ),
    cosed AS (
        SELECT d.doc_id,
               d.dot / (sqrt(n.nd) * sqrt(q.nq)) AS cos
        FROM dots d JOIN norms n ON d.doc_id = n.doc_id CROSS JOIN qnorm q
        ORDER BY cos DESC, d.doc_id
        LIMIT 50
    ),
    vec AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY cos DESC, doc_id) AS rank
        FROM cosed
    ),
    unioned AS (
        SELECT doc_id, rank FROM lex
        UNION ALL
        SELECT doc_id, rank FROM vec
    )
    SELECT doc_id,
           CAST(CAST(SUM(CAST(round(1.0 / (60 + rank), 12) AS DECIMAL(24,12)))
                AS DECIMAL(38,12)) AS DOUBLE) AS rrf_score
    FROM unioned
    GROUP BY doc_id
    ORDER BY rrf_score DESC, doc_id
    LIMIT 20
"""


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition matrix over user event streams: for each
    (from_type → to_type) adjacent pair in a user's (ts, event_id)-
    ordered stream, the transition count and conditional probability.
    The product-analytics building block behind "what do users do
    next" and behavior-cohort models.

    Plan: one shuffle for the per-user lead() window, one keyed
    aggregation on the (from,to) pair — both linear; the probability
    normalization reuses the aggregated relation via a tiny
    partition-local window (event-type cardinality, not corpus
    cardinality). Counts are exact BIGINTs; the single division is
    per-row IEEE on identical integers, so cross-engine-stable."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("to_type", F.lead("event_type").over(w))
        .filter(F.col("to_type").isNotNull())
        .select(F.col("event_type").alias("from_type"), "to_type")
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_trans")
    )
    wt = Window.partitionBy("from_type")
    return (
        counts.withColumn(
            "p",
            F.col("n_trans").cast("double")
            / F.sum("n_trans").over(wt).cast("double"),
        )
        .orderBy("from_type", "to_type")
    )


QUERIES["event_transitions"] = q_event_transitions

ORACLE["event_transitions"] = """
    WITH t AS (
        SELECT event_type AS from_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS to_type
        FROM events
    ), c AS (
        SELECT from_type, to_type, count(*) AS n_trans
        FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_type, to_type, n_trans,
           CAST(n_trans AS DOUBLE)
             / CAST(SUM(n_trans) OVER (PARTITION BY from_type) AS DOUBLE) AS p
    FROM c
    ORDER BY from_type, to_type
"""


def q_deterministic_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible global training order: portable seeded hash of the
    doc id → shard assignment (map-only) and within-shard position
    (one per-shard sort window). Reruns, engine swaps, and partition-
    count changes all produce the identical (shard, pos) manifest —
    the property a `rand()`-based shuffle lacks — and adding documents
    never reorders existing ones within their shard beyond insertion.

    Scale: assignment is embarrassingly parallel; the per-shard
    row_number is a sort per shard (shards are the parallelism unit —
    at 100 TB pick shards ≫ executors and each window sort stays
    executor-local). Hash ties break on doc_id, so the order is total
    and deterministic."""
    from pyspark.sql import Window
    from lightlane_spark.functions.hashing import h32

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    keyed = docs.withColumn(
        "key", h32(F.col("doc_id").cast("string"), seed=42)
    ).withColumn("shard", (F.col("key") % 8).cast("int"))
    w = Window.partitionBy("shard").orderBy("key", "doc_id")
    return (
        keyed.withColumn("pos", F.row_number().over(w))
        .select("doc_id", "shard", "pos")
        .orderBy("shard", "pos")
    )


QUERIES["deterministic_shuffle"] = q_deterministic_shuffle

ORACLE["deterministic_shuffle"] = """
    WITH k AS (
        SELECT doc_id,
               ('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                 AS key
        FROM documents
    )
    SELECT doc_id, CAST(key % 8 AS INTEGER) AS shard,
           row_number() OVER (PARTITION BY key % 8 ORDER BY key, doc_id) AS pos
    FROM k
    ORDER BY shard, pos
"""


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training, 3 exact merge rounds: the
    corpus collapses to the vocabulary once, then each round = one
    pair-count aggregation + a 1-row driver scalar + a map-only JVM
    fold applying the greedy-leftmost merge (no Python UDFs). The
    DuckDB oracle re-derives the same merges relationally (run-parity
    formulation of the greedy scan)."""
    from lightlane_spark.operators.text import bpe_train

    docs = read_table(spark, sf_dir, "documents")
    return bpe_train(docs, n_rounds=3)


QUERIES["bpe_train"] = q_bpe_train

from lightlane_spark.operators.text import bpe_train_oracle_sql as _bpe_osql  # noqa: E402

ORACLE["bpe_train"] = _bpe_osql(3)


def q_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shift detector between two corpus halves (sources
    src0-9 vs src10-19): per-term smoothed rate-ratio, top-20 movers —
    the curation signal for "did the new crawl change the vocabulary".
    Counts are exact ints; the emitted ``rate_ratio`` is built from
    IEEE divisions only (each correctly rounded, so bit-identical
    across engines on identical operands) — no ln() and no round() in
    the hashed output (the r7/r8 driver-red class). |ln r| ordering is
    preserved without the ln: |ln r| is monotone in max(r, 1/r), and
    greatest(r, 1/r) is itself division-deterministic; the consumer
    takes ln(rate_ratio) if they want the classic log form.
    Plan: one token-count aggregation per half over the SAME exploded
    relation (conditional aggregates, not two scans), a broadcast of
    the two scalar totals, and a top-k cut — linear in corpus size."""
    docs = read_table(spark, sf_dir, "documents").select("source", "text")
    toks = docs.select(
        (F.regexp_extract("source", r"^src(\d+)$", 1).cast("int") < 10).alias("in_a"),
        F.explode(F.split(F.col("text"), " ")).alias("term"),
    ).filter(F.length("term") >= 2)
    counts = toks.groupBy("term").agg(
        F.count(F.when(F.col("in_a"), 1)).alias("ca"),
        F.count(F.when(~F.col("in_a"), 1)).alias("cb"),
    )
    totals = counts.agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    rate_a = (F.col("ca") + 1).cast("double") / (F.col("na") + 1).cast("double")
    rate_b = (F.col("cb") + 1).cast("double") / (F.col("nb") + 1).cast("double")
    return (
        counts.join(F.broadcast(totals))
        .withColumn("rate_ratio", rate_a / rate_b)
        .select("term", "ca", "cb", "rate_ratio")
        .orderBy(
            F.greatest(
                F.col("rate_ratio"), F.lit(1.0) / F.col("rate_ratio")
            ).desc(),
            "term",
        )
        .limit(20)
    )


def q_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative-pair sampling for contrastive training:
    docs land in 8 hash buckets, get a bucket-local pseudo-random rank
    (portable h32 order), and each doc pairs with the docs k=1,2
    ahead on its bucket's ring (modular wrap). Negatives only need to
    be arbitrary non-matches, so bucket-locality is free parallelism:
    no global window, no cross join — two bucket-keyed shuffles
    (window + equi-join) regardless of corpus size."""
    from pyspark.sql import Window
    from lightlane_spark.functions.hashing import h32

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    keyed = docs.withColumn(
        "key", h32(F.col("doc_id").cast("string"), seed=7)
    ).withColumn("bucket", (F.col("key") % 8).cast("int"))
    w = Window.partitionBy("bucket").orderBy("key", "doc_id")
    wc = Window.partitionBy("bucket")
    ranked = keyed.withColumn("r", F.row_number().over(w)).withColumn(
        "n_b", F.count(F.lit(1)).over(wc)
    )
    rhs = ranked.select(
        F.col("bucket").alias("p_bucket"),
        F.col("r").alias("p_r"),
        F.col("doc_id").alias("neg_id"),
    )
    offsets = spark.range(1, 3).select(F.col("id").cast("int").alias("k"))
    return (
        ranked.crossJoin(F.broadcast(offsets))
        .withColumn("p_rank", ((F.col("r") - 1 + F.col("k")) % F.col("n_b")) + 1)
        .join(
            rhs,
            (F.col("bucket") == F.col("p_bucket"))
            & (F.col("p_rank") == F.col("p_r")),
        )
        .filter(F.col("neg_id") != F.col("doc_id"))
        .select("doc_id", "k", "neg_id")
        .orderBy("doc_id", "k")
    )


QUERIES["vocab_drift"] = q_vocab_drift
QUERIES["negative_pairs"] = q_negative_pairs

ORACLE["vocab_drift"] = """
    WITH toks AS (
        SELECT TRY_CAST(regexp_extract(source, '^src(\\d+)$', 1) AS INTEGER) < 10 AS in_a,
               unnest(string_split(text, ' ')) AS term
        FROM documents
    ), counts AS (
        SELECT term,
               COUNT(*) FILTER (WHERE in_a) AS ca,
               COUNT(*) FILTER (WHERE NOT in_a) AS cb
        FROM toks WHERE length(term) >= 2 GROUP BY 1
    ), totals AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM counts)
    SELECT term, ca, cb,
           ((CAST(ca AS DOUBLE) + 1) / (CAST(na AS DOUBLE) + 1))
             / ((CAST(cb AS DOUBLE) + 1) / (CAST(nb AS DOUBLE) + 1))
             AS rate_ratio
    FROM counts, totals
    ORDER BY greatest(
           ((CAST(ca AS DOUBLE) + 1) / (CAST(na AS DOUBLE) + 1))
             / ((CAST(cb AS DOUBLE) + 1) / (CAST(nb AS DOUBLE) + 1)),
           1.0 / (((CAST(ca AS DOUBLE) + 1) / (CAST(na AS DOUBLE) + 1))
             / ((CAST(cb AS DOUBLE) + 1) / (CAST(nb AS DOUBLE) + 1)))
           ) DESC, term
    LIMIT 20
"""

ORACLE["negative_pairs"] = """
    WITH keyed AS (
        SELECT doc_id,
               ('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS key
        FROM documents
    ), ranked AS (
        SELECT doc_id, key, CAST(key % 8 AS INTEGER) AS bucket,
               row_number() OVER (PARTITION BY key % 8 ORDER BY key, doc_id) AS r,
               count(*) OVER (PARTITION BY key % 8) AS n_b
        FROM keyed
    )
    SELECT a.doc_id, k.k, b.doc_id AS neg_id
    FROM ranked a
    CROSS JOIN (SELECT 1 AS k UNION ALL SELECT 2) k
    JOIN ranked b
      ON b.bucket = a.bucket
     AND b.r = ((a.r - 1 + k.k) % a.n_b) + 1
    WHERE b.doc_id <> a.doc_id
    ORDER BY a.doc_id, k.k
"""


def q_streaming_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once ingest under duplicate delivery: the landing zone
    receives every event TWICE (the classic at-least-once redelivery),
    the stream deduplicates on event_id via
    dropDuplicatesWithinWatermark, and the downstream counts equal the
    batch DISTINCT — the end-to-end idempotency contract. The
    watermark bounds dedup state at 100 TB (state holds only ids
    younger than the horizon; redeliveries are near-in-time in
    practice); availableNow here processes one batch, so the horizon
    never evicts mid-run and the oracle is exact."""
    import tempfile

    from lightlane_spark.streaming.incremental import (
        _as_event_time,
        drain_to_frame,
        stream_from_directory,
    )

    with tempfile.TemporaryDirectory(prefix="llspark_dedup_stream_") as base:
        land = f"{base}/landing"
        ev = read_table(spark, sf_dir, "events")
        ev.write.mode("overwrite").parquet(land)
        ev.write.mode("append").parquet(land)  # duplicate delivery
        stream = _as_event_time(stream_from_directory(spark, land, ev.schema), "ts")
        deduped = stream.withWatermark("ts", "3650 days").dropDuplicatesWithinWatermark(
            ["event_id"]
        )
        agg = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
        return drain_to_frame(agg, "complete").select("event_type", "n")


QUERIES["streaming_dedup_counts"] = q_streaming_dedup_counts

ORACLE["streaming_dedup_counts"] = """
    SELECT event_type, COUNT(DISTINCT event_id) AS n
    FROM events GROUP BY 1
"""


def q_blockhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal fuzzy-hash dedup: ssdeep-style chunked block-hash
    over opaque binary payloads (operators/multimodal.py::
    blockhash_signatures), lossless 4-band candidate join, exact
    chunk-mismatch count ≤ 3. The corpus is documents ∪ same-length
    locally-perturbed twins (last 5 bytes rewritten — the
    deterministic 'same asset, retouched corner' fixture), so every
    twin must be found: grid block hashing catches same-length local
    edits; length-changing edits need rolling-boundary CTPH (noted in
    the operator docstring)."""
    from lightlane_spark.operators.multimodal import (
        blockhash_near_pairs,
        blockhash_signatures,
    )

    docs = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.length("text") > 20)
    )
    twins = docs.select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(
            F.expr("substring(text, 1, length(text) - 5)"), F.lit("xxxxx")
        ).alias("text"),
    )
    corpus = docs.unionByName(twins).withColumn(
        "payload", F.encode("text", "UTF-8")
    )
    sigs = blockhash_signatures(corpus)
    return blockhash_near_pairs(sigs, max_diff_chunks=3)


def _blockhash_oracle_sql() -> str:
    """DuckDB twin of the block-hash chain (ASCII corpus ⇒ character
    arithmetic equals byte arithmetic; verified ascii-only in the
    driver fixture)."""
    from lightlane_spark.operators.multimodal import (
        BLOCKHASH_BANDS,
        BLOCKHASH_CHUNKS,
    )

    nib = (
        "(('0x' || substr(md5(substring(text, ({i}*n)//14 + 1, "
        "(({i}+1)*n)//14 - ({i}*n)//14)), 1, 1))::BIGINT << {sh})"
    )
    sig_expr = " + ".join(
        nib.format(i=i, sh=4 * i) for i in range(BLOCKHASH_CHUNKS)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, sig, {bid} AS band, (sig >> {off}) & {(1 << w) - 1} AS key FROM sig"
        for bid, (off, w) in enumerate(BLOCKHASH_BANDS)
    )
    diff_expr = " + ".join(
        f"(CASE WHEN ((a.sig >> {4*i}) & 15) <> ((b.sig >> {4*i}) & 15) "
        "THEN 1 ELSE 0 END)"
        for i in range(BLOCKHASH_CHUNKS)
    )
    return f"""
    WITH base AS (
        SELECT doc_id, text FROM documents WHERE length(text) > 20
    ), corpus AS (
        SELECT doc_id, text FROM base
        UNION ALL
        SELECT doc_id + 10000000 AS doc_id,
               substring(text, 1, length(text) - 5) || 'xxxxx' AS text
        FROM base
    ), lens AS (
        SELECT doc_id, text, length(text) AS n FROM corpus
    ), sig AS (
        SELECT doc_id, CAST({sig_expr} AS BIGINT) AS sig FROM lens
    ), bands AS (
        {band_rows}
    ), cand AS (
        SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
        FROM bands x JOIN bands y
          ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
    )
    SELECT c.a_id, c.b_id, ({diff_expr}) AS n_diff_chunks
    FROM cand c
    JOIN sig a ON a.doc_id = c.a_id
    JOIN sig b ON b.doc_id = c.b_id
    WHERE ({diff_expr}) <= 3
    ORDER BY c.a_id, c.b_id
    """


QUERIES["blockhash_near_dup"] = q_blockhash_near_dup
ORACLE["blockhash_near_dup"] = _blockhash_oracle_sql()


def q_binary_file_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal ingestion through Spark's `binaryFile` source: a
    landing directory of per-asset blob files (fixture: one file per
    document, driver-written — the test stand-in for an object-store
    bucket) scanned as (path, length, content), ids recovered from
    filenames, content verified by checksum. At 100 TB the same scan
    runs over the bucket listing with partition-parallel file reads;
    blob bytes never pass through strings. maxPartitionBytes governs
    files-per-task packing for many-small-file layouts (the
    compaction story in `compacted_load` is the writer-side cure)."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = scratch_dir("llspark_blobs_")
    # fixture-writer (driver-side, bounded by the fixture corpus —
    # production assets arrive via the object store, not this loop)
    for did, text in sorted(
        (r["doc_id"], r["text"]) for r in docs.collect()
    ):
        with open(f"{base}/{did}.bin", "wb") as fh:
            fh.write(text.encode("utf-8"))
    scanned = spark.read.format("binaryFile").load(base)
    return (
        scanned.select(
            F.regexp_extract(
                F.element_at(F.split(F.col("path"), "/"), -1), r"^(\d+)\.bin$", 1
            )
            .cast("bigint")
            .alias("doc_id"),
            F.length("content").alias("n_bytes"),
            F.md5("content").alias("checksum"),
        )
        .orderBy("doc_id")
    )


QUERIES["binary_file_scan"] = q_binary_file_scan

ORACLE["binary_file_scan"] = """
    SELECT doc_id,
           octet_length(CAST(text AS BLOB)) AS n_bytes,
           md5(text) AS checksum
    FROM documents
    ORDER BY doc_id
"""


def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join through the streaming engine
    (streaming/incremental.py::stream_stream_join): views joined to
    same-user clicks within 30 minutes — the impressions→clicks
    attribution shape — then counted per user. Both the watermark and
    the time-range predicate are load-bearing for state eviction at
    scale; with availableNow everything lands in one batch, so the
    result equals the batch interval join the oracle computes."""
    import tempfile

    from lightlane_spark.streaming.incremental import (
        drain_to_frame,
        stream_from_directory,
        stream_stream_join,
    )

    ev = read_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    with tempfile.TemporaryDirectory(prefix="llspark_ssj_") as base:
        views_land, clicks_land = f"{base}/views", f"{base}/clicks"
        views_b = ev.filter(F.col("event_type") == "view").select("user_id", "ts")
        clicks_b = ev.filter(F.col("event_type") == "click").select(
            "user_id", F.col("ts").alias("c_ts")
        )
        views_b.write.mode("overwrite").parquet(views_land)
        clicks_b.write.mode("overwrite").parquet(clicks_land)
        views = stream_from_directory(spark, views_land, views_b.schema)
        clicks = stream_from_directory(spark, clicks_land, clicks_b.schema)
        joined = stream_stream_join(
            views,
            clicks,
            keys=["user_id"],
            left_ts="ts",
            right_ts="c_ts",
            watermark="3650 days",
            max_delay="30 minutes",
        )
        # stream-stream joins feed APPEND sinks (a downstream streaming agg
        # would need Complete mode, which joins don't support): materialize
        # the matched pairs, count from the sink — the lambda-free version
        # of "join in the stream, aggregate at read time"
        matched = joined.select(F.col("l.user_id").alias("user_id"))
        return (
            drain_to_frame(matched, "append")
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_attributed"))
            .orderBy("user_id")
        )


QUERIES["streaming_interval_join"] = q_streaming_interval_join

ORACLE["streaming_interval_join"] = """
    SELECT v.user_id, COUNT(*) AS n_attributed
    FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
          WHERE event_type = 'view') v
    JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS c_ts FROM events
          WHERE event_type = 'click') c
      ON v.user_id = c.user_id
     AND c.c_ts >= v.ts
     AND c.c_ts <= v.ts + INTERVAL 30 MINUTE
    GROUP BY 1 ORDER BY 1
"""


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class embedding centroids + per-dimension variance — the
    cluster-quality / drift primitive (class prototypes for nearest-
    centroid classification, per-dim variance for whitening and for
    spotting collapsed dimensions). Exact moments: posexplode the
    vectors (×dims fan-out of a narrow row), then ONE map-side-
    combined groupBy on (label, dim) accumulating decimal-exact sum
    and sum-of-squares of round-9dp values; mean and variance close
    in double from identical operands on both engines. Output is
    |labels|×dims rows — aggregate-sized, never vector-count-sized.

    At 100 TB: the fan-out is a map-only projection; the single
    shuffle carries (label, dim) keyed partial sums (combiner
    reduces each partition to ≤|labels|×dims rows before the wire).
    No driver collect, no all-pairs anything."""
    e = read_table(spark, sf_dir, "embeddings").select(
        "label", F.posexplode("embedding").alias("pos", "vf")
    )
    v = F.col("vf").cast("double")
    agg = e.groupBy("label", "pos").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.round(v, 9).cast("decimal(28,9)")).alias("s"),
        F.sum(F.round(v * v, 9).cast("decimal(28,9)")).alias("ss"),
    )
    m = F.col("s").cast("double") / F.col("n_vecs")
    return agg.select(
        "label",
        F.col("pos").cast("bigint").alias("pos"),
        "n_vecs",
        m.alias("centroid"),
        ((F.col("ss").cast("double") / F.col("n_vecs")) - m * m).alias(
            "dim_var"
        ),
    ).orderBy("label", "pos")


QUERIES["embedding_centroids"] = q_embedding_centroids

ORACLE["embedding_centroids"] = """
    WITH ex AS (
        SELECT label, CAST(pos AS BIGINT) AS pos,
               CAST(embedding[CAST(pos AS INTEGER) + 1] AS DOUBLE) AS v
        FROM embeddings,
             LATERAL (SELECT unnest(range(0, len(embedding))) AS pos) p
    ),
    agg AS (
        SELECT label, pos, count(*) AS n_vecs,
               SUM(CAST(round(v, 9) AS DECIMAL(28,9))) AS s,
               SUM(CAST(round(v * v, 9) AS DECIMAL(28,9))) AS ss
        FROM ex GROUP BY 1, 2
    )
    SELECT label, pos, n_vecs,
           CAST(s AS DOUBLE) / n_vecs AS centroid,
           CAST(ss AS DOUBLE) / n_vecs
             - (CAST(s AS DOUBLE) / n_vecs) * (CAST(s AS DOUBLE) / n_vecs)
               AS dim_var
    FROM agg ORDER BY label, pos
"""


def q_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality filter on a planted-fixture corpus:
    every 13th doc is replaced by its first token repeated 150 times
    (the degenerate-repetition failure mode), everything else keeps
    its natural text; docs are flagged when zlib ratio < 0.2. The
    oracle recomputes the EXPECTED outcome from the planting rule
    (flag ⇔ doc_id % 13 = 0) plus the constructed char counts — so
    the SQL side is an independent prediction of every per-doc
    decision, and one natural doc mis-flagged (or one plant missed)
    breaks the hash. Measured populations: natural ≥ 0.38, planted
    ≤ 0.05 — the 0.2 threshold has ≥2× margin on both sides (see
    ``operators/text.py::compression_ratio``).

    Scale: fixture construction is a map-only projection; the ratio
    is one Arrow-batched pass; no shuffle until the presentation
    sort."""
    from lightlane_spark.operators.text import compression_ratio

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    first_tok = F.split(F.col("text"), " ").getItem(0)
    planted = F.concat_ws(" ", F.array_repeat(first_tok, 150))
    fixture = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 13 == 0, planted)
        .otherwise(F.col("text"))
        .alias("text"),
    )
    r = compression_ratio(fixture)
    return r.select(
        "doc_id",
        "n_chars",
        (F.col("ratio") < 0.2).cast("bigint").alias("flagged"),
    ).orderBy("doc_id")


QUERIES["compression_ratio"] = q_compression_ratio

ORACLE["compression_ratio"] = """
    SELECT doc_id,
           CASE WHEN doc_id % 13 = 0
                THEN length(string_split(text, ' ')[1]) * 150 + 149
                ELSE length(text) END AS n_chars,
           CAST(CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END AS BIGINT)
               AS flagged
    FROM documents ORDER BY doc_id
"""


def q_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IR evaluation harness: recall@10 / precision@10 / MRR@10 of
    BM25 over a 4-query set, judged against conjunctive silver qrels
    (a doc is relevant to a query iff it contains EVERY query term) —
    the retrieval regression check every search/RAG stack runs on
    each index or scorer change. All four queries are scored in ONE
    postings pass (``text.bm25_multi``); relevance falls out of the
    same pass (n_matched == n_terms), so the whole evaluation is a
    candidate-sized window + one aggregate per qid. Ranks break ties
    on doc id; reciprocal ranks (1/r) and the recall/precision
    divisions are identical IEEE ops on exact integer inputs in both
    engines."""
    from lightlane_spark.operators.text import bm25_multi

    qset = {
        "q1": ["table", "join"],
        "q2": ["scan", "filter"],
        "q3": ["sort", "merge"],
        "q4": ["table", "scan"],
    }
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    cand = bm25_multi(docs, qset)
    from pyspark.sql import Window as W

    nterms = F.create_map(
        *[x for qid, ts in qset.items() for x in (F.lit(qid), F.lit(len(ts)))]
    )
    r = cand.select(
        "qid",
        "doc_id",
        (F.col("n_matched") == nterms[F.col("qid")]).alias("rel"),
        F.row_number()
        .over(W.partitionBy("qid").orderBy(F.col("score").desc(), "doc_id"))
        .alias("rank"),
    )
    in10 = F.col("rank") <= 10
    return (
        r.groupBy("qid")
        .agg(
            F.sum(F.col("rel").cast("bigint")).alias("n_relevant"),
            F.sum((F.col("rel") & in10).cast("bigint")).alias("hits_at10"),
            F.max(
                F.when(F.col("rel") & in10, F.lit(1.0) / F.col("rank"))
            ).alias("mrr_raw"),
        )
        .select(
            "qid",
            "n_relevant",
            "hits_at10",
            (F.col("hits_at10") / F.lit(10.0)).alias("precision_at10"),
            F.when(
                F.col("n_relevant") > 0,
                F.col("hits_at10") / F.col("n_relevant"),
            )
            .otherwise(F.lit(0.0))
            .alias("recall_at10"),
            F.coalesce(F.col("mrr_raw"), F.lit(0.0)).alias("mrr_at10"),
        )
        .orderBy("qid")
    )


QUERIES["retrieval_metrics"] = q_retrieval_metrics

ORACLE["retrieval_metrics"] = """
    WITH qs(qid, tok) AS (
        VALUES ('q1','table'), ('q1','join'),
               ('q2','scan'),  ('q2','filter'),
               ('q3','sort'),  ('q3','merge'),
               ('q4','table'), ('q4','scan')
    ),
    nt AS (SELECT qid, count(*) AS n_terms FROM qs GROUP BY qid),
    toks AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS dl,
               unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    hits AS (
        SELECT * FROM toks WHERE tok IN (SELECT DISTINCT tok FROM qs)
    ),
    tf AS (
        SELECT doc_id, tok, count(*) AS tf, min(dl) AS dl
        FROM hits GROUP BY doc_id, tok
    ),
    tfdf AS (
        SELECT *, count(*) OVER (PARTITION BY tok) AS df FROM tf
    ),
    stats AS (
        SELECT (SELECT count(DISTINCT doc_id) FROM documents) AS n,
               (SELECT SUM(len(string_split(text, ' '))) FROM documents)
                   AS toks
    ),
    cand AS (
        SELECT q.qid, t.doc_id,
               CAST(SUM(CAST(round(
                   ln((s.n - t.df + 0.5) / (t.df + 0.5) + 1.0)
                   * t.tf * (1.2 + 1.0)
                   / (t.tf + 1.2 * (1.0 - 0.75
                       + 0.75 * t.dl / (CAST(s.toks AS DOUBLE) / s.n))), 6)
                   AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS score,
               count(*) AS n_matched
        FROM tfdf t JOIN qs q ON q.tok = t.tok CROSS JOIN stats s
        GROUP BY q.qid, t.doc_id
    ),
    ranked AS (
        SELECT c.qid, c.doc_id,
               (c.n_matched = nt.n_terms) AS rel,
               row_number() OVER (PARTITION BY c.qid
                                  ORDER BY c.score DESC, c.doc_id) AS rank
        FROM cand c JOIN nt ON nt.qid = c.qid
    ),
    agg AS (
        SELECT qid,
               CAST(SUM(CASE WHEN rel THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_relevant,
               CAST(SUM(CASE WHEN rel AND rank <= 10 THEN 1 ELSE 0 END)
                   AS BIGINT) AS hits_at10,
               MAX(CASE WHEN rel AND rank <= 10
                        THEN 1.0::DOUBLE / rank END) AS mrr_raw
        FROM ranked GROUP BY qid
    )
    SELECT qid, n_relevant, hits_at10,
           hits_at10 / 10.0 AS precision_at10,
           CASE WHEN n_relevant > 0
                THEN CAST(hits_at10 AS DOUBLE) / n_relevant
                ELSE 0.0 END AS recall_at10,
           coalesce(mrr_raw, 0.0) AS mrr_at10
    FROM agg ORDER BY qid
"""


def q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-style KMV set operations across source corpora: per
    source, the bottom-128 sketch of its distinct word 3-gram hashes
    (``sketches.kmv_sketch``); per source PAIR, estimated distinct
    counts, union size, Jaccard and intersection size
    (``kmv_pair_estimates``) — the "how much do these two corpora
    overlap" planner input, answered from k·|groups| longs instead of
    an exact corpus-pair distinct (Apache DataSketches' theta-sketch
    use case; cf. corpus_overlap, which answers similarity from
    per-corpus MinHash but cannot estimate SIZES). Sanity at sf0.01:
    est_a ≈ 1347 vs exact 1355 distinct grams (0.6% err at k=128).

    Scale: the corpus is touched ONCE (map-only shingles → one
    distinct shuffle of (source, h) longs); the bottom-k is two-stage
    (per-bucket then per-group) so no single-partition sort ever sees
    more than bucket-local rows; everything downstream operates on
    ≤ 128·|sources| rows. The oracle replays the identical hash,
    ranks and IEEE divisions — estimates match BIT-FOR-BIT, not
    within tolerance."""
    from lightlane_spark.operators.fuzzy_dedup import shingle
    from lightlane_spark.operators.sketches import (
        kmv_pair_estimates,
        kmv_sketch,
    )

    docs = read_table(spark, sf_dir, "documents").select("source", "text")
    sh = shingle(docs, "text", id_col="source", k=3, distinct="inrow")
    sk = kmv_sketch(sh, "sh", "source", k=128)
    out = kmv_pair_estimates(sk, "source", k=128)
    return out.select(
        "src_a",
        "src_b",
        "est_a",
        "est_b",
        "est_union",
        "jaccard_est",
        "est_intersect",
    ).orderBy("src_a", "src_b")


QUERIES["kmv_set_ops"] = q_kmv_set_ops

ORACLE["kmv_set_ops"] = """
    WITH toks AS (
        SELECT source, string_split(text, ' ') AS t FROM documents
        WHERE len(string_split(text, ' ')) >= 3
    ),
    sh AS (
        SELECT DISTINCT source,
               ('0x' || substr(md5(array_to_string(t[i:i+2], ' ')), 1, 15))::BIGINT AS h
        FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) idx
    ),
    sk AS (
        SELECT source, h,
               row_number() OVER (PARTITION BY source ORDER BY h) AS rank
        FROM sh QUALIFY rank <= 128
    ),
    kth AS (
        SELECT source, max(h) AS h_k, count(*) AS n_sk FROM sk GROUP BY source
    ),
    estn AS (
        SELECT source,
               CASE WHEN n_sk < 128 THEN CAST(n_sk AS DOUBLE)
                    ELSE 127.0 * 1152921504606846976.0 / CAST(h_k AS DOUBLE)
               END AS est_n
        FROM kth
    ),
    pairs AS (
        SELECT a.source AS src_a, b.source AS src_b,
               a.est_n AS est_a, b.est_n AS est_b
        FROM estn a JOIN estn b ON a.source < b.source
    ),
    u AS (
        SELECT p.src_a, p.src_b, s.h, count(*) AS cnt
        FROM pairs p JOIN sk s ON s.source = p.src_a OR s.source = p.src_b
        GROUP BY 1, 2, 3
    ),
    uk AS (
        SELECT src_a, src_b, h, cnt,
               row_number() OVER (PARTITION BY src_a, src_b ORDER BY h) AS ur
        FROM u QUALIFY ur <= 128
    ),
    pagg AS (
        SELECT src_a, src_b, max(h) AS h_uk, count(*) AS n_u,
               SUM(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS rho_cnt
        FROM uk GROUP BY 1, 2
    ),
    est AS (
        SELECT src_a, src_b,
               CASE WHEN n_u < 128 THEN CAST(n_u AS DOUBLE)
                    ELSE 127.0 * 1152921504606846976.0 / CAST(h_uk AS DOUBLE)
               END AS est_union,
               n_u,
               rho_cnt
        FROM pagg
    )
    SELECT e.src_a, e.src_b,
           p.est_a,
           p.est_b,
           e.est_union,
           CAST(rho_cnt AS DOUBLE) / least(128.0, CAST(e.n_u AS DOUBLE))
               AS jaccard_est,
           CAST(rho_cnt AS DOUBLE) / least(128.0, CAST(e.n_u AS DOUBLE))
               * e.est_union AS est_intersect
    FROM est e JOIN pairs p USING (src_a, src_b)
    ORDER BY src_a, src_b
"""


def q_streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING event-time windows through the streaming engine — the
    overlapping-window form (12 h window, 6 h slide: every event lands
    in exactly 2 windows) that tumbling streaming_window_counts does
    not exercise; state per key scales by window/slide and the
    watermark still bounds it. File source → watermark → sliding
    window agg → availableNow, materialized via the memory sink. The
    batch oracle replays the window algebra directly: each event
    joins to offsets {0,1}, start = 6h-epoch-floor(ts) − offset·6h —
    exactly Spark's epoch-aligned window assignment — so streaming
    and batch must agree on every (window, type) count."""
    import tempfile

    from lightlane_spark.streaming.incremental import (
        drain_to_frame,
        stream_from_directory,
        windowed_counts,
    )

    with tempfile.TemporaryDirectory(prefix="llspark_stream_") as base:
        land = f"{base}/landing"
        ev = read_table(spark, sf_dir, "events")
        ev.write.mode("overwrite").parquet(land)
        stream = stream_from_directory(spark, land, ev.schema)
        agg = windowed_counts(
            stream,
            ts_col="ts",
            window="12 hours",
            slide="6 hours",
            watermark="1 day",
            group_cols=["event_type"],
        )
        return drain_to_frame(agg, "complete").select("window_start", "event_type", "n")


QUERIES["streaming_sliding_counts"] = q_streaming_sliding_counts

ORACLE["streaming_sliding_counts"] = """
    WITH ex AS (
        SELECT event_type, ts, unnest([0, 1]) AS off FROM events
    )
    -- TZ-FREE bucket construction: TIMESTAMP '1970-01-01' + seconds.
    -- The r9 form CAST(to_timestamp(..) AS TIMESTAMPTZ→TIMESTAMP)
    -- converts through the SESSION TimeZone's wall clock, so it was
    -- only correct on a UTC host (r10 ADVICE #1: to_timestamp(0)
    -- casts to 1969-12-31 19:00 under America/New_York, while
    -- Spark's window_start is pinned UTC in session.py). The
    -- interval add never leaves naive TIMESTAMP on any host; the
    -- local comparator ALSO pins SET TimeZone='UTC' (belt) but the
    -- driver's DuckDB session is not ours to pin (suspenders).
    SELECT TIMESTAMP '1970-01-01 00:00:00'
               + ((CAST(floor(epoch(ts) / 21600) AS BIGINT) - off)
                  * 21600) * INTERVAL 1 SECOND AS window_start,
           event_type,
           count(*) AS n
    FROM ex
    GROUP BY 1, 2
    ORDER BY 1, 2
"""


def q_neardup_dedup_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware fuzzy dedup: per near-dup cluster keep the
    HIGHEST-quality_score member, ties → LATEST id (the recency
    tiebreak: among equal-quality copies keep the freshest crawl) —
    the policy real curation pipelines want instead of
    neardup_dedup's min-id canonical (keep the cleanest/freshest
    copy, not the one that happened to crawl first; cf.
    RefinedWeb/FineWeb keep-best dedup). On the fixture this
    provably diverges from min-id: verbatim re-upload families keep
    the +1e6 twin. Composition of existing operators: shared verified-pair
    graph → connected components → per-component argmax via
    ``max_by(doc_id, struct(q, doc_id))`` over the JVM quality_score
    expression. The argmax is a hash AGGREGATE keyed by component —
    map-side partial combine absorbs the per-component rows before
    the exchange, so the shuffle carries one struct per component
    per task instead of the full labeled corpus the former
    row_number window sorted (r13: same oracle-pinned rows, one
    full-width sort exchange removed; struct comparison is
    lexicographic by field order, so max(struct(q, doc_id)) IS
    "highest quality, ties → latest id" — doc_id is unique, the
    order is total, the argmax deterministic). The oracle replays
    components (recursive CTE) AND the quality formula, so both the
    clustering and the keep policy are value-pinned."""
    from lightlane_spark.operators.clustering import assign_components
    from lightlane_spark.operators.text import quality_score

    corpus = _docs_with_dups(spark, sf_dir)
    labeled = assign_components(
        corpus, _neardup_pairs(spark, sf_dir), assume_canonical=True
    )
    return (
        labeled.withColumn("__q", quality_score("text"))
        .groupBy("component")
        .agg(
            F.expr("max_by(doc_id, struct(__q, doc_id))").alias("doc_id")
        )
        .select("doc_id")
    )


QUERIES["neardup_dedup_quality"] = q_neardup_dedup_quality

ORACLE["neardup_dedup_quality"] = f"""
    WITH RECURSIVE {_CLUSTER_CTES},
    m AS (
        SELECT doc_id,
               CAST(length(text) AS DOUBLE) AS n_chars,
               CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_toks,
               CAST(length(text) - length(regexp_replace(text, '[A-Za-z ]', '', 'g')) AS DOUBLE) AS n_alpha,
               CAST(len(list_filter(string_split(text, ' '), x -> x IN {_SW})) AS DOUBLE) AS n_sw
        FROM corpus
    ),
    sq AS (
        SELECT doc_id,
               0.25 * (CASE WHEN n_toks >= 10 AND n_toks <= 100000 THEN 1.0 ELSE 0.0 END)
             + 0.25 * (n_alpha / n_chars)
             + 0.25 * (CASE WHEN (n_sw / n_toks) > 0.01 THEN 1.0 ELSE 0.0 END)
             + 0.25 * (CASE WHEN (n_chars / n_toks) >= 2 AND (n_chars / n_toks) <= 12 THEN 1.0 ELSE 0.0 END)
               AS q
        FROM m
    ),
    pick AS (
        SELECT c.component, c.doc_id,
               row_number() OVER (PARTITION BY c.component
                                  ORDER BY sq.q DESC, c.doc_id DESC) AS r
        FROM clusters c JOIN sq USING (doc_id)
    )
    SELECT doc_id FROM pick WHERE r = 1
"""

# the registries are complete: read-only from here on
QUERIES = MappingProxyType(QUERIES)
ORACLE = MappingProxyType(ORACLE)
