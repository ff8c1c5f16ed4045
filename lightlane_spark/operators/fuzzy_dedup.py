"""Deduplication operators for LLM data pipelines (north-star M5):
exact, MinHash+LSH, SimHash, and n-gram Jaccard.

Every sketch is built on the portable ``h32`` (functions/hashing.py),
so each stage has an exact DuckDB-SQL oracle — the signatures, bands,
candidate pairs, and verified pairs are all deterministic and
engine-independent.

Scale design (the point of these operators is 100 TB):
  - Exact dedup: hash-groupBy on a 128-bit fingerprint — one shuffle,
    map-side partial dedup, no text comparison after the hash.
  - MinHash+LSH: shingle→signature is a linear scan + one shuffle by
    doc (signature agg). Banding re-keys signatures to (band,
    band_sig) buckets; only same-bucket docs pair up, so the
    all-pairs O(n²) collapses to Σ|bucket|². Hot buckets (boilerplate
    docs) are the skew risk: ``max_bucket_size`` caps them (dropped
    buckets logged via count), and AQE skew-join handles the rest.
    Verification joins candidate pairs back to shingle sets —
    pairs-only, never all-pairs.
  - SimHash: 32-bit signature via per-bit majority vote — integer
    arithmetic only (ties resolve to 0 deterministically). Near-dup
    candidates via byte-banding (4 bands of 8 bits): Hamming-≤k pairs
    share ≥1 exact band for k ≤ 3 by pigeonhole.
  - n-gram Jaccard: exact pairwise Jaccard driven off a shingle
    self-join — correct but Σcnt² in the worst case; use it to VERIFY
    candidates from MinHash/SimHash at scale, standalone only on
    small/blocked domains.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from lightlane_spark.functions.hashing import h32
from lightlane_spark.operators.text import fingerprint_md5, tokenize

from lightlane_spark.cache import session_memo, tracked_persist


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the min-id representative per exact (normalized) text.

    One shuffle on the md5 fingerprint; the winner is min(id) so the
    result is deterministic. Scale: fingerprint first (128-bit), so
    the shuffle keys are fixed-width regardless of document size.
    """
    fp = fingerprint_md5(F.col(text_col))
    w = Window.partitionBy(fp).orderBy(F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# Shingles
# ---------------------------------------------------------------------------


def shingle(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    distinct: bool | str = True,
) -> DataFrame:
    """Word k-gram shingles per document → (id, sh).

    ``distinct=True`` gives set semantics (needed for Jaccard) at the
    cost of a full shuffle; ``distinct="inrow"`` gives the SAME set
    semantics with NO shuffle — ``array_distinct`` dedups each doc's
    gram array before the explode (per-doc sets never span rows, so
    in-row dedup is exact; prefer this form in new code);
    ``distinct=False`` is map-only without dedup — enough for MinHash
    signatures, where min over the multiset equals min over the set.

    DuckDB oracle shape: unnest over ``range(len(tokens)-k+1)`` with
    ``array_to_string(tokens[i:i+k], ' ')``.

    The token array is materialized as a column BEFORE the per-gram
    transform: referencing ``split(text)`` inside the lambda makes the
    split re-evaluate per gram (O(len²) per doc) — the projection
    boundary under the Generate node keeps it once-per-row (measured
    2× on the sf0.1 corpus).
    """
    tok_col = "__ll_toks"
    d = df.withColumn(tok_col, tokenize(F.col(text_col))).filter(
        F.size(tok_col) >= k  # n < k → no grams; drop the row up front
    )
    # SQL text, not Column lambdas: python-side lambdas get fresh
    # variable ids per invocation, so every call generates new codegen
    # text and recompiles (~1s); fixed text hits the codegen cache.
    grams = F.expr(
        f"transform(sequence(0, size({tok_col}) - {k}),"
        f" i -> concat_ws(' ', slice({tok_col}, i + 1, {k})))"
    )
    if distinct == "inrow":
        grams = F.array_distinct(grams)
    out = d.select(F.col(id_col), F.explode(grams).alias("sh"))
    return out.distinct() if distinct is True else out


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signature_arrays(
    shingles: DataFrame, id_col: str = "doc_id", num_hashes: int = 16
) -> DataFrame:
    """(id, sig: array<long>): MinHash signatures in array form.

    The scale-shaped plan: ONE md5 per shingle expanded to
    ``num_hashes`` values by double hashing (the Carter-Wegman family
    of functions/hashing.py, h_i = (m1 + i·m2) mod 2^32), no
    ×num_hashes row explosion, and the signature is ``num_hashes``
    parallel MIN aggregates in a single groupBy(id) — exactly one
    shuffle of the shingle rows, aggregate state is num_hashes longs
    per doc.

    Driver shape (r13): m1/m2 are projected ONCE as named columns and
    the per-seed min aggregates reference those two small refs — the
    previous ``hash_family`` array form re-embedded the md5/conv
    subtree in all ``num_hashes`` elements. The per-seed Column
    objects are built from SQL text and MEMOIZED per session: the
    Column-algebra form cost ~7 py4j roundtrips × num_hashes ≈ 0.5 s
    of pure driver time per build at num_hashes=32 (measured — the
    dominant driver cost of every LSH-family query build), while a
    parsed Column is an immutable expression tree reusable across
    plans (the hyperplane_bits precedent). Same arithmetic, identical
    signature values; only the build cost drops.
    """
    from lightlane_spark.functions.hashing import H32_SPACE

    def build():
        d = "md5(sh)"
        proj = [
            F.expr(
                f"cast(conv(substring({d}, 1, 8), 16, 10) as bigint) as __m1"
            ),
            F.expr(
                f"cast(conv(substring({d}, 9, 8), 16, 10) as bigint) as __m2"
            ),
        ]
        mins = [
            F.expr(
                f"min((__m1 + {i} * __m2) % {H32_SPACE}) as m{i}"
            )
            for i in range(num_hashes)
        ]
        arr = F.expr(
            "array(" + ", ".join(f"m{i}" for i in range(num_hashes)) + ") as sig"
        )
        return proj, mins, arr

    proj, mins, arr = session_memo(
        shingles.sparkSession, ("minhash_sig", num_hashes), build
    )
    hm = shingles.select(F.col(id_col), *proj)
    return hm.groupBy(id_col).agg(*mins).select(F.col(id_col), arr)


def minhash_signatures(
    shingles: DataFrame, id_col: str = "doc_id", num_hashes: int = 16
) -> DataFrame:
    """(id, seed, minh): row-form MinHash signatures (the SQL-oracle
    shape) — posexplode of the array form, same values."""
    arr = minhash_signature_arrays(shingles, id_col, num_hashes)
    return arr.select(
        F.col(id_col), F.posexplode(F.col("sig")).alias("seed", "minh")
    )


def lsh_band_keys(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """(id, band, band_sig): per-band concatenation of the array-form
    signature (``sig`` column) in seed order — deterministic bucket
    keys, derived with NO shuffle (pure projection + explode).
    """
    # The band-struct Column is ~bands·rows_per_band element_at/
    # concat_ws nodes — ~0.2 s of py4j construction per build at
    # (4, 4), paid by every LSH-family query. Parsed Columns are
    # immutable expression trees, so memoize per session (the
    # minhash_signature_arrays / hyperplane_bits precedent).
    band_structs = session_memo(
        signatures.sparkSession,
        ("lsh_bands", bands, rows_per_band),
        lambda: F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.concat_ws(
                        ",",
                        *[
                            F.element_at(
                                F.col("sig"), b * rows_per_band + r + 1
                            ).cast("string")
                            for r in range(rows_per_band)
                        ],
                    ).alias("band_sig"),
                )
                for b in range(bands)
            ]
        ),
    )
    return signatures.select(
        F.col(id_col), F.explode(band_structs).alias("__b")
    ).select(id_col, F.col("__b.band").alias("band"), F.col("__b.band_sig").alias("band_sig"))


def _pairs_from_buckets(buckets: DataFrame, max_bucket_size: int | None) -> DataFrame:
    """Distinct (id_a < id_b) pairs co-occurring in ≥1 bucket; input
    needs an ascending-sorted ``ids`` array column.

    Σ|bucket|² work, generated bucket-locally: pairs expand in-array
    (each element against its suffix, preserving id_a < id_b) — no
    self-join, no second shuffle before the final distinct.
    """
    buckets = buckets.filter(F.size("ids") >= 2)
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket_size)
    # memoized per session: two nested lambda conversions cost ~0.1 s
    # of py4j per build (same rationale as the lsh_band_keys memo)
    pairs = session_memo(
        buckets.sparkSession,
        "bucket_pairs",
        lambda: F.flatten(
            F.transform(
                F.col("ids"),
                lambda x, i: F.transform(
                    F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                    lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                ),
            )
        ),
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )


def lsh_buckets(band_keys: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(band, band_sig, ids): each bucket's sorted member-id array —
    the shared intermediate for pair expansion AND candidate-id
    derivation; both read one bucket exchange, which the executed plan
    reuses, so the bucket shuffle is paid once without a persist."""
    return band_keys.groupBy("band", "band_sig").agg(
        F.array_sort(F.collect_list(F.col(id_col))).alias("ids")
    )


def bucket_candidate_ids(
    buckets: DataFrame,
    id_col: str = "doc_id",
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Ids of every doc appearing in a qualifying (≥2-member, uncapped)
    bucket — a superset-free candidate-doc list WITHOUT an exchange:
    each doc occurs at most ``bands`` times (once per band bucket),
    so the list is bands×|candidate docs| regardless of how dense the
    duplicate cliques are. The pairs-derived alternative is 2×|pairs|
    rows — quadratic in clique size, catastrophic to broadcast on a
    dup-dense corpus."""
    b = buckets.filter(F.size("ids") >= 2)
    if max_bucket_size is not None:
        b = b.filter(F.size("ids") <= max_bucket_size)
    return b.select(F.explode("ids").alias(id_col))


def lsh_candidate_pairs(
    band_keys: DataFrame,
    id_col: str = "doc_id",
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing ≥1 band bucket.

    One groupBy collects each bucket's (sorted) member ids, then
    bucket-local in-array pair expansion (``_pairs_from_buckets``).
    ``max_bucket_size`` drops degenerate buckets (boilerplate text at
    corpus scale can put 10⁶ docs in one bucket = 10¹² pairs); dropped
    buckets are the recall/robustness tradeoff, and the cap should
    exceed any real duplicate-cluster size.
    """
    return _pairs_from_buckets(lsh_buckets(band_keys, id_col), max_bucket_size)


def jaccard_verify(
    pairs: DataFrame,
    shingles: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.7,
    *,
    cand_ids: DataFrame,
) -> DataFrame:
    """Exact Jaccard for candidate pairs only → (id_a, id_b, jaccard).

    Per-doc shingle SETS are gathered once (``collect_set`` — one
    shuffle keyed by doc id, restricted to docs that appear in a
    candidate pair), then each pair joins its two sets and intersects
    them in-row with ``array_intersect``: |A∩B| per pair is O(|A|+|B|)
    with no (id, shingle)-grained join. |A∪B| = |A|+|B|−|A∩B|. All
    integer counts; the final division is one deterministic double op.

    Scale shape: the candidate-doc semi-join keeps the collect_set
    shuffle proportional to the candidate set, not the corpus; set
    arrays are bounded by document length. The multiset→set collapse
    happens inside collect_set, so map-only (multiset) shingles cost
    nothing extra.

    ``cand_ids``: the candidate-doc id list, ``bucket_candidate_ids``
    output (may contain bounded duplicates — the semi-join's build
    side dedupes keys): bands×|docs| worst case with no exchange.
    Ids derived from the pairs would be 2×|pairs| rows — quadratic in
    duplicate-clique size — or pay a distinct.

    Driver shape (r14, guide §7.3): every join here takes an
    UNRESOLVED Column condition on reserved ``__j*``/``__ci`` names —
    a using-columns join (``on="id_a"``) EAGERLY re-analyzes the
    combined plan at graph-construction time, ~0.1–0.25 s per join on
    the LSH-chain tail this verifier sits on (measured interleaved;
    the condition form defers resolution to the one analysis the
    final plan pays anyway). The jaccard projection and threshold
    filter collapse into one select + where for the same reason.
    Join structure, semantics, and output are unchanged.
    """
    ci = cand_ids.select(F.col(id_col).alias("__ci"))
    doc_sets = (
        shingles.join(
            F.broadcast(ci), F.col(id_col) == F.col("__ci"), "left_semi"
        )
        .groupBy(id_col)
        .agg(F.collect_set("sh").alias("__shs"))
    )
    d_a = doc_sets.select(F.col(id_col).alias("__ja"), F.col("__shs").alias("__a"))
    d_b = doc_sets.select(F.col(id_col).alias("__jb"), F.col("__shs").alias("__b"))
    n_inter = F.size(F.array_intersect("__a", "__b"))
    jac = n_inter / (F.size("__a") + F.size("__b") - n_inter)
    return (
        pairs.join(d_a, F.col("id_a") == F.col("__ja"))
        .join(d_b, F.col("id_b") == F.col("__jb"))
        .select("id_a", "id_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def _minhash_verified_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    num_hashes: int,
    bands: int,
    threshold: float,
    max_bucket_size: int,
    pair_filter: Column | None = None,
) -> DataFrame:
    """The MinHash chain both near-dup operators share: shingle →
    signature → band keys → buckets → candidate pairs → Jaccard
    verify. ``pair_filter`` narrows the candidate pairs BEFORE the
    verifier, so it only pays for pairs that can reach the output.

    Map-only (multiset) shingles: min over a multiset equals min over
    the set, so signatures skip the full-corpus distinct shuffle; the
    verifier set-ifies only candidate-pair documents.

    Nothing is persisted, so the chain leaves no session state for
    the caller to release: the bucket aggregate feeds both the pair
    expansion and the candidate-id list through one exchange that the
    executed plan reuses (``ReusedExchange``), and the verifier
    re-derives the map-only shingles from the scan. Persisting the
    shingles and buckets ran the chain's consumers slower on a 10×
    corpus (CHANGES.md).
    """
    sh = shingle(df, text_col, id_col, k, distinct=False)
    sig = minhash_signature_arrays(sh, id_col, num_hashes)
    keys = lsh_band_keys(sig, id_col, bands, num_hashes // bands)
    buckets = lsh_buckets(keys, id_col)
    cand = _pairs_from_buckets(buckets, max_bucket_size)
    if pair_filter is not None:
        cand = cand.where(pair_filter)
    ids = bucket_candidate_ids(buckets, id_col, max_bucket_size)
    return jaccard_verify(cand, sh, id_col, threshold, cand_ids=ids)


def dedup_minhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.7,
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup pairs, Jaccard-verified.

    b=4, r=4 → LSH s-curve threshold (1/b)^(1/r) ≈ 0.71, matched to
    the default verify threshold.
    """
    return _minhash_verified_pairs(
        df, text_col, id_col, k, num_hashes, bands, threshold, 1000
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32
) -> DataFrame:
    """(id, simhash): per-bit majority vote over distinct-token h32s.

    Pure integer arithmetic (vote sum > 0 → bit set; ties → 0), so the
    signature is engine-exact. Plan: explode tokens ×bits → two
    groupBys — linear in corpus size, shuffles keyed by doc id.
    """
    toks = (
        df.select(F.col(id_col), F.explode(F.array_distinct(tokenize(F.col(text_col)))).alias("tok"))
        .withColumn("h", h32(F.col("tok")))
    )
    votes = (
        toks.select(
            id_col,
            "h",
            F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("b"),
        )
        .withColumn(
            # portable bit probe: (h DIV 2^b) % 2 — pow(2,b) exact in
            # double for b<53, same arithmetic as the DuckDB oracle
            "vote",
            F.when(F.expr("(h DIV CAST(pow(2, b) AS BIGINT)) % 2 = 1"), 1).otherwise(-1),
        )
        .groupBy(id_col, "b")
        .agg(F.sum("vote").alias("s"))
    )
    return votes.groupBy(id_col).agg(
        F.sum(
            F.when(F.col("s") > 0, F.expr("CAST(pow(2, b) AS BIGINT)")).otherwise(0)
        ).alias("simhash")
    )


def simhash_near_pairs(
    signatures: DataFrame, id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """(id_a, id_b, hamming): pairs within ``max_hamming`` bits.

    Byte-banding: a 32-bit signature splits into 4 bytes; two
    signatures within Hamming distance 3 agree on ≥1 whole byte
    (pigeonhole), so candidates = pairs sharing any (band, byte).

    The signature relation (id + one int per doc) is materialized
    once — both self-join sides would otherwise re-run the per-doc
    simhash computation and its corpus lineage (r7 plan audit, same
    finding as blockhash_near_pairs).
    """
    # kept (off reruns the simhash UDF per join side); cold A/B sf0.1 local[4]: on 1.18 s, off 3.38 s
    signatures = tracked_persist(signatures.select(id_col, "simhash"))
    bands = signatures.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("band"),
    ).withColumn(
        "byte", F.expr("(simhash DIV CAST(pow(2, band * 8) AS BIGINT)) % 256")
    )
    a = bands.select(F.col("band"), F.col("byte"), F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"))
    b = bands.select(F.col("band"), F.col("byte"), F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"))
    cand = (
        a.join(b, on=["band", "byte"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (standalone)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """All pairs with k-gram Jaccard ≥ threshold, via shingle self-join.

    The self-join IS the intersection count: each shared shingle
    contributes one joined row, so groupBy(pair).count() gives |A∩B|
    with no distinct and no per-pair set materialization — measured
    ~4× faster than bucket-expansion + set-intersection here, because
    exact all-pairs has candidates ≈ co-shingle pairs (the
    collect_set/array_intersect shape only wins when candidates are
    sparse, as in MinHash-LSH verify).

    Work is Σ_sh cnt(sh)² — unbounded on frequent grams. At scale,
    ALWAYS set ``max_doc_freq``: shingles occurring in more than that
    many documents are dropped from the gram universe BEFORE the
    self-join (both intersection and set sizes count only retained
    grams, so the Jaccard stays internally consistent). That bounds
    per-gram pair expansion at cap² and kills the frequent-gram skew —
    near-duplicate pairs keep their doc-specific rare grams and are
    still found, while boilerplate phrases shared by millions of docs
    no longer generate cross-pairs. ``None`` keeps exact full-universe
    semantics (verifier-only shape; MinHash-LSH is the discovery path).
    """
    # Set semantics via in-row array_distinct — NO distinct shuffle
    # (a doc's gram set never spans rows).
    sh = shingle(df, text_col, id_col, k, distinct="inrow")
    if max_doc_freq is not None:
        # Document frequency via a count window on the shingle key:
        # one exchange on `sh`.
        w = Window.partitionBy("sh")
        sh = (
            sh.withColumn("__df", F.count("*").over(w))
            .filter(F.col("__df") <= max_doc_freq)
            .drop("__df")
        )
    # Per-doc retained-gram count attached as a window column and
    # CARRIED THROUGH the self-join (grouped along with the pair key):
    # the two pairs↔sizes re-joins of the naive plan — and their three
    # exchanges — disappear.
    sh = sh.withColumn("__n", F.count("*").over(Window.partitionBy(id_col)))
    a = sh.select(F.col(id_col).alias("id_a"), F.col("__n").alias("n_a"), "sh")
    b = sh.select(F.col(id_col).alias("id_b"), F.col("__n").alias("n_b"), "sh")
    return (
        a.join(b, on="sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def corpus_overlap_estimates(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 32,
) -> DataFrame:
    """Cross-corpus overlap estimation from CORPUS-LEVEL MinHash
    fingerprints: one ``num_hashes``-long signature per group (min per
    seed over every shingle the group contains), pairwise Jaccard
    estimated as the fraction of agreeing positions. The dataset-
    versioning / source-triage primitive: "how much of src_a is also
    in src_b" for every pair, WITHOUT any cross-corpus doc join.

    Returns (src_a, src_b, n_agree, est_jaccard) for src_a < src_b.

    Scale shape: the signature build is the same one-shuffle
    ``minhash_signature_arrays`` plan keyed by group instead of doc —
    aggregate state is num_hashes longs PER GROUP, so a 100 TB corpus
    reduces to |groups|×num_hashes longs in one pass (and the
    fingerprint is mergeable: elementwise min across batch/partition
    signatures — recompute nothing on append). The pairwise stage is
    a broadcast non-equi self-join over |groups| rows — bounded by
    the group count (sources/snapshots/shards), never by the corpus;
    the in-row zip_with comparison keeps it expression-only.
    Deterministic md5 hashing → the estimate (agreement count
    included) has an exact SQL oracle.
    """
    sh = shingle(df, text_col=text_col, id_col=group_col, k=k, distinct=False)
    sigs = minhash_signature_arrays(sh, id_col=group_col, num_hashes=num_hashes)
    a = sigs.select(F.col(group_col).alias("src_a"), F.col("sig").alias("__sa"))
    b = sigs.select(F.col(group_col).alias("src_b"), F.col("sig").alias("__sb"))
    pairs = a.join(F.broadcast(b), F.col("src_a") < F.col("src_b"))
    n_agree = F.size(
        F.filter(F.zip_with("__sa", "__sb", lambda x, y: x == y), lambda v: v)
    ).cast("bigint")
    return pairs.withColumn("n_agree", n_agree).select(
        "src_a",
        "src_b",
        "n_agree",
        # unrounded: n_agree/num_hashes is an exact-rational IEEE
        # quotient, identical on both engines; a final round() is
        # only an identity while num_hashes stays a power of two and
        # becomes the repr-half divergence class the moment it isn't
        (F.col("n_agree") / F.lit(float(num_hashes))).alias("est_jaccard"),
    )


def minhash_join(
    left: DataFrame,
    right: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.7,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Cross-corpus fuzzy JOIN on document similarity: pairs
    (left_id, right_id, jaccard) with Jaccard(shingles) ≥ threshold —
    record linkage between two tables (crawl batch vs accepted index,
    vendor feed vs master catalog) WITHOUT the O(|L|·|R|) similarity
    join a naive formulation needs.

    Implementation: both sides enter the SAME MinHash chain as
    ``dedup_minhash`` under a parity-disjoint id embedding
    (left → 2·id, right → 2·id+1 — caller ids may overlap freely;
    ids must fit 62 bits), then only cross-parity verified pairs are
    kept and mapped back. Reusing the self-join machinery means the
    same scale guarantees apply verbatim: one bucket exchange shared by
    pair expansion and the candidate-id list, bucket-local candidate
    expansion with Σ|bucket|² capped, verification touching candidate
    docs only. Nothing is persisted, so the shingles feed two
    exchanges and the executed plan reads each side's scan twice.
    Within-corpus duplicate pairs are computed-and-discarded rather
    than avoided — at the bucket level the cross-pair share is the
    product distribution, and the alternative (a second keyed
    exchange to segregate sides) costs more than the discarded
    expansions under the bucket cap.
    """
    lft = left.select((F.col(id_col) * 2).alias(id_col), F.col(text_col))
    rgt = right.select((F.col(id_col) * 2 + 1).alias(id_col), F.col(text_col))
    # Cross-parity filter applied BEFORE verification (not after):
    # same-parity pairs are within-corpus duplicates this operator
    # discards by contract, and filtering candidates is a map-side
    # WHERE with no exchange — the verifier's set-collect join then
    # touches only pairs that can appear in the output (the r4→r6
    # form verified everything and filtered at the end, paying the
    # two set joins + intersect for pairs it was about to drop). The
    # verifier's candidate-doc list stays bucket-derived (a superset
    # of the cross-parity docs): it only gates a semi-join, and the
    # exact set would cost the distinct the bucket-array form avoids.
    cross = _minhash_verified_pairs(
        lft.unionByName(rgt), text_col, id_col, k, num_hashes, bands,
        threshold, max_bucket_size,
        pair_filter=(F.col("id_a") + F.col("id_b")) % 2 == 1,
    )
    even = F.when(F.col("id_a") % 2 == 0, F.col("id_a")).otherwise(F.col("id_b"))
    odd = F.when(F.col("id_a") % 2 == 1, F.col("id_a")).otherwise(F.col("id_b"))
    # shiftright, not /2: float division loses exactness past 2^53
    return cross.select(
        F.shiftright(even, 1).alias("left_id"),
        F.shiftright(odd, 1).alias("right_id"),
        "jaccard",
    )


# ---------------------------------------------------------------------------
# Prefix-filtered exact set-similarity join (PPJoin-family)
# ---------------------------------------------------------------------------


def _rare_first_docs(
    df: DataFrame, text_col: str, id_col: str, k: int, num: int, den: int
) -> DataFrame:
    """Shared prefix-filter input: per-doc gram arrays in a GLOBAL
    rare-first total order (ascending document frequency, gram text as
    tie-break) with set size ``n`` and prefix length ``plen`` =
    n − ⌈(num/den)·n⌉ + 1 in exact integer arithmetic. Both join
    sides read it through one shared exchange (ReusedExchange)."""
    sh = shingle(df, text_col, id_col, k, distinct="inrow")
    sh = sh.withColumn("__df", F.count("*").over(Window.partitionBy("sh")))
    # Per-doc global-order gram array: array_sort on (df, gram) structs
    # sorts by field order — rare-first, gram-text tie-break.
    return (
        sh.groupBy(id_col)
        .agg(
            F.expr("transform(array_sort(collect_list(struct(__df, sh))), x -> x.sh)")
            .alias("grams")
        )
        .withColumn("n", F.size("grams"))
        # exact ⌈num·n/den⌉ = (num·n + den − 1) div den, in bigint
        .withColumn(
            "plen",
            F.col("n") - ((F.col("n") * num + den - 1) / den).cast("bigint") + 1,
        )
    )


def containment_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.9,
) -> DataFrame:
    """EXACT containment join: ordered pairs (id_a, id_b, containment)
    with |A∩B| / |A| ≥ threshold and A ≠ B — the ASYMMETRIC
    set-similarity relation Jaccard misses: a short document quoted or
    embedded inside a long one scores near 1.0 here while its Jaccard
    stays low (the size ratio caps it). The dedup decision it feeds is
    "drop the contained doc, keep the container" — quotes, snippets,
    re-posts with boilerplate attached.

    Prefix filtering adapts to the asymmetry: if |A∩B| ≥ ⌈τ·|A|⌉,
    side A must collide with B inside A's first n_A − ⌈τ·n_A⌉ + 1
    rare-first grams — so the PROBE side explodes only its prefix,
    but the INDEX side must explode ALL its grams (B's matching gram
    can sit anywhere in B). Candidate work is therefore
    Σ_g cnt_prefix(g) · cnt_full(g) over PROBE-prefix grams: the
    rare-first order keeps stop-grams out of probe prefixes (a
    stop-gram prefixes only a doc whose every gram is frequent), which
    is what bounds the full-side expansion; the classic stop-gram n²
    cannot ignite because one side of every candidate join key is
    prefix-rare. Length filter: |B| ≥ ⌈τ·|A|⌉ (no upper bound — the
    container may be any size).

    Unlike the Jaccard form, the gram ARRAYS are NOT carried through
    the candidate join: the index side explodes every gram, so an
    inlined array would be duplicated ×n per doc — O(n²) bytes for a
    single document. Candidates travel as bare (id_a, id_b, n_a)
    triples, dedup cheaply, and join BACK to the docs
    relation for both arrays before the in-row array_intersect verify
    (measured 2.1 → 1.0 s at sf0.1, identical pairs). Threshold is
    exact rational arithmetic; ``containment`` is the one
    deterministic double division.

    Reference parity: the reference engine has no set-similarity
    operator at all; this extends the dedup family SURVEY §2.5
    consolidates (same lossless guarantees as
    ``prefix_filter_jaccard_join``, Vernica et al. SIGMOD'10 shapes).
    """
    from fractions import Fraction

    frac = Fraction(threshold).limit_denominator(10**6)
    num, den = frac.numerator, frac.denominator

    docs = _rare_first_docs(df, text_col, id_col, k, num, den)
    probe = docs.select(
        F.col(id_col).alias("id_a"),
        F.col("n").alias("n_a"),
        F.posexplode(F.expr("slice(grams, 1, plen)")).alias("__pa", "g"),
    )
    # Unresolved-condition joins on reserved names throughout (r14,
    # guide §7.3): using-columns joins eagerly re-analyze the combined
    # plan per construction — 0.3-0.5 s of pure driver build per query
    # on this chain (measured); the condition form defers to the one
    # analysis the final plan pays anyway. Join structure, build
    # sides, and results are unchanged.
    index = docs.select(
        F.col(id_col).alias("id_b"),
        F.col("n").alias("n_b"),
        F.posexplode(F.col("grams")).alias("__pb", "__g"),
    )
    # PPJoin positional machinery (r14) — same exact identity as
    # prefix_filter_jaccard_join: with g* the largest gram colliding
    # in probe-prefix(a) × index(b) at positions (i_max, j_max), every
    # common gram ≤ g* lies inside a's probe prefix (pos ≤ i_max <
    # plen_a) and anywhere in b (the index side explodes ALL grams),
    # so the per-pair collision count c equals |common grams ≤ g*|
    # and total overlap o = c + |suffix_a ∩ suffix_b| exactly. Pairs
    # are pruned on the bound c + min(n_a−i_max−1, n_b−j_max−1) < α
    # before the join-backs, and the join-back rows carry only the
    # suffix slices.
    cand = (
        probe.join(index, F.col("g") == F.col("__g"))
        .where(
            (F.col("id_a") != F.col("id_b"))
            # container must hold at least ⌈τ·n_a⌉ grams
            & (F.col("n_b") * den >= F.col("n_a") * num)
        )
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(
            F.count(F.lit(1)).alias("__c"),
            F.max("__pa").alias("__ia"),
            F.max("__pb").alias("__ib"),
        )
        .where(
            # accumulated positional filter, exact integer form of
            # bound ≥ ⌈τ·n_a⌉
            (
                F.col("__c")
                + F.least(
                    F.col("n_a") - F.col("__ia") - 1,
                    F.col("n_b") - F.col("__ib") - 1,
                )
            )
            * den
            >= F.col("n_a") * num
        )
    )
    # shuffle_hash for the same reason as prefix_filter_jaccard_join:
    # the docs aggregate's size estimate undersells its array payload
    # and a statistics-led broadcast of it is the r13-measured
    # first-rep pathology at 10x.
    ga = docs.select(
        F.col(id_col).alias("__jba"), F.col("grams").alias("__ga")
    ).hint("shuffle_hash")
    gb = docs.select(
        F.col(id_col).alias("__jbb"), F.col("grams").alias("__gb")
    ).hint("shuffle_hash")
    suf_a = F.expr("slice(__ga, __ia + 2, n_a - __ia - 1)")
    suf_b = F.expr("slice(__gb, __ib + 2, n_b - __ib - 1)")
    with_ab = (
        cand.join(ga, F.col("id_a") == F.col("__jba"))
        .select(
            "id_a", "id_b", "n_a", "n_b", "__c", "__ib", suf_a.alias("__sa")
        )
        .join(gb, F.col("id_b") == F.col("__jbb"))
    )
    inter = F.col("__c") + F.size(F.array_intersect(F.col("__sa"), suf_b))
    return (
        # exact rational threshold: inter·den ≥ num·n_a
        with_ab.where(inter * den >= F.col("n_a") * num).select(
            "id_a",
            "id_b",
            (inter.cast("double") / F.col("n_a")).alias("containment"),
        )
    )


def prefix_filter_jaccard_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """EXACT all-pairs Jaccard(shingle-set) ≥ threshold via prefix
    filtering (the PPJoin/all-pairs family; see Vernica et al.,
    SIGMOD'10 for the MapReduce formulation) — the lossless
    alternative to ``ngram_jaccard_pairs``' df-cap blocking: no gram
    is dropped, yet the self-join never touches a document's frequent
    grams.

    Principle: order every document's gram set by a GLOBAL rare-first
    total order (ascending document frequency, gram text as
    tie-break). If J(A,B) ≥ τ then |A∩B| ≥ ⌈τ·max(|A|,|B|)⌉, and two
    sets with overlap ≥ α must collide within their first
    |x| − α + 1 ordered elements — so indexing only each doc's
    PREFIX of length |x| − ⌈τ·|x|⌉ + 1 finds every qualifying pair.
    Frequent grams sort to the suffix and never enter the inverted
    index, which is what bounds the candidate expansion: join work is
    Σ_g cnt_prefix(g)² over RARE grams only, not Σ_g cnt(g)² over the
    full universe.

    Plan shape: gram df via one window on the shingle relation →
    per-doc sort + prefix inside a row (array_sort on (df, gram)
    structs — no extra shuffle) → SKINNY prefix explode (id, n, g
    only) + self-join on gram with the τ·|A| ≤ |B| ≤ |A|/τ length
    filter → distinct bare candidate pairs → two joins back to the
    docs relation fetch the gram arrays exactly once per
    surviving pair for the in-row array_intersect verify. Prefix
    length uses exact rational arithmetic (⌈num·n/den⌉ as integer
    ops) — float ceil at a representability boundary would silently
    shorten a prefix and break completeness.

    At 100 TB: every stage is linear in the shingle relation except
    the prefix self-join, whose per-gram expansion is capped by the
    rarity of prefix grams themselves; the classic skew killer
    (stop-gram n²) cannot occur because a stop-gram's df places it
    past every prefix boundary. Candidate verification is in-row on
    pre-sorted arrays.

    Like ``containment_join``, the gram ARRAYS are NOT carried
    through the prefix explode + candidate join: an inlined array is
    duplicated ×plen per doc — O(plen·n) wire bytes per DOCUMENT
    (quadratic in doc length), which the r13 scale-ratio audit
    measured as the one near-super-linear chain (10× corpus → 14.5×
    runtime with 42/103/19 s rep thrash from the spilling
    array-laden exchange; SCALE_RATIO.json). Candidates travel as
    bare (id_a, id_b, n_a, n_b) rows, aggregate cheaply, and join
    BACK to the docs relation before the in-row
    array_intersect verify — re-measured 10×/1× ratio drops to
    ~linear and sf0.1 steady improves ~2× (same identical-pairs
    result the oracle pins).

    r14 adds the PPJoin positional layer on top (guide §2.3): the
    candidate aggregate keeps the collision count c and max matched
    positions (i_max, j_max), prunes pairs on the exact bound
    o ≤ c + min(n_a−i_max−1, n_b−j_max−1) before the join-backs, and
    verifies on SUFFIX slices only (o = c + |suffix∩suffix| — the
    matched-prefix grams are already counted by c; see the in-code
    proof). At the 10× corpus this cut the pairs×grams_a exchange
    1.83 GB → 0.57 GB and the join-back stages 402 → 35
    executor-seconds; steady query time 15.6 → 3.4 s.

    The two join-backs are HINTED ``shuffle_hash``: Catalyst's size
    estimate for the docs relation (output of an aggregate) is far
    below its true array-laden size, so before the relation's real
    stats exist AQE broadcasts
    hundreds of MB of gram arrays to every task; the r13 isolation
    measured 104/177 s first-rep pathologies at 10× that settle to
    12 s once the cache teaches AQE better. The hint makes the
    strategy independent of statistics: build side per partition is
    |docs|/shuffle-partitions, which the cluster-sizing contract
    (~200 MB post-shuffle partitions) already bounds, and the big
    candidate side is never sorted. Measured: first-rep 104 → 27 s,
    steady 12 s flat at 10×.
    """
    from fractions import Fraction

    frac = Fraction(threshold).limit_denominator(10**6)
    num, den = frac.numerator, frac.denominator

    docs = _rare_first_docs(df, text_col, id_col, k, num, den)
    idx_a = docs.select(
        F.col(id_col).alias("id_a"),
        F.col("n").alias("n_a"),
        F.posexplode(F.expr("slice(grams, 1, plen)")).alias("__pa", "g"),
    )
    # unresolved-condition joins on reserved names, as in
    # containment_join (r14): same plan, cheaper graph construction
    idx_b = docs.select(
        F.col(id_col).alias("id_b"),
        F.col("n").alias("n_b"),
        F.posexplode(F.expr("slice(grams, 1, plen)")).alias("__pb", "__g"),
    )
    # PPJoin positional machinery (r14, guide §2.3 — shuffle fewer
    # bytes). Both gram arrays share ONE global total order, so for a
    # candidate pair let g* be the LARGEST gram colliding in the two
    # prefixes, at 0-based positions (i_max, j_max). Then:
    #   - every common gram h ≤ g* sits at pos_a(h) ≤ i_max < plen_a
    #     and pos_b(h) ≤ j_max < plen_b — inside BOTH prefixes — so it
    #     produced a join row: the per-pair collision COUNT c equals
    #     |common grams ≤ g*| exactly;
    #   - every common gram > g* sits strictly after i_max in a and
    #     after j_max in b, so total overlap
    #       o = c + |suffix_a ∩ suffix_b|         (suffix = grams
    #     after the max matched position) — computed below on the
    #     SLICED arrays, and bounded by
    #       o ≤ c + min(n_a−i_max−1, n_b−j_max−1).
    # J(A,B) ≥ num/den ⟺ o·(num+den) ≥ num·(n_a+n_b); pairs whose
    # bound fails are dropped BEFORE the join-backs (lossless — for a
    # qualifying pair the bound ≥ o passes by monotonicity), and the
    # survivors' join-back rows carry only the SUFFIX slices, cutting
    # the one array-laden exchange (pairs × grams_a, the dominant
    # bytes of this operator at 10×) by the matched-prefix portion.
    cand = (
        idx_a.join(idx_b, F.col("g") == F.col("__g"))
        .where(
            (F.col("id_a") < F.col("id_b"))
            # length filter: J ≤ min/max, so sizes within a τ factor
            & (F.col("n_b") * num <= F.col("n_a") * den)
            & (F.col("n_a") * num <= F.col("n_b") * den)
        )
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(
            F.count(F.lit(1)).alias("__c"),
            F.max("__pa").alias("__ia"),
            F.max("__pb").alias("__ib"),
        )
        .where(
            # accumulated positional filter: c + min remaining suffix
            # length bounds o from above; exact integer form of ≥ α
            (
                F.col("__c")
                + F.least(
                    F.col("n_a") - F.col("__ia") - 1,
                    F.col("n_b") - F.col("__ib") - 1,
                )
            )
            * (num + den)
            >= (F.col("n_a") + F.col("n_b")) * num
        )
    )
    ga = docs.select(
        F.col(id_col).alias("__jba"), F.col("grams").alias("__ga")
    ).hint("shuffle_hash")
    gb = docs.select(
        F.col(id_col).alias("__jbb"), F.col("grams").alias("__gb")
    ).hint("shuffle_hash")
    # suffix slices only: positions ≤ i_max/j_max contribute exactly
    # __c common grams (proof above), so the arrays shed their matched
    # prefixes before the pairs-per-array exchange between join-backs
    suf_a = F.expr("slice(__ga, __ia + 2, n_a - __ia - 1)")
    suf_b = F.expr("slice(__gb, __ib + 2, n_b - __ib - 1)")
    with_ab = (
        cand.join(ga, F.col("id_a") == F.col("__jba"))
        .select(
            "id_a", "id_b", "n_a", "n_b", "__c", "__ib", suf_a.alias("__sa")
        )
        .join(gb, F.col("id_b") == F.col("__jbb"))
    )
    inter = F.col("__c") + F.size(F.array_intersect(F.col("__sa"), suf_b))
    jacc = inter.cast("double") / (F.col("n_a") + F.col("n_b") - inter)
    return (
        # exact rational threshold: inter·den ≥ num·(n_a+n_b−inter)
        with_ab.where(
            inter * (num + den) >= (F.col("n_a") + F.col("n_b")) * num
        ).select("id_a", "id_b", jacc.alias("jaccard"))
    )
