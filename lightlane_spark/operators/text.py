"""Text-analysis operators for LLM data pipelines (north-star M5):
tokenization, token counting, language ID, quality scoring, document
fingerprinting.

All pure ``pyspark.sql.functions`` — JVM-side, whole-stage-codegen'd,
no Python in the hot path. Each produces per-document columns, so the
plan is scan → project → (optional shuffle by consumer): linear at
100 TB with zero driver involvement.

Design notes per operator:
  - ``tokenize``: whitespace split (the corpus norm); a BPE-ish regex
    variant is provided for subword-rate estimation.
  - ``language_id``: stopword-ratio n-gram heuristic over a small
    built-in lexicon per language — the classic fast-path langid
    (fasttext-style models slot in behind the same column contract
    via mapInPandas when available).
  - ``quality_score``: interpretable linear blend of length,
    alpha-ratio, stopword-ratio, and mean-word-length signals —
    the common "Gopher rules"-style heuristic family.
  - ``fingerprint``: md5 of normalized text (exact-dup key), plus a
    h32 rolling-window fingerprint usable for containment checks.
"""

from __future__ import annotations

from collections.abc import Sequence
from types import MappingProxyType

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lightlane_spark.functions.hashing import h32

from lightlane_spark.cache import tracked_persist

# Tiny built-in stopword lexicons (top function words). Good enough to
# separate the languages the corpus declares; swap for a real lexicon
# in production.
STOPWORDS = MappingProxyType({
    "en": ("the", "a", "of", "and", "to", "in", "is", "it"),
    "de": ("der", "die", "das", "und", "ist", "ein", "zu", "von"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr": ("le", "la", "de", "et", "un", "est", "que", "en"),
})

BPE_ISH_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokenize(text: Column | str, pattern: str = " ") -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, pattern)


def token_count(text: Column | str) -> Column:
    """Whitespace token count (portable: size(split(text,' ')))."""
    return F.size(tokenize(text)).cast("bigint")


def subword_count(text: Column | str) -> Column:
    """BPE-ish token count: letter runs + digit runs + punct singles.
    Estimates LLM token cost ~×(4/3) better than whitespace count."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_TOKEN_RE), 0)).cast("bigint")


def stopword_ratio(text: Column | str, lang: str = "en") -> Column:
    """Fraction of tokens that are stopwords of ``lang``."""
    toks = tokenize(text)
    sw = F.array([F.lit(w) for w in STOPWORDS[lang]])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return hits / F.size(toks)


def language_id(text: Column | str) -> Column:
    """Heuristic language ID: argmax of per-language stopword ratio;
    'und' (undetermined) when no lexicon fires."""
    ratios = [(lang, stopword_ratio(text, lang)) for lang in STOPWORDS]
    best_score = F.greatest(*[r for _, r in ratios])
    out = F.lit("und")
    # fold in reverse so earlier languages win exact ties (deterministic)
    for lang, r in reversed(ratios):
        out = F.when((r == best_score) & (best_score > 0), F.lit(lang)).otherwise(out)
    return out


def quality_score(text: Column | str) -> Column:
    """Interpretable [0,1] quality blend (Gopher-rules style):
    0.25·len_ok + 0.25·alpha_ratio + 0.25·stopword_signal + 0.25·word_len_ok.

    Integer-count based so it is engine-portable and deterministic.
    """
    c = F.col(text) if isinstance(text, str) else text
    n_chars = F.length(c)
    n_toks = F.size(tokenize(c))
    n_alpha = n_chars - F.length(F.regexp_replace(c, r"[A-Za-z ]", ""))
    len_ok = F.when((n_toks >= 10) & (n_toks <= 100000), 1.0).otherwise(0.0)
    alpha_ratio = n_alpha / n_chars
    sw = stopword_ratio(c, "en")
    sw_ok = F.when(sw > 0.01, 1.0).otherwise(0.0)
    mean_wlen = n_chars / n_toks
    wlen_ok = F.when((mean_wlen >= 2) & (mean_wlen <= 12), 1.0).otherwise(0.0)
    return 0.25 * len_ok + 0.25 * alpha_ratio + 0.25 * sw_ok + 0.25 * wlen_ok


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    stopwords: list[str] | None = None,
) -> DataFrame:
    """The Gopher quality-filter rule battery (Rae et al. 2021, §A1.1;
    the filter set reused by MassiveText/Dolma/RefinedWeb) as per-rule
    boolean columns plus the combined ``keep``:

    - ``wc_ok``: word count in [min_words, max_words]
    - ``mwl_ok``: mean word length in [3, 10] characters
    - ``symbol_ok``: (# + ellipsis) to word ratio ≤ 0.1
    - ``bullet_ok``: ≤ 90% of lines start with a bullet
    - ``ellipsis_ok``: ≤ 30% of lines end with an ellipsis
    - ``alpha_ok``: ≥ 80% of words contain an alphabetic character
    - ``stopword_ok``: ≥ 2 distinct stopwords present (``stopwords``
      defaults to the paper's 8-word English list; pass a
      corpus-appropriate lexicon for other languages/domains)

    Every ratio test is rendered as INTEGER cross-multiplication
    (e.g. ``10·symbols ≤ words``), so the output is engine-exact —
    no float thresholds to diverge on. Pure ``pyspark.sql.functions``:
    scan → project, linear at 100 TB.
    """
    c = F.col(text_col)
    words = F.split(c, " ")
    n_words = F.size(words)
    # total word characters = length minus separators
    n_wchars = F.length(c) - (n_words - F.lit(1))
    n_hash = F.length(c) - F.length(F.regexp_replace(c, r"#", ""))
    # each non-overlapping match removes exactly 3 chars → exact int
    n_ell = ((F.length(c) - F.length(F.regexp_replace(c, r"\.\.\.", ""))) / 3).cast(
        "long"
    )
    lines = F.split(c, "\n")
    n_lines = F.size(lines)
    n_bullet = F.size(F.filter(lines, lambda x: x.rlike(r"^\s*[-*•]")))
    n_ell_lines = F.size(F.filter(lines, lambda x: x.rlike(r"(\.\.\.|…)\s*$")))
    n_alpha_words = F.size(F.filter(words, lambda x: x.rlike("[A-Za-z]")))
    sw = F.array(*[F.lit(w) for w in (stopwords or GOPHER_STOPWORDS)])
    n_sw = F.size(F.array_intersect(F.array_distinct(words), sw))

    wc_ok = (n_words >= min_words) & (n_words <= max_words)
    mwl_ok = (n_wchars >= 3 * n_words) & (n_wchars <= 10 * n_words)
    symbol_ok = 10 * (n_hash + n_ell) <= n_words
    bullet_ok = 10 * n_bullet <= 9 * n_lines
    ellipsis_ok = 10 * n_ell_lines <= 3 * n_lines
    alpha_ok = 5 * n_alpha_words >= 4 * n_words
    stopword_ok = n_sw >= 2
    keep = (
        wc_ok & mwl_ok & symbol_ok & bullet_ok & ellipsis_ok & alpha_ok & stopword_ok
    )
    return df.select(
        F.col(id_col),
        n_words.cast("bigint").alias("n_words"),
        wc_ok.alias("wc_ok"),
        mwl_ok.alias("mwl_ok"),
        symbol_ok.alias("symbol_ok"),
        bullet_ok.alias("bullet_ok"),
        ellipsis_ok.alias("ellipsis_ok"),
        alpha_ok.alias("alpha_ok"),
        stopword_ok.alias("stopword_ok"),
        keep.alias("keep"),
    )


def fingerprint_md5(text: Column | str) -> Column:
    """Exact-duplicate key: md5 of whitespace-normalized lowercase text."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(F.regexp_replace(F.lower(F.trim(c)), r"\s+", " "))


def fingerprint_rolling(text: Column | str, window: int = 3) -> Column:
    """Rolling-hash fingerprint: min h32 over word ``window``-grams — a
    1-element MinHash, cheap containment/near-dup prefilter."""
    toks = tokenize(text)
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(n - window, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, window)),
    )
    return F.array_min(F.transform(grams, lambda g: h32(g)))


def analyze_documents(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Bundle: attach all text-analysis columns in one projection."""
    c = F.col(text_col)
    return df.withColumns(
        {
            "n_tokens": token_count(c),
            "n_subwords": subword_count(c),
            "lang_guess": language_id(c),
            "quality": quality_score(c),
            "fp_md5": fingerprint_md5(c),
            "fp_rolling": fingerprint_rolling(c),
        }
    )


# ---------------------------------------------------------------------------
# Cleaning / redaction (portable regex: RE2 and Java regex agree on
# every construct used — \xNN classes, bounded quantifiers)
# ---------------------------------------------------------------------------

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9][0-9()\- ]{6,}[0-9]"
CONTROL_RE = r"[\x00-\x1F]"


def clean_text(text: Column | str) -> Column:
    """Normalize whitespace: control chars → space, runs collapsed,
    ends trimmed. The standard first pass of a corpus-cleaning
    pipeline; pure codegen'd string ops, linear at 100 TB."""
    c = F.col(text) if isinstance(text, str) else text
    return F.trim(F.regexp_replace(F.regexp_replace(c, CONTROL_RE, " "), r"\s+", " "))


def redact_pii(
    text: Column | str,
    email_token: str = "<EMAIL>",
    phone_token: str = "<PHONE>",
) -> Column:
    """Replace email addresses then phone-like digit runs with typed
    tokens. Regex-heuristic PII scrub (the standard pre-training
    hygiene pass); swap in an NER model via mapInPandas for entity
    classes regexes can't reach."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_replace(
        F.regexp_replace(c, EMAIL_RE, email_token), PHONE_RE, phone_token
    )


def dup_ngram_fraction(text: Column | str, n: int = 2) -> Column:
    """Fraction of repeated word n-grams within the document —
    the Gopher-style intra-document repetition signal (high values ⇒
    boilerplate/spam). 1 - |distinct grams| / |grams|; 0.0 for docs
    too short to have a gram. Pure array ops, map-only."""
    c = F.col(text) if isinstance(text, str) else text
    toks = tokenize(c)
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    frac = 1.0 - F.size(F.array_distinct(grams)) / F.size(grams)
    return F.when(F.size(toks) < n, F.lit(0.0)).otherwise(frac)


def contaminated_ids(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Decontamination probe: corpus doc ids sharing ANY word k-gram
    with the benchmark set (the standard n-gram-overlap test-set leak
    check, k=8 following common practice).

    Scale shape: benchmark gram sets are tiny (test suites, not
    corpora) → broadcast semi-join against the corpus gram stream;
    the corpus side is a map-only shingle scan, no corpus shuffle.

    The join key is the 64-bit xxhash of the gram's k tokens, hashed
    token-wise — the corpus side never materializes gram STRINGS
    (profiled: slice+concat_ws string building was 0.6 s of the 0.9 s
    sf0.1 run), and the broadcast ships longs instead of k-word
    strings. Both sides hash identically, so any shared gram still
    matches; a hash collision can only ADD a contaminated id, with
    probability |corpus grams|·|bench grams|/2⁶⁴ (~1e-11 at sf0.1) —
    the conservative direction for a leak check, and the fixtures are
    deterministic so oracle parity is pinned by the sweep.
    """
    # no .distinct() on the build side: the broadcast hash relation of
    # a LEFT SEMI join dedups keys inherently, and the distinct was a
    # full (tiny but 32-partition) extra shuffle stage of job overhead
    bench_hashes = _gram_hashes(benchmark, text_col, id_col, k).select("gh")
    corpus_hashes = _gram_hashes(corpus, text_col, id_col, k)
    return (
        corpus_hashes.join(F.broadcast(bench_hashes), on="gh", how="left_semi")
        .select(id_col)
        .distinct()
    )


def _gram_hashes(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """(id, gh) rows: xxhash64 over each word k-gram's tokens, hashed
    token-wise so no gram string is ever built. Fixed SQL text (not
    Column lambdas) to hit the codegen cache — same rationale as
    ``fuzzy_dedup.shingle``."""
    tok_col = "__ll_toks"
    d = df.withColumn(tok_col, tokenize(F.col(text_col))).filter(
        F.size(tok_col) >= k
    )
    args = ", ".join(f"{tok_col}[i + {j}]" for j in range(k))
    hashes = F.expr(
        f"transform(sequence(0, size({tok_col}) - {k}), i -> xxhash64({args}))"
    )
    return d.select(F.col(id_col), F.explode(hashes).alias("gh"))


def dataset_split(
    df: DataFrame,
    id_col: str = "doc_id",
    val_pct: int = 5,
    test_pct: int = 5,
) -> DataFrame:
    """Deterministic train/val/test assignment by portable hash of the
    id: reproducible across engines/runs/partitionings, join-safe, and
    stable under corpus growth (a doc's split never changes when other
    docs arrive — the property random splits lack)."""
    pct = h32(F.col(id_col).cast("string")) % 100
    split = (
        F.when(pct < test_pct, F.lit("test"))
        .when(pct < test_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return df.withColumn("split", split)


def tfidf_topk(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Top-k characteristic terms per doc by smoothed TF-IDF
    (idf = ln((N+1)/(df+1))). The score is rounded to 9dp and carried
    as DECIMAL(18,9) for ORDERING ONLY — it is NOT emitted. The r10
    numeric-output policy bans both DecimalType in hashed output (the
    r9 driver-red class: the driver's hasher canonicalizes Decimal
    differently from both local engines) and ln-derived values in
    hashed output (the residual round-grid/libm class); dropping the
    score leaves rank as the only ln-DERIVED hashed value, which
    reduces — not eliminates — the cross-libm exposure (a flip needs
    two terms' 9dp grids to cross, not one value to move). The exact
    (tf, df) integers are emitted so a consumer recomputes any idf
    variant (including this one) without re-aggregating; N is one
    countDistinct away. Ties break on the term itself.

    Plan: two shuffles (term counts per doc, doc-frequency per term)
    + a window over per-doc terms. The doc-count scalar joins as a
    1-row broadcast — no driver collect."""
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("tok")
    )
    # kept (off re-reads documents); cold A/B sf0.1 local[4]: on 0.58 s, off 0.49 s
    tf = toks.groupBy(id_col, "tok").agg(
        F.count(F.lit(1)).alias("tf")
    ).transform(tracked_persist)
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(F.countDistinct(F.col(id_col)).alias("__n"))
    scored = (
        tf.join(dfreq, on="tok")
        .join(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * F.log((F.col("__n") + 1) / (F.col("df") + 1)), 9
            ).cast("decimal(18,9)"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("tok")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "tok", "tf", "df", "rank")
    )


def char_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document character-distribution Shannon entropy
    H = −Σ_c p_c·ln(p_c) — the symbol-level gibberish signal the
    word-level filters miss: base64/hex blobs and keyboard mash score
    HIGH (near-uniform symbols), single-character spam and repeated
    padding score LOW; natural language sits in a narrow band, so
    both tails are drop candidates. Complements ``dup_ngram_fraction``
    (word-level repetition) and ``quality_score``.

    Plan: in-row character expansion (×len per doc, linear) → ONE
    groupBy (id, char) whose map-side partial aggregation collapses
    the char-grained rows to ≈|alphabet| rows per doc before the
    exchange — the shuffle carries per-doc character COUNTS, never
    characters — then a per-doc sum. Determinism: each character's
    −p·ln(p) contribution is per-row IEEE arithmetic ROUNDED to 9dp
    and summed as DECIMAL(28,9) (order-independent, engine-exact).
    Docs with empty text have no character rows and are absent from
    the output (same both engines). Returns (id, n_chars, entropy).
    """
    chars = df.filter(F.length(text_col) >= 1).select(
        F.col(id_col),
        # split(text, '') is the O(n) char expansion — a
        # substring(text, i, 1) position transform costs O(n²) per doc
        # (each call seeks from the UTF8 string's start; measured 2.7 s
        # vs 1.5 s at sf0.1). The length guard is load-bearing: for an
        # EMPTY doc split('', '') yields [''] — one phantom row the
        # oracle's empty range would not produce (and the substring
        # form was worse: Spark's sequence(1, 0) DESCENDS).
        F.explode(F.split(text_col, "")).alias("ch"),
    )
    from pyspark.sql import Window as W

    counts = chars.groupBy(id_col, "ch").agg(F.count(F.lit(1)).alias("cnt"))
    # doc total as a window sum — the counts relation is read ONCE
    # (an aggregate-then-join-back would re-run the char expansion
    # twice or need a persist; same lesson as bm25_topk's df count)
    counts = counts.withColumn(
        "n_chars", F.sum("cnt").over(W.partitionBy(id_col))
    )
    p = F.col("cnt") / F.col("n_chars")
    contrib = F.round(-p * F.log(p), 9).cast("decimal(28,9)")
    return (
        counts.groupBy(id_col, "n_chars")
        .agg(F.sum(contrib).cast("double").alias("entropy"))
        .select(
            F.col(id_col),
            F.col("n_chars").cast("bigint").alias("n_chars"),
            "entropy",
        )
    )


def dsir_log_weights(
    df: DataFrame,
    target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    dims: int = 64,
) -> DataFrame:
    """Data Selection with Importance Resampling (Xie et al., NeurIPS
    2023): per-document importance log-weights for selecting raw data
    that looks like a TARGET distribution — THE standard cheap
    domain-matching selector for LLM pretraining mixtures.

    Features are hashed unigram+bigram counts (portable ``h32`` %
    ``dims``, the paper's hashed n-gram generative model). Two
    Laplace-smoothed multinomials are fit in ONE aggregation —
    λ_target from rows matching ``target``, λ_raw from the whole
    corpus — and each doc scores
    ``Σ_f n_f(doc) · ln(λ_target[f] / λ_raw[f])``: the importance
    log-ratio under the bag-of-hashed-ngrams model. Resample or
    top-k the weights to build the selected corpus.

    Scale shape: tokenize → in-row bigram expansion (token array
    materialized BEFORE the explode — the generator trap) → one
    (doc, bucket) count shuffle; the feature distributions are a
    ``dims``-row aggregate carrying BOTH multinomials (target counts
    via a conditional sum, so the target pass is free) that joins
    back as a broadcast. The feature relation is read twice
    (distribution fit + scoring join) — persisted via the library
    cache contract. Everything else is map-side; linear at corpus
    scale with a fixed-size (``dims``) model, exactly why DSIR wins
    over classifier-based selection at 100 TB.

    Determinism: per-(doc,bucket) contributions are per-row IEEE
    ``count·ln(ratio-of-exact-integer-fractions)`` ROUNDED to 6dp and
    summed as DECIMAL(18,6) — order-independent and engine-exact
    (the BM25 convention). Returns (id, dsir_weight).
    """
    base = df.select(
        F.col(id_col),
        target.alias("__is_t"),
        tokenize(F.col(text_col)).alias("__t"),
    )
    bigrams = F.expr(
        "transform(sequence(1, size(__t) - 1),"
        " i -> concat(element_at(__t, i), ' ', element_at(__t, i + 1)))"
    )
    grams_arr = (
        F.when(F.size("__t") >= 2, F.concat(F.col("__t"), bigrams))
        .otherwise(F.col("__t"))
    )
    g = base.select(F.col(id_col), "__is_t", grams_arr.alias("__g"))
    # kept (off re-reads documents); cold A/B sf0.1 local[4]: on 2.55 s, off 2.41 s
    feats = (
        g.select(F.col(id_col), "__is_t", F.explode("__g").alias("gram"))
        .withColumn("bucket", (h32(F.col("gram")) % dims).cast("int"))
        .groupBy(id_col, "__is_t", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .transform(tracked_persist)
    )
    # kept (off reruns the bucket aggregation per read); cold A/B sf0.1 local[4]: on 2.66 s, off 2.69 s
    dist = tracked_persist(
        feats.groupBy("bucket").agg(
            F.sum("cnt").alias("cq"),
            F.coalesce(
                F.sum(F.when(F.col("__is_t"), F.col("cnt"))), F.lit(0)
            ).alias("tp"),
        )
    )
    tot = dist.agg(
        F.sum("cq").alias("cq_tot"), F.sum("tp").alias("tp_tot")
    )
    lr = F.log(
        ((F.col("tp") + 1) / (F.col("tp_tot") + dims))
        / ((F.col("cq") + 1) / (F.col("cq_tot") + dims))
    )
    return (
        feats.join(F.broadcast(dist.crossJoin(tot)), "bucket")
        .withColumn(
            "__c", F.round(F.col("cnt") * lr, 6).cast("decimal(18,6)")
        )
        .groupBy(id_col)
        .agg(F.sum("__c").cast("double").alias("dsir_weight"))
    )


def hashed_bow(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dims: int = 64,
) -> DataFrame:
    """Feature-hashed bag-of-words: (id, dim, weight) with
    weight = count of tokens hashing (portable h32) into the dim
    bucket. The text→vector bridge: exact integer weights, engine-
    portable, feeds the ANN/similarity operators after a pivot to
    array form. Linear: one shuffle keyed by (id, dim)."""
    toks = df.select(
        F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("tok")
    )
    return (
        toks.withColumn("dim", (h32(F.col("tok")) % dims).cast("int"))
        .groupBy(id_col, "dim")
        .agg(F.count(F.lit(1)).alias("weight"))
    )


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    max_distance: int = 2,
    k: int = 3,
) -> DataFrame:
    """Entity-resolution fuzzy join: pair rows whose strings are
    within ``max_distance`` edits, without the O(n·m) cross join.

    Blocking: strings sharing >= 1 character k-gram become candidates
    (two strings within d edits share a k-gram whenever
    min_len >= k + d·k, and in practice far below that); candidates
    are verified with exact Levenshtein. Same
    block-then-verify shape as MinHash-LSH — candidates ∝ shared
    grams, never all pairs. Both sides keep all their columns.

    Scale: gram explosion is ×(len-k+1) per row; the gram equi-join
    shuffles gram rows. Frequent grams (e.g. 'the') are the skew
    risk — block on rarer features (sorted-neighborhood keys or TF-IDF-
    weighted grams) when matching long free text rather than names.
    """
    # grams via SQL expr (substring's start index isn't bindable to a
    # lambda variable through the Python DSL)
    lg = left.withColumn(
        "__g",
        F.explode(
            F.expr(
                f"transform(sequence(1, greatest(1, length({left_col}) - {k - 1})), "
                f"i -> substring({left_col}, i, {k}))"
            )
        ),
    ).dropDuplicates([*left.columns, "__g"])
    rg = right.withColumn(
        "__g",
        F.explode(
            F.expr(
                f"transform(sequence(1, greatest(1, length({right_col}) - {k - 1})), "
                f"i -> substring({right_col}, i, {k}))"
            )
        ),
    ).dropDuplicates([*right.columns, "__g"])
    cand = lg.join(rg, on="__g").drop("__g").distinct()
    return cand.withColumn(
        "edit_distance", F.levenshtein(F.col(left_col), F.col(right_col))
    ).filter(F.col("edit_distance") <= max_distance)


def select_top_quality(
    df: DataFrame,
    p: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    approx: bool = False,
) -> DataFrame:
    """Corpus curation: keep documents in the top (1-p) quality band —
    ``quality_score >= the p-quantile`` of the corpus's scores.
    Returns (id, quality) for the keepers.

    Shape: the threshold is a single scalar aggregate broadcast back
    over the corpus (one aggregation pass + one map-side filter — no
    global sort, the same 1-row-broadcast shape as a HAVING-against-
    aggregate query). Exact ``percentile`` keeps the SQL oracle
    (DuckDB ``quantile_cont`` shares interpolation semantics — see
    q_quantile_summary); its aggregation buffer holds the score
    column, so at 100 TB pass ``approx=True`` for the fixed-size
    t-digest sketch (±ε on the cut line only).
    """
    scored = df.select(
        F.col(id_col), quality_score(F.col(text_col)).alias("quality")
    )
    fn = "approx_percentile" if approx else "percentile"
    thr = scored.agg(F.expr(f"{fn}(quality, {p!r})").alias("__thr"))
    return (
        scored.join(F.broadcast(thr))
        .filter(F.col("quality") >= F.col("__thr"))
        .drop("__thr")
    )


def quota_sample(
    df: DataFrame,
    group_col: str,
    n_per_group: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group quota sampling: keep at most ``n_per_group`` rows per
    group, chosen in deterministic hash order of the id — the
    domain/language-balancing step of corpus prep (cap any one source's
    share of the training mix).

    One shuffle on the group key; hash order (h32, md5-based) makes the
    selection reproducible across engines and runs, unlike rand()-based
    sampling. Skewed groups: the per-group rank is a streaming window
    (no per-group materialization), so a giant domain costs its row
    count, not memory.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        h32(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("__qrk", F.row_number().over(w))
        .filter(F.col("__qrk") <= n_per_group)
        .drop("__qrk")
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    id_col: str = "doc_id",
    seed: str = "ws",
) -> DataFrame:
    """Deterministic Bernoulli sampling with per-row keep probability
    ``weight_col`` (in [0,1] — e.g. a quality score): keep the row iff
    ``h32(seed:id) / 2^32 < weight``. Quality-weighted corpus
    downsampling that is reproducible across engines and runs
    (rand()-based sampling is neither), map-only, no shuffle.
    """
    from lightlane_spark.functions.hashing import H32_SPACE, h32

    u = h32(F.concat(F.lit(seed), F.lit(":"), F.col(id_col).cast("string")))
    return df.filter(u / F.lit(float(H32_SPACE)) < F.col(weight_col))


def pack_sequences(
    df: DataFrame,
    n_tokens_col: str,
    window_tokens: int,
    buckets: int = 32,
    id_col: str = "doc_id",
) -> DataFrame:
    """GPT-style sequence packing: concatenate documents (in id order)
    into a token stream and cut it every ``window_tokens`` tokens;
    documents straddle sequence boundaries. Returns one row per
    (document × sequence) intersection:
    (bucket, seq_id, doc_id, doc_start, doc_end) — token offsets are
    doc-relative, [doc_start, doc_end) landing in that sequence.

    Scale shape: a GLOBAL stream cumsum would serialize on one
    partition, so the stream is sharded into ``buckets`` independent
    streams by ``id % buckets`` — the cumulative sum is a per-bucket
    window (one shuffle), and every bucket packs in parallel. Sequence
    ids are bucket-local; (bucket, seq_id) is the global key.
    """
    from pyspark.sql import Window

    b = (F.col(id_col) % buckets).cast("int")
    w = Window.partitionBy("__bkt").orderBy(F.col(id_col)).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    d = (
        df.select(F.col(id_col), F.col(n_tokens_col).cast("long").alias("__n"))
        .filter(F.col("__n") > 0)
        .withColumn("__bkt", b)
        .withColumn("__cum_end", F.sum("__n").over(w))
        .withColumn("__cum_before", F.col("__cum_end") - F.col("__n"))
    )
    first_seq = F.floor(F.col("__cum_before") / window_tokens)
    last_seq = F.floor((F.col("__cum_end") - 1) / window_tokens)
    out = d.withColumn("seq_id", F.explode(F.sequence(first_seq, last_seq)))
    seq_lo = F.col("seq_id") * window_tokens
    seq_hi = seq_lo + window_tokens
    return out.select(
        F.col("__bkt").alias("bucket"),
        "seq_id",
        id_col,
        (F.greatest(seq_lo, F.col("__cum_before")) - F.col("__cum_before")).alias("doc_start"),
        (F.least(seq_hi, F.col("__cum_end")) - F.col("__cum_before")).alias("doc_end"),
    )


def span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span: int = 16,
) -> DataFrame:
    """CCNet/RefinedWeb-style span-level exact dedup: split every
    document into non-overlapping ``span``-token windows, keep only the
    corpus-wide FIRST occurrence of each distinct span (first = lowest
    (id, span_idx)), and reassemble each document from its surviving
    spans. Boilerplate paragraphs repeated across pages vanish while
    the unique remainder of each page survives — finer-grained than
    whole-document dedup. On corpora with natural paragraph breaks,
    split on the break instead of fixed windows; the rest of the plan
    is identical.

    Returns (id, text_deduped, n_spans, n_spans_kept); documents whose
    every span was seen earlier come back with ``text_deduped = ''``
    (count filterable downstream).

    Scale shape: two linear shuffles — one keyed by the span's md5
    (the first-occurrence window; 128-bit key keeps shuffle rows
    narrow and collision-free, never the span text itself at scale),
    one keyed by id (reassembly). No pair expansion anywhere; skew on
    a mega-duplicated span is bounded because a window min only
    streams the partition, it never materializes pairs.
    """
    from pyspark.sql import Window

    # null-text docs are absent from the output (no token array → no
    # spans → no totals row), matching the exploded-relation contract:
    # without this filter the totals side would emit a spurious row
    # with n_spans = ceil(size(NULL)/span) = ceil(-1/span) = 0.
    toks = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("__t")
    ).filter(F.col("__t").isNotNull())
    spans = toks.select(
        id_col,
        F.posexplode(
            F.expr(
                f"transform(sequence(0, CAST(ceil(size(__t) / {span}.0) AS INT) - 1), "
                f"i -> array_join(slice(__t, i * {span} + 1, {span}), ' '))"
            )
        ).alias("span_idx", "span"),
    )
    w = Window.partitionBy(F.md5(F.col("span"))).orderBy(id_col, "span_idx")
    kept = (
        spans.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    reassembled = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("span_idx", "span"))),
                lambda s: s["span"],
            ),
            " ",
        ).alias("text_deduped"),
        F.count(F.lit(1)).alias("n_spans_kept"),
    )
    # span count is in-row arithmetic on the token array — no second
    # explode + groupBy pass over the corpus (r7 plan audit): the
    # totals side only projects (id, ceil(|tokens|/span))
    totals = toks.select(
        F.col(id_col),
        F.ceil(F.size("__t") / F.lit(float(span))).cast("bigint").alias(
            "n_spans"
        ),
    )
    return totals.join(reassembled, on=id_col, how="left").select(
        id_col,
        F.coalesce("text_deduped", F.lit("")).alias("text_deduped"),
        "n_spans",
        F.coalesce("n_spans_kept", F.lit(0)).cast("bigint").alias("n_spans_kept"),
    )


def lm_doc_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "lm_score",
) -> DataFrame:
    """CCNet-style n-gram language-model quality score: train a bigram
    LM on the corpus ITSELF (one aggregation pass), then score every
    document by its average surprisal — unusually-worded documents
    (gibberish, boilerplate soup, wrong-language fragments) score high
    and can be dropped by a top-p cut. This is the self-supervised
    stand-in for CCNet's Wikipedia-trained KenLM: no external model
    artifact, same filtering signal shape.

    score(d) = avg over bigrams (w1,w2) of d of
               -ln( (c(w1,w2) + 1) / (c(w1) + V) )      [add-one]
    with corpus counts c and vocabulary size V.

    Scale shape: two count aggregations (unigram, bigram — both
    map-side combined, shuffle rows bounded by vocab/bigram
    cardinality, not corpus size), one scalar broadcast (V), then the
    per-doc bigrams join the count relations keyed by bigram/w1 and
    re-aggregate by id. The bigram relation LOOKS doubly-consumed
    (count build + join probe) but both sides hash-partition by the
    bigram key, so runtime shares one exchange (ReusedExchange); an
    r8 experiment that replaced the groupBy+join-back with a count
    window measured 3.8 s vs 1.0 s idle — the window's sort over the
    corpus-cardinality bigram rows costs far more than the reused
    hash aggregate. Every join key is Zipf-skewed but AQE's skew-join
    split handles the hot tokens.

    Cross-engine determinism: each bigram's surprisal is rounded to
    9dp and summed as DECIMAL (order-independent exact addition), so
    the DuckDB oracle reproduces the value bit-for-bit; the final
    average is rounded to 6dp. Documents with fewer than two tokens
    have no bigrams and drop out (same in the oracle).
    """
    toks = df.select(
        F.col(id_col),
        F.filter(F.split(F.col(text_col), " "), lambda x: x != "").alias("__t"),
    )
    uni = (
        toks.select(F.explode("__t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cu"))
    )
    vocab = uni.agg(F.count(F.lit(1)).alias("__v"))
    bigrams = toks.select(
        F.col(id_col),
        F.explode(
            F.expr(
                "transform(slice(__t, 1, greatest(size(__t) - 1, 0)), "
                "(w, i) -> concat(w, ' ', element_at(__t, i + 2)))"
            )
        ).alias("bigram"),
    )
    bgc = bigrams.groupBy("bigram").agg(F.count(F.lit(1)).alias("cb"))
    scored = (
        bigrams.join(bgc, "bigram")
        .withColumn("__w1", F.split("bigram", " ")[0])
        .join(uni, F.col("__w1") == F.col("w"))
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "__term",
            F.round(
                -F.log((F.col("cb") + F.lit(1.0)) / (F.col("cu") + F.col("__v"))), 9
            ).cast("decimal(18,9)"),
        )
    )
    # exact decimal sum → double BEFORE dividing: decimal division
    # precision/scale rules are engine-specific, IEEE double division
    # is not.
    return scored.groupBy(id_col).agg(
        F.round(F.sum("__term").cast("double") / F.count(F.lit(1)), 6).alias(out_col)
    )


def cdc_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    mask_bits: int = 5,
) -> DataFrame:
    """Content-defined chunking: split documents at TOKEN positions
    whose portable hash ends in ``mask_bits`` zero bits (average chunk
    ≈ 2^mask_bits tokens). Unlike fixed windows (``chunk_text_udtf``),
    boundaries depend only on local content — insert a paragraph at
    the top of a document and every later chunk is UNCHANGED, so
    chunk-level dedup/caching still hits. This is the rsync/LBFS/CDC
    trick applied to token streams; the standard chunking for
    dedup-friendly training-data pipelines.

    Returns (id, chunk_idx, chunk_text, n_tokens).

    Shape: posexplode → boundary flag (pure h32 arithmetic) →
    cumulative sum over a per-doc window (one shuffle keyed by id) →
    groupBy (id, chunk) reassembly in position order (second shuffle
    co-partitioned on id, exchange-reused). No Python anywhere;
    deterministic md5 boundaries give an exact SQL oracle.
    """
    from pyspark.sql import Window

    from lightlane_spark.functions.hashing import h32

    toks = df.select(
        F.col(id_col),
        F.posexplode(F.filter(F.split(F.col(text_col), " "), lambda x: x != "")).alias(
            "pos", "tok"
        ),
    )
    # boundary AFTER a token whose hash has mask_bits low zero bits:
    # chunk index = number of boundary tokens strictly before this one
    flagged = toks.withColumn(
        "__b", (h32(F.col("tok")) % F.lit(1 << mask_bits) == 0).cast("int")
    )
    w = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = flagged.withColumn(
        "chunk_idx", F.coalesce(F.sum("__b").over(w), F.lit(0)).cast("int")
    )
    return chunked.groupBy(id_col, "chunk_idx").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("chunk_text"),
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
    )


def temperature_mix_sample(
    df: DataFrame,
    group_col: str,
    budget: int,
    temperature: float = 0.5,
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-scaled source mixing: sample ~``budget`` rows total
    with per-group quotas ∝ n_g^temperature — the multinomial
    up/down-sampling used to balance multilingual / multi-source
    training mixes (τ=1 keeps natural proportions, τ→0 approaches
    uniform across groups; τ≈0.3-0.7 is the usual corpus-balancing
    band). Quotas are floor(budget · n_g^τ / Σ n^τ), so the output is
    ≤ budget with the remainder (< |groups| rows) unallocated rather
    than nondeterministically assigned.

    Shape: one aggregation for group counts (tiny result, broadcast
    back), then the same deterministic hash-order window cut as
    ``quota_sample`` — rand()-free, so the mix is reproducible across
    engines and runs and STABLE under reruns (a property random
    multinomial draws lack). Skew-safe: per-group rank is a streaming
    window.

    Cross-engine note: pow(n, τ) for τ=0.5 is sqrt (correctly rounded
    IEEE everywhere); arbitrary τ uses pow, identical for the double
    inputs at play. The quota itself is floored to an integer, which
    absorbs any last-ulp pow divergence except exactly at integer
    boundaries — oracle comparisons should keep τ at 0.5/1.0/2.0
    (exact) as the driver query does.
    """
    from pyspark.sql import Window

    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__ng"))
    tau = float(temperature)
    weight = F.pow(F.col("__ng").cast("double"), F.lit(tau))
    weighted = counts.withColumn("__wg", weight)
    total = weighted.agg(F.sum("__wg").alias("__wt"))
    quotas = weighted.crossJoin(F.broadcast(total)).select(
        group_col,
        F.floor(F.lit(float(budget)) * F.col("__wg") / F.col("__wt"))
        .cast("int")
        .alias("__quota"),
    )
    w = Window.partitionBy(group_col).orderBy(
        h32(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.join(F.broadcast(quotas), on=group_col)
        .withColumn("__qrk", F.row_number().over(w))
        .filter(F.col("__qrk") <= F.col("__quota"))
        .drop("__qrk", "__quota")
    )


def weighted_topk_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    seed: str = "es",
) -> DataFrame:
    """FIXED-SIZE weighted sampling without replacement (Efraimidis &
    Spirakis 2006): each row gets key ``ln(u) / w`` with u a
    deterministic uniform from the portable hash; the k LARGEST keys
    are an exact weighted sample without replacement. The complement
    to ``weighted_sample`` (Bernoulli — output size varies) when the
    budget is exact: "take exactly k docs, quality-weighted".

    Deterministic end to end (hash-derived u, IEEE ln/division, id
    tiebreak), so the selection is reproducible across engines and
    runs AND one-pass distributed: the top-k cut is a global
    sort-limit — at real scale Spark's TakeOrderedAndProject keeps
    only k rows per partition, no full sort materialization. Weights
    must be > 0; rows with non-positive weights are excluded (a
    zero-weight row can never be sampled).
    """
    from lightlane_spark.functions.hashing import H32_SPACE, h32

    u01 = (
        h32(F.concat(F.lit(seed), F.lit(":"), F.col(id_col).cast("string")))
        + F.lit(1.0)
    ) / F.lit(float(H32_SPACE) + 1.0)  # in (0, 1]: ln defined, keys finite
    key = F.log(u01) / F.col(weight_col)
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("__es_key", key)
        .orderBy(F.col("__es_key").desc(), F.col(id_col))
        .limit(k)
        .drop("__es_key")
    )


def bpe_pair_stats(
    df: DataFrame,
    text_col: str = "text",
    top_k: int = 50,
) -> DataFrame:
    """The counting step of one BPE merge round: adjacent character
    pairs weighted by word frequency, descending — the top row IS the
    next merge a byte-pair-encoding trainer would apply.

    Scale shape: tokenizer training never iterates the corpus — the
    corpus collapses to the VOCABULARY first (one word-count shuffle,
    output rows = |vocab|, millions not billions), and every later
    stage works on that compressed relation: in-row pair expansion
    (≤ len(word) pairs per vocab row, no shuffle), one pair-count
    aggregation, then a TakeOrdered top-k cut (k rows per partition,
    no global sort materialization). Real BPE runs this repeatedly
    with re-segmentation; the per-round plan is exactly this.
    """
    words = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .where(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
        "freq",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(top_k)
    )


def bm25_topk(
    df: DataFrame,
    query_terms: Sequence[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 document ranking for a literal query — the lexical half of
    every retrieval stack (Robertson/Spärck Jones weighting, Lucene
    idf smoothing ln((N−df+0.5)/(df+0.5)+1)).

    Scale shape: the token relation filters to the QUERY TERMS before
    any aggregation, so per-query work is proportional to the
    postings of those terms, not the corpus vocabulary; doc length
    and the N/avgdl scalars come from ONE corpus aggregation (fused
    countDistinct+sum, not two scans) and join as a 1-row broadcast.
    Document frequency is a window count over the postings relation —
    the postings are read ONCE (the former groupBy + broadcast-join-
    back form read them twice, and the persist that papered over the
    re-read lost its within-session A/B: best 0.77 s persisted vs
    0.63 s single-pass at sf0.1, tools/ab_persist.py r7).

    Determinism: every per-term score is per-row IEEE arithmetic
    (identical in DuckDB) ROUNDED to 6dp then cast DECIMAL(18,6), so
    the per-doc SUM is exact and order-independent — a raw double sum
    would be summation-order-dependent and could not hash-match
    cross-engine. The EMITTED score is that exact decimal sum cast to
    DOUBLE (the ``_dec_sum`` contract, 9 driver rounds green): the r9
    driver proved its hasher diverges on Decimal values themselves,
    so DecimalType may order but never leave a query. Ranking (and
    the top-k cut) runs on the double + doc-id tiebreak, identically
    on the oracle side. Ranking ties break on the doc id.

    Cache lifecycle: each call ``tracked_persist``s its query-term
    postings relation (a new DataFrame per call, so repeated calls in
    a long session each pin a fresh cache entry). Callers looping
    over many invocations should run under
    ``lightlane_spark.cache.cache_scope`` or call ``unpersist_all``.
    """
    terms = [str(t) for t in query_terms]
    # token array materialized BEFORE size()/explode() reference it:
    # inlined, the generator-adjacent size(tokenize(..)) re-evaluates
    # the split per exploded OUTPUT row (the boilerplate_ngrams trap)
    base = df.select(F.col(id_col), tokenize(F.col(text_col)).alias("__t"))
    toks = base.select(
        F.col(id_col),
        F.size("__t").alias("__dl"),
        F.explode("__t").alias("tok"),
    )
    hits = toks.where(F.col("tok").isin(terms))
    # kept (off re-reads documents: column pruning makes the two consumers'
    # exchanges differ); cold A/B sf0.1 local[4]: on 0.49 s, off 0.24 s
    tf = hits.groupBy(id_col, "tok").agg(
        F.count(F.lit(1)).alias("tf"), F.first("__dl").alias("dl")
    ).transform(tracked_persist)
    # document frequency via groupBy + broadcast join, NOT
    # count().over(Window.partitionBy("tok")): the window form puts a
    # term's ENTIRE postings list in one task's sort buffer — a
    # common term at corpus scale is 1e8+ (doc, term) rows in a
    # single partition, the classic hot-key window stall — while the
    # groupBy combines map-side to ≤|terms| rows, trivially
    # broadcastable. Same exact integer either way. Measured on a
    # 30M-hot-postings corpus (local[32], steady-state): window form
    # 19-45 s vs this form 9-11 s; at 3M the window is still faster
    # (one in-RAM sort), so the fix targets the scale shape
    # (tests/test_scale_smoke.py::test_bm25_hot_token_at_6m_docs).
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    tfdf = tf.join(F.broadcast(dfreq), "tok")
    stats = df.agg(
        F.countDistinct(F.col(id_col)).alias("__n"),
        F.sum(F.size(tokenize(F.col(text_col)))).alias("__toks"),
    )
    idf = F.log(
        (F.col("__n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    avgdl = F.col("__toks").cast("double") / F.col("__n")
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / avgdl)
    term_score = F.round(idf * F.col("tf") * (k1 + 1.0) / denom, 6).cast(
        "decimal(18,6)"
    )
    # decimal sum (exact, order-independent) → DOUBLE emit: local
    # Spark and DuckDB agree on the decimal, but the DRIVER's hasher
    # canonicalizes Decimal differently (r9 verdict: 3/3 decimal-
    # output window queries red vs 0/47 green), so the cast happens
    # BEFORE ordering and both engines rank the same double
    scored = (
        tfdf.join(F.broadcast(stats))
        .groupBy(id_col)
        .agg(
            F.sum(term_score)
            .cast("decimal(38,6)")
            .cast("double")
            .alias("score")
        )
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def rrf_fuse(
    rankings: Sequence[DataFrame],
    k: int = 20,
    rrf_k: int = 60,
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion of N rankings (Cormack et al. 2009):
    score(d) = Σ_r 1/(rrf_k + rank_r(d)) over the rankings that
    contain d — the standard way to combine lexical (BM25) and vector
    retrieval without score calibration.

    Each ranking is (id_col, rank_col) with ranks from 1. Union +
    one groupBy; per-ranking contributions are rounded to 12dp and
    summed as DECIMAL(24,12) so the fused sum is exact and
    order-independent (a raw double Σ would depend on aggregation
    order and could not hash-match cross-engine); the EMITTED score
    is that decimal cast to DOUBLE (no DecimalType leaves a query —
    the r9 driver hasher diverges on Decimal itself), and ordering
    runs on the double + id tiebreak, mirrored in the oracle. The
    contributions are rational (1/(k+rank)) — no transcendental
    enters the hash. Ties break on the id.
    """
    tagged = None
    for r in rankings:
        part = r.select(F.col(id_col), F.col(rank_col).alias("__rk"))
        tagged = part if tagged is None else tagged.unionByName(part)
    contrib = F.round(1.0 / (rrf_k + F.col("__rk")), 12).cast("decimal(24,12)")
    fused = (
        tagged.withColumn("__c", contrib)
        .groupBy(id_col)
        # decimal accumulate → double emit (the _dec_sum contract)
        .agg(
            F.sum("__c")
            .cast("decimal(38,12)")
            .cast("double")
            .alias("rrf_score")
        )
    )
    return fused.orderBy(F.col("rrf_score").desc(), F.col(id_col)).limit(k)


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_rounds: int = 3,
    min_word_len: int = 2,
) -> DataFrame:
    """EXACT distributed BPE training for ``n_rounds`` merges: per
    round, the globally most frequent adjacent token pair (ties break
    on (count desc, a, b)) is merged into every word with the
    standard greedy-LEFTMOST application ("aaa" + merge(a,a) → [aa,a]).
    Returns the merge table ``(round, a, b, cnt)`` — the trainer's
    actual artifact.

    Scale shape (the whole trick): the corpus collapses to the
    VOCABULARY first — one word-count shuffle, after which every
    round runs on |vocab| rows, not corpus rows. Each round is one
    pair-count aggregation over in-row expansions + a driver-side
    top-1 scalar (ONE row per round crosses to the driver, the same
    iterative-driver contract as the connected-components loop) + a
    map-only JVM fold (``F.aggregate``) applying the merge in-row.
    No Python UDFs; the greedy scan is whole-stage-codegen'd.

    Reference parity: tokenizer training is beyond the reference's
    ETL surface — included as part of the LLM-pipeline extension
    (SURVEY §2 north-star set).
    """
    words = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .where(F.length("w") >= min_word_len)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn(
            "toks",
            F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"),
        )
        # eager=False: the word-count shuffle below still runs while
        # the frame is built; only the block-storing stage waits for
        # round 1's pair-count action
        .localCheckpoint(eager=False)
    )
    spark = df.sparkSession
    merges = []
    for rnd in range(1, n_rounds + 1):
        pair_cnts = (
            words.select(
                F.explode(
                    F.expr(
                        "CASE WHEN size(toks) >= 2 THEN "
                        "transform(sequence(1, size(toks) - 1), "
                        "  i -> struct(element_at(toks, i) AS a, "
                        "              element_at(toks, i + 1) AS b)) "
                        "ELSE CAST(array() AS array<struct<a:string,b:string>>) END"
                    )
                ).alias("p"),
                "freq",
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("cnt"))
        )
        top = pair_cnts.orderBy(F.col("cnt").desc(), "a", "b").limit(1).collect()
        if not top:
            break
        a, b, cnt = top[0]["a"], top[0]["b"], top[0]["cnt"]
        merges.append((rnd, a, b, int(cnt)))
        la, lb = F.lit(a), F.lit(b)
        zero = F.struct(
            F.array().cast("array<string>").alias("out"),
            F.lit(None).cast("string").alias("prev"),
        )

        def step(acc, t):
            merged = F.struct(
                F.array_append(acc["out"], F.concat(la, lb)).alias("out"),
                F.lit(None).cast("string").alias("prev"),
            )
            shift = F.struct(
                F.array_append(acc["out"], acc["prev"]).alias("out"),
                t.alias("prev"),
            )
            start = F.struct(acc["out"].alias("out"), t.alias("prev"))
            return (
                F.when((acc["prev"] == la) & (t == lb), merged)
                .when(acc["prev"].isNull(), start)
                .otherwise(shift)
            )

        fin = lambda acc: F.when(  # noqa: E731
            acc["prev"].isNull(), acc["out"]
        ).otherwise(F.array_append(acc["out"], acc["prev"]))
        # Lazy checkpoint (r13, guide §1.2/§5): the NEXT round's
        # pair-count action materializes the fold as part of its own
        # scan stage — fused, one job per round instead of two — and
        # the FINAL round's fold (whose output no consumer reads: the
        # merge table is complete once its top-1 is collected) never
        # materializes or codegen-compiles at all. Lineage is still
        # truncated per round (localCheckpoint wraps the plan
        # immediately; eager only controls when blocks are stored).
        words = words.withColumn(
            "toks", F.aggregate("toks", zero, step, fin)
        ).localCheckpoint(eager=False)
    # single-Arrow-batch local relation (sources/localrel.py): the
    # classic createDataFrame(list) parallelizes even this 3-row
    # merge table over one slice per core — measured 0.4 s of the
    # query's 1.9 s steady wall at local[32] went to scheduling those
    # near-empty tasks on every downstream action
    from lightlane_spark.sources.localrel import local_df

    return local_df(
        spark, merges, "round: int, a: string, b: string, cnt: bigint"
    )


def bpe_train_oracle_sql(n_rounds: int = 3, min_word_len: int = 2) -> str:
    """DuckDB twin of :func:`bpe_train`: the greedy-leftmost fold is
    re-expressed relationally — candidate pair positions, runs of
    CONSECUTIVE candidates (pos − row_number collapses them to one
    run id), keep odd offsets within each run (a merge at p consumes
    p+1, invalidating the candidate there), rebuild positions. The
    fold and the run-parity formulation provably pick the same
    positions, so counts match bit-for-bit."""
    base = f"""
    w0 AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE length(w) >= {min_word_len}
        GROUP BY w
    ),
    t0p AS (
        SELECT w, freq, unnest(generate_series(1, length(w))) AS pos FROM w0
    ),
    t0 AS (
        SELECT w, freq, pos, substring(w, CAST(pos AS INTEGER), 1) AS tok FROM t0p
    )"""
    rounds_sql = [base]
    sel_parts = []
    for r in range(1, n_rounds + 1):
        p = r - 1
        rounds_sql.append(f"""
    adj{r} AS (
        SELECT w, freq, pos, tok,
               lead(tok) OVER (PARTITION BY w ORDER BY pos) AS nxt
        FROM t{p}
    ),
    cnt{r} AS (
        SELECT tok AS a, nxt AS b, SUM(freq) AS cnt
        FROM adj{r} WHERE nxt IS NOT NULL GROUP BY 1, 2
    ),
    top{r} AS (SELECT a, b, cnt FROM cnt{r} ORDER BY cnt DESC, a, b LIMIT 1),
    cand{r} AS (
        SELECT adj{r}.w, adj{r}.pos
        FROM adj{r}, top{r}
        WHERE adj{r}.tok = top{r}.a AND adj{r}.nxt = top{r}.b
    ),
    keep{r} AS (
        SELECT w, pos FROM (
            SELECT w, pos,
                   row_number() OVER (PARTITION BY w, run ORDER BY pos) AS rn
            FROM (
                SELECT w, pos,
                       pos - row_number() OVER (PARTITION BY w ORDER BY pos) AS run
                FROM cand{r}
            )
        ) WHERE rn % 2 = 1
    ),
    t{r} AS (
        SELECT w, freq,
               row_number() OVER (PARTITION BY w ORDER BY pos) AS pos, tok
        FROM (
            SELECT t.w, t.freq, t.pos,
                   CASE WHEN k1.pos IS NOT NULL
                        THEN t.tok || lead(t.tok) OVER (PARTITION BY t.w ORDER BY t.pos)
                        ELSE t.tok END AS tok,
                   k2.pos AS consumed
            FROM adj{r} t
            LEFT JOIN keep{r} k1 ON t.w = k1.w AND t.pos = k1.pos
            LEFT JOIN keep{r} k2 ON t.w = k2.w AND t.pos = k2.pos + 1
        ) WHERE consumed IS NULL
    )""")
        sel_parts.append(
            f"SELECT {r} AS round, a, b, CAST(cnt AS BIGINT) AS cnt FROM top{r}"
        )
    return "WITH " + ",".join(rounds_sql) + "\n" + "\nUNION ALL\n".join(sel_parts)


def compression_ratio(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    level: int = 6,
) -> DataFrame:
    """Per-document zlib compression ratio (compressed bytes / raw
    bytes) — the cheap model-free redundancy signal real curation
    stacks run next to the Gopher rules: templated/boilerplate/spam
    text compresses far below natural prose (measured here: natural
    corpus ≥ 0.38, degenerate repeated-token docs ≤ 0.05).

    Python is unavoidable (no JVM zlib expression), so this is an
    Arrow-batched ``mapInPandas`` — one pass, no shuffle, output one
    narrow row per doc; at 100 TB it pipelines with the scan exactly
    like the multimodal decoders. DEFLATE at a fixed level is
    deterministic for a given input, and downstream thresholds sit
    ≥2× away from both populations, so library-version drift in the
    last byte cannot flip a decision."""
    import pandas as pd  # noqa: F401 — typing only

    def gen(batches):
        import zlib

        for pdf in batches:
            txt = pdf[text_col].fillna("")
            raw = txt.str.encode("utf-8")
            n = raw.str.len()
            comp = raw.map(lambda b: len(zlib.compress(b, level)))
            out = pdf[[id_col]].copy()
            out["n_chars"] = txt.str.len().astype("int64")
            out["ratio"] = (comp / n.clip(lower=1)).where(n > 0, 1.0)
            yield out

    return df.select(id_col, text_col).mapInPandas(
        gen, schema=f"{id_col} bigint, n_chars bigint, ratio double"
    )


def bm25_multi(
    df: DataFrame,
    queries: dict[str, Sequence[str]],
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 scores for MANY queries in ONE postings pass — the batch
    evaluation shape (nightly relevance regression over a query set),
    where per-query ``bm25_topk`` calls would re-scan the corpus per
    query. Same formula/rounding contract as ``bm25_topk`` (Lucene
    idf, per-term scores rounded 6dp → DECIMAL sum, ties on doc id).

    Returns (qid, id_col, score DOUBLE, n_matched) for every doc
    matching ≥1 term of the query; ``n_matched`` (distinct query
    terms present) lets callers derive conjunctive relevance. The
    score accumulates as exact DECIMAL(38,6) and is cast to DOUBLE on
    emit — the same no-DecimalType-leaves-an-operator contract as
    ``bm25_topk``/``rrf_fuse`` (r9 verdict: the driver's hasher
    canonicalizes Decimal differently from both local engines), so a
    future query emitting this column directly cannot reintroduce
    the red class.

    Scale: tokens filter to the UNION of query vocabularies before
    any shuffle (postings-proportional); the (qid, term) table and
    the 1-row corpus stats are broadcast; the only wide exchange is
    the (doc, term) tf groupBy. Query count scales the tiny
    broadcast, never the corpus side.

    Cache lifecycle: each call ``tracked_persist``s the union-vocab
    postings (a fresh cache entry per invocation) — loop callers
    should use ``cache_scope``/``unpersist_all``."""
    vocab = sorted({str(t) for ts in queries.values() for t in ts})
    qrows = [(qid, str(t)) for qid, ts in queries.items() for t in ts]
    from lightlane_spark.sources.localrel import local_df

    qdf = local_df(df.sparkSession, qrows, "qid string, tok string")
    base = df.select(F.col(id_col), tokenize(F.col(text_col)).alias("__t"))
    toks = base.select(
        F.col(id_col),
        F.size("__t").alias("__dl"),
        F.explode("__t").alias("tok"),
    )
    hits = toks.where(F.col("tok").isin(vocab))
    # kept (off re-reads documents; plan test pins it); cold A/B sf0.1 local[4]: on 0.59 s, off 0.45 s
    tf = hits.groupBy(id_col, "tok").agg(
        F.count(F.lit(1)).alias("tf"), F.first("__dl").alias("dl")
    ).transform(tracked_persist)
    # df via groupBy + broadcast join (≤|union vocab| rows), not a
    # token-partitioned window — same hot-key rationale as bm25_topk:
    # one common term's postings must never serialize through a
    # single task's window buffer
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    tfdf = tf.join(F.broadcast(dfreq), "tok")
    stats = df.agg(
        F.countDistinct(F.col(id_col)).alias("__n"),
        F.sum(F.size(tokenize(F.col(text_col)))).alias("__toks"),
    )
    idf = F.log(
        (F.col("__n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    avgdl = F.col("__toks").cast("double") / F.col("__n")
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / avgdl)
    term_score = F.round(idf * F.col("tf") * (k1 + 1.0) / denom, 6).cast(
        "decimal(18,6)"
    )
    return (
        tfdf.join(F.broadcast(qdf), "tok")
        .join(F.broadcast(stats))
        .groupBy("qid", id_col)
        .agg(
            F.sum(term_score)
            .cast("decimal(38,6)")
            .cast("double")
            .alias("score"),
            F.count(F.lit(1)).alias("n_matched"),
        )
    )
