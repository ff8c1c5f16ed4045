#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Each rep writes the query's frame to the noop sink through
``tools/runs.py::run_reps``. Neither the noop sink nor ``count()``
decodes results to the driver, but ``count()`` lets Catalyst prune
every output column, so a projection query timed by it times a scan.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from lightlane_spark.session import get_spark  # noqa: E402
from tools.runs import run_reps  # noqa: E402

# A run counts as "idle" when the 1-min loadavg at START is at or
# under this (VERDICT r12 ask #3): the bench itself drives loadavg_end
# to ~32 on local[32], so only the start value says anything about
# foreign load. Every artifact is tagged "idle"; BENCH_IDLE.json can
# only ever be (over)written by an idle-tagged run, which removes the
# manual triplet-adjudication ritual from round close — a loaded-box
# number structurally cannot land in the idle artifact.
IDLE_LOADAVG_MAX = 1.0

# Hypervisor steal cap for the idle tag (r14 measurement fix, stated
# per the harness contract): this box is a guest on a shared host, and
# loadavg is blind to STEAL time — two r14 runs with loadavg_start
# ≤ 1.1 showed random untouched queries spiking 2-4x (rep_spread
# median 1.65+ vs ~1.2 on a quiet host) purely from host contention.
# /proc/stat's steal counter measures it directly; a run that lost
# more than this % of its CPU to the host is not an idle measurement,
# whatever loadavg said at start. Timing methodology is unchanged —
# this only ADDS a "steal_pct" key and tightens when the separate
# BENCH_IDLE artifact may be refreshed.
IDLE_STEAL_PCT_MAX = 2.0


def _cpu_jiffies(stat_path: str = "/proc/stat") -> tuple[int, int] | None:
    """(steal, total) jiffies from /proc/stat, or None off-Linux. The
    total sums the first eight fields (user .. steal): guest and
    guest_nice are already counted inside user and nice."""
    try:
        with open(stat_path) as fh:
            parts = fh.readline().split()
        vals = [int(x) for x in parts[1:]]
        steal = vals[7] if len(vals) > 7 else 0
        return steal, sum(vals[:8])
    except (OSError, ValueError, IndexError):
        return None


def refresh_bench_idle(detail: dict, idle_path: str) -> bool:
    """Write ``detail`` to ``idle_path`` iff it is tagged idle.
    Returns True on write, False on refusal."""
    if not detail.get("idle"):
        print(
            f"bench: NOT idle (loadavg_start={detail.get('loadavg_start')}"
            f", threshold {IDLE_LOADAVG_MAX}) — {idle_path} left untouched",
            file=sys.stderr,
        )
        return False
    with open(idle_path, "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
    print(f"bench: idle run — refreshed {idle_path}", file=sys.stderr)
    return True


# Headline set: one per operator family — scan+agg, range scan, window
# dedup, anti-join merge, text explode, json extract. Extended as
# operator coverage grows.
HEADLINE = [
    "pricing_summary",
    "range_split",
    "dedup_window",
    "anti_join_merge",
    "explode",
    "json_extract",
    # relational breadth
    "join_3way",
    "topk_per_group",
    "sessionize",
    # temporal operators
    "asof_join",
    "range_join",
    "time_rollup",
    # M5 LLM-pipeline operators
    "minhash_lsh_pairs",
    "neardup_clusters",
    "simhash_signatures",
    "ngram_jaccard",
    # similarity headline = the scale paths (bruteforce stays in
    # queries() as the oracle anchor; recall contracts pin LSH/IVF)
    "ann_topk_lsh",
    "ann_topk_ivf",
    "pq_topk",
    "embedding_neardup",
    "text_quality",
    "dedup_exact",
    # corpus-prep breadth
    "corpus_prep",
    "chunk_documents",
    "decontaminate",
    "variant_extract",
    "window_range_frame",
    "tfidf_topk",
    "bow_similarity",
    # round-4 additions
    "gopher_rules",
    "group_zscore",
    "resample_fill",
    "hll_rollup",
    # scale infrastructure
    "zorder_key",
    # round-4 session-2 additions: sketches, LM scoring, semantic
    # dedup, corpus fingerprints, manifest pruning, TPC-H plan shapes
    "cms_heavy_hitters",
    "bloom_prefilter",
    "ngram_lm_score",
    "semantic_dedup",
    "corpus_overlap",
    "pruned_scan",
    "local_supplier_volume",
    "disjunctive_join_filter",
    "waiting_suppliers",
    "curation_pipeline",
    "minhash_join",
    "retention_cohorts",
    "cdc_chunks",
    "cms_windowed",
    "temperature_mix",
    "join_size_estimate",
    "incremental_rollup",
    "rollup_cdc_apply",
    "weighted_topk",
    "session_paths",
    "leakage_safe_split",
    "compacted_load",
    "trend_detection",
    # round-4 session-3 additions: TPC-H plan shapes, exact
    # set-similarity join, sweep-line concurrency, robust stats
    "volume_shipping",
    "large_volume_customers",
    "frequent_pairs",
    "set_similarity_join",
    "containment_join",
    "concurrency_curve",
    "mad_outliers",
    "rolling_distinct_users",
    "bpe_pair_counts",
    "dpp_scan",
    "python_datasource_scan",
    "vocab_tokenize",
    "bm25_topk",
    "dsir_select",
    "char_entropy",
    "kmv_set_ops",
    "cusum_changepoint",
    "l_diversity",
    "benford_audit",
    "gini_concentration",
    "kaplan_meier",
    "psi_drift",
    "association_rules",
    "mutual_information",
    "theil_decomposition",
    "two_hop_features",
    "burstiness_bots",
    "cohort_ltv",
    "neardup_dedup_quality",
    "rfm_segmentation",
    "rp_project",
    "winsorize",
    "dataset_card_stats",
    "cooccurrence_pmi",
    "pareto_frontier",
    "point_in_time_join",
    "quantile_normalize",
    "seasonal_baseline",
    "embedding_centroids",
    "compression_ratio",
    "retrieval_metrics",
    "hybrid_retrieval",
    # round-4 session-5 additions: TPC-H star-join profit, bucketed
    # co-located join, behavior transitions, reproducible shuffle
    "product_type_profit",
    "bucketed_join",
    "event_transitions",
    "deterministic_shuffle",
    "group_quantiles",
    "bpe_train",
    "label_propagation",
    "ivm_join",
    "vocab_drift",
    "negative_pairs",
    "time_weighted_avg",
    "abandoned_actions",
    "blockhash_near_dup",
    "record_linkage",
    "purchase_attribution",
    "feature_digitize",
    "hierarchy_share",
    "pivot_multi",
    "period_over_period",
    "fulfillment_lag",
    "new_vs_returning",
    # round-5 additions
    "boilerplate_ngrams",
    "ewma_smooth",
    "target_encode",
    "kcore_peel",
]


def _bench_only_overrides():
    """Shapes benched in place of their queries() twin. The declared
    ``ann_topk_ivf`` / ``pq_topk`` are correctness-contract queries
    that embed their own brute-force verifier (recall booleans for the
    driver oracle); benching those would time the verifier, not the
    operator — so the bench times the raw probe chains, comparable
    with prior rounds.
    """
    from lightlane_spark.operators.pq import pq_topk
    from lightlane_spark.operators.similarity import ivf_topk
    from lightlane_spark.sources.parquet import read_table

    def ivf_raw(spark, sf_dir):
        emb = read_table(spark, sf_dir, "embeddings")
        return ivf_topk(
            emb, emb.filter("vec_id < 10"), k=5, n_centroids=8, n_probe=7, max_iter=4
        ).select("query_id", "vec_id", "rank")

    def pq_raw(spark, sf_dir):
        emb = read_table(spark, sf_dir, "embeddings")
        return pq_topk(emb, emb.filter("vec_id < 10"), k=5).select(
            "query_id", "vec_id", "rank"
        )

    return {"ann_topk_ivf": ivf_raw, "pq_topk": pq_raw}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    qs.update(_bench_only_overrides())
    spark = get_spark(app_name="lightlane-bench")
    spark.sparkContext.setLogLevel("ERROR")
    # Scaling evidence (VERDICT r13 ask #1): record the RESOLVED master
    # and defaultParallelism so a reader of the artifact can verify the
    # $SPARK_GRAFT_CPUS contract was honored — at sf0.1 the ~0.17 s/job
    # scheduling floor makes core-count ratios ≈1, which is otherwise
    # indistinguishable from an ignored env var. Additive keys only;
    # the one-line JSON contract and all existing keys are unchanged.
    master = spark.sparkContext.master
    default_parallelism = spark.sparkContext.defaultParallelism

    # Load context (VERDICT r5/r6 ask): the box this runs on is shared
    # with sweep/pytest sessions, and ambient load has repeatedly
    # manufactured phantom ±5-30% "regressions" across rounds. Record
    # the 1/5/15-min loadavg at start and end so a reader of the bench
    # artifact can tell a loaded run from an idle one without
    # re-benching.
    load_start = os.getloadavg()
    jiffies_start = _cpu_jiffies()

    # Warm the JVM + parquet footers once so per-query numbers measure
    # the plan, not first-touch overheads.
    run_reps(spark, lambda: qs["pricing_summary"](spark, sf_dir), 1)

    # Multiple runs per query, report the best: the first run of a plan
    # pays one-time whole-stage-codegen class compilation (seconds for
    # the wide generated classes of 64-dim vector lambdas) which at real
    # scale amortizes to nothing; steady-state latency is the honest
    # per-query number.
    timings: dict[str, float | None] = {}
    # per-rep raw samples, recorded so a BENCH_DETAIL reader can see
    # within-run spread: the r9 noise investigation measured single
    # queries swinging ±50% run-to-run on identical code, and the
    # best-of-3 scalar alone can't show whether a number was stable
    # or a lucky draw (SCALE.md "bounded re-measure" entry).
    reps: dict[str, list[float]] = {}
    for name in HEADLINE:
        if name not in qs:
            continue
        # A failing query must not kill the whole bench (round 2 lost
        # every number to one AnalysisException): record null for the
        # failure, keep the rest of the round's signal, exit nonzero
        # only via the "failed" key so the driver still parses JSON.
        try:
            # best-of-3: ambient load on a shared box moved single runs
            # by ±20-30%; three samples keep the recorded number honest.
            # The cache is released after all reps: within a query,
            # later reps reusing rep 1's persisted intermediates is the
            # steady-state latency best-of-3 exists to capture; across
            # queries, leftover blocks would make late queries pay
            # eviction + GC for early queries' orphans.
            samples = run_reps(spark, lambda: qs[name](spark, sf_dir), 3)
            reps[name] = [round(dt, 4) for dt in samples]
            timings[name] = min(reps[name])
        except Exception as exc:  # noqa: BLE001 — isolate per query
            print(f"bench: {name} FAILED: {exc}", file=sys.stderr)
            timings[name] = None

    total = round(sum(v for v in timings.values() if v is not None), 4)
    # Steady-state headline (VERDICT r9 ask #7): the r9 driver run's
    # 1.5x median rep spread came almost entirely from inflated FIRST
    # reps (minhash_lsh_pairs 7.26→1.93→1.82), making the all-reps-
    # derived total nearly uninterpretable on a loaded box. Report
    # the drop-rep-1 best alongside: `value` stays best-of-3 (series
    # comparability with BENCH_r01..r09), `steady_total` is the
    # best-of-reps-2..3 sum (what a warm executor would do), and
    # `rep1_total` the cold sum — the gap between them IS the box
    # noise indicator in absolute seconds. ``reps`` holds only queries
    # whose every rep ran, so both sums cover the same queries.
    steady_total = round(sum(min(r[1:]) for r in reps.values()), 4)
    rep1_total = round(sum(r[0] for r in reps.values()), 4)
    # Noise self-diagnosis: median worst/best rep ratio across queries.
    # Clean runs sit ~1.1-1.3; the degraded shared-host windows that
    # inflated whole runs 1.3-1.7x show 2x+ swings WITHIN a query's
    # three reps (SCALE.md run-E sample: 2.6x), so this one number
    # lets a reader of the artifact tell a bad-box run from a real
    # regression without re-benching.
    spreads = sorted(
        max(r) / min(r) for r in reps.values() if min(r) > 0
    )
    rep_spread_median = (
        round(spreads[len(spreads) // 2], 3) if spreads else None
    )
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    failed = sorted(n for n, v in timings.items() if v is None)
    # Full per-query detail goes to a committed file (and stderr for
    # humans): round 4's 91-query single-line JSON exceeded the
    # driver's tail-capture window, so the official bench artifact was
    # unparseable (parsed: null). stdout's FINAL line is now a compact
    # payload that always fits the capture window.
    load_end = os.getloadavg()
    jiffies_end = _cpu_jiffies()
    steal_pct = None
    if jiffies_start and jiffies_end and jiffies_end[1] > jiffies_start[1]:
        steal_pct = round(
            100.0
            * (jiffies_end[0] - jiffies_start[0])
            / (jiffies_end[1] - jiffies_start[1]),
            2,
        )
    idle = load_start[0] <= IDLE_LOADAVG_MAX and (
        steal_pct is None or steal_pct <= IDLE_STEAL_PCT_MAX
    )
    detail = {
        "metric": "headline_queries_total",
        "value": total,
        "steady_total": steady_total,
        "rep1_total": rep1_total,
        "unit": "sec",
        "queries": timings,
        "reps": reps,
        "rep_spread_median": rep_spread_median,
        "sf": sf_val,
        "master": master,
        "default_parallelism": default_parallelism,
        "idle": idle,
        "steal_pct": steal_pct,
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in load_end],
    }
    if failed:
        detail["failed"] = failed
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    try:
        with open(detail_path, "w") as fh:
            json.dump(detail, fh, indent=1, sort_keys=True)
    except OSError as exc:  # read-only checkout must not kill the bench
        print(f"bench: could not write {detail_path}: {exc}", file=sys.stderr)
    # Idle refresh: only a full-SF (sf0.1, the BENCH_IDLE series' SF),
    # failure-free, idle-tagged run may replace the committed idle
    # artifact. Opt-out via SPARK_GRAFT_NO_IDLE_REFRESH=1 for scratch
    # runs that shouldn't touch committed files.
    if (
        not failed
        and sf_val == 0.1
        and not os.environ.get("SPARK_GRAFT_NO_IDLE_REFRESH")
    ):
        idle_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_IDLE.json"
        )
        try:
            refresh_bench_idle(detail, idle_path)
        except OSError as exc:
            print(
                f"bench: could not write {idle_path}: {exc}", file=sys.stderr
            )
    print(json.dumps(detail), file=sys.stderr)
    compact = {
        "metric": "headline_queries_total",
        "value": total,
        "steady_total": steady_total,
        "rep1_total": rep1_total,
        "unit": "sec",
        "sf": sf_val,
        "n_queries": sum(1 for v in timings.values() if v is not None),
        "queries": {
            n: timings[n]
            for n in sorted(
                (n for n, v in timings.items() if v is not None),
                key=lambda n: -timings[n],
            )[:10]
        },
        "detail_file": "BENCH_DETAIL.json",
        "rep_spread_median": rep_spread_median,
        "master": master,
        "default_parallelism": default_parallelism,
        "idle": idle,
        "steal_pct": steal_pct,
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in load_end],
    }
    if failed:
        compact["failed"] = failed
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
