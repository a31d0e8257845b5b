#!/usr/bin/env python
"""Benchmark harness: runs the headline query suite at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

  {"metric": "suite_wall_clock", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "repeats": N, "ml_quick_fit": sec,
   "sf": <sf>}

Headline set = one representative of each execution shape: scan+pivot
(flagship), shuffle join+agg, time agg, top-k, window function,
relational chi-square, streaming-symmetric event windows, session
windows, text analytics, exact dedup, MinHash LSH, ANN, and the
Arrow-batched multimodal path.

Robustness: each headline query runs $SPARK_GRAFT_BENCH_REPEATS times
(default 3, interleaved rounds); per-query numbers and the suite total
are MEDIANS, so one GC pause can't skew the round-over-round record.

ML estimator fits dominate the reference's real workload (Scripts/3-10)
but would drown the relational signal if mixed into the suite total, so
ONE quick-grid LogisticRegression+TVS fit is timed separately and
reported as ``ml_quick_fit`` (single run — fits amortize their own JIT).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

HEADLINE = [
    "flagship_delay_summary_by_carrier",
    "tpch_q1_style",
    "join_inner_agg",
    "sum_by_year",
    "top_k",
    "window_top_order",
    "chi_square_sql",
    "asof_join",
    "events_tumbling_window",
    "events_session_window",
    "events_multi_rollup",
    "text_stats",
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_bruteforce_topk",
    "multimodal_asset_stats",
]

# The raw-metrics view does the full reference job shape (fit + predict
# + 6 evaluators) — same work the r1/r2 ml_quick_fit number measured
# when the fit and metrics lived in one query. Since round 6 it is
# module API (ml_queries.raw_metrics_query), not a catalog entry: the
# catalog carries only oracle-checkable names.
ML_FIT_FAMILY = "logistic_regression"

# Round-2 curation/sketch surface, timed as a SEPARATE tracked number
# (like ml_quick_fit) so the 16-query headline total stays comparable
# to the BASELINE.md record across rounds.
CURATION = [
    "curation_weighted_sample",
    "curation_contamination",
    "curation_sequence_packing",
    "sketch_count_min_heavy_hitters",
    "data_quality_report",
    "embedding_quantize_int8",
]

# Round-3 operator surface, tracked as its own number for the same
# reason as CURATION: new ops get a regression reference without
# perturbing the 16-query headline total.
R3_OPS = [
    "dedup_spans_crossdoc",
    "curation_stratified_split",
    "ann_hard_negatives",
    "feature_winsorize",
    "text_oov_rate",
    "events_tumbling_stream",
]

# Round-4 operator surface: real BMP/WAV codec round-trips, the exact
# winsorize twin (the approx default is tracked in R3_OPS), and the two
# new streaming drains.
R4_OPS = [
    "multimodal_decode_image",
    "multimodal_decode_audio",
    "multimodal_image_resize",
    "feature_winsorize_exact",
    "text_quality_classifier",
    "events_sliding_stream",
    "events_session_stream",
    "events_interval_join_stream",
    "graph_pagerank",
    "zorder_cells",
    "sink_partitioned_roundtrip",
]

# Late round-4 operators, tracked as their own number so earlier suite
# totals stay comparable across records.
R4B_OPS = [
    "approx_distinct_by_group",
    "events_rolling_active_users",
    "events_attribution",
    "text_token_rarity",
    "multimodal_audio_features",
    "curation_dsir_resample",
    "ann_quantized_rerank",
    "dedup_span_scrub",
    "text_gopher_rules",
    "dedup_attribution",
    "curation_length_buckets",
    "sketch_kmv_distinct",
    "events_kmv_stream",
    "dedup_fuzzy_pairs",
    "curation_group_split",
    "coreset_kcenter",
    "incremental_mv_merge",
    "pit_join_versions",
    "snapshot_diff",
    "stats_mad_by_group",
    "fd_violations",
    "ri_orphans",
    "graph_triangles",
    "stats_bootstrap_means",
    "events_markov_transitions",
    "text_inverted_index",
    "stats_benford_audit",
]


# Round-5 operator surface: PNG decode (zlib + defilter), the stacked
# IVF→int8→exact ANN path (index build amortized via the session cache,
# so this times the QUERY path, as deployed), and converged PageRank
# (10-round budget, dangling redistribution, early stop — the deep-
# iteration posture the r4 verdict asked to measure beyond 5 rounds).
R5_OPS = [
    "multimodal_decode_png",
    "ann_ivf_quantized_rerank",
    "graph_pagerank_converged",
    "join_bloom_prefiltered",
    "dedup_entity_resolution",
    "events_resample_ffill",
    "incremental_join_delta",
    "curation_chunking",
    "events_enrich_stream",
    "stats_group_ols",
    "stats_ks_drift",
    "sketch_kmv_join_cardinality",
    "events_upsert_sink_stream",
    "ml_target_encoding",
    "stats_ab_test",
    "events_streaks",
    "graph_hierarchy_flatten",
    "union_schema_evolution",
    "events_twap",
    "events_journey_paths",
    "events_capped_sessions",
    "events_cumulative_users",
]

# Round-6 operator surface: the grouped HLL sketch (batch build +
# streamed register maintenance) and the CM-prefiltered heavy-hitter
# join. The two queries whose round-6 PLANS changed (degree-ordered
# graph_triangles, batched-convergence dedup_entity_resolution) keep
# their existing R4B/R5 suite slots — same-suite numbers stay
# comparable round over round.
R6_OPS = [
    "sketch_hll_distinct",
    "events_hll_stream",
    "events_cms_stream",
    "events_hll_sliding_distinct",
    "join_heavy_hitters_cm",
    "graph_k_core",
    "sketch_cms_join_size",
    "events_peak_concurrency",
]

# Round-6 continuation wave (plans/analytics_ops.py): HLL pairwise set
# algebra, multi-source BFS over the trading bipartite graph, Welch's
# t, RFM quartiles, Cramer two-feature OLS.
R6B_OPS = [
    "sketch_hll_set_ops",
    "graph_bfs_distances",
    "stats_welch_ttest",
    "events_rfm_segments",
    "stats_multi_ols",
    "graph_label_propagation",
    "events_cusum_changepoint",
    "text_bm25_topk",
    "stats_mannwhitney_u",
    "basket_frequent_pairs",
    "stats_gini_by_group",
    "events_diversity_index",
    "text_bpe_merge_pairs",
    "multimodal_image_phash",
    "stats_cuped_adjustment",
    "stats_pareto_coverage",
    "events_seasonality_profile",
    "events_forecast_eval",
]

# Wave-5/6 analytics catalog (plans/analytics_ops2.py): multi-way star
# joins, the bucketed Pareto skyline, closed-form 2-D PCA, DAU/WAU
# stickiness, per-user calendar linear interpolation, and the
# sequential-fold family (clamped balance, Holt smoothing, drawdown,
# bucketed weighted median).
R6C_OPS = [
    "tpch_q3_style",
    "tpch_q5_style",
    "skyline_dominance",
    "stats_pca_2d",
    "events_stickiness",
    "events_linear_interpolation",
    "events_clamped_balance",
    "events_holt_smoothing",
    "events_max_drawdown",
    "stats_weighted_median",
    "sink_orc_roundtrip",
    "sink_jsonl_roundtrip",
]

# Wave-7/8 analytics catalog (plans/analytics_ops{3,4}.py): the
# remaining adapted TPC-H shapes (Q2 correlated-min, Q4 EXISTS, Q7
# two-nation volume, Q8 market share, Q9 profit, Q10 returns, Q12
# conditional split, Q13 count distribution, Q14 promo share, Q15
# top supplier, Q16 supplier variety, Q17 small-quantity loss, Q18
# HAVING prereduction, Q19 disjunctive join, Q21 waiting suppliers,
# Q22 scalar-subquery + anti-join), integer-exact lag-1
# autocorrelation, the bucketed-rank decile gains table, embedding
# label centroids, the fixed-seed k-means assignment pass, calendar
# lag features — plus the bucketed co-located join that landed after
# the r6c list froze.
R6D_OPS = [
    "tpch_q2_style",
    "tpch_q4_style",
    "tpch_q7_style",
    "tpch_q8_style",
    "tpch_q9_style",
    "tpch_q10_style",
    "tpch_q12_style",
    "tpch_q13_style",
    "tpch_q14_style",
    "tpch_q15_style",
    "tpch_q16_style",
    "tpch_q17_style",
    "tpch_q18_style",
    "tpch_q19_style",
    "tpch_q21_style",
    "tpch_q22_style",
    "stats_autocorr_daily",
    "customer_decile_lift",
    "embedding_label_centroids",
    "embedding_kmeans_assign",
    "events_lag_features",
    "join_bucketed_colocated",
    # wave 9 (plans/analytics_ops5.py): Q6/Q11/Q20 complete the
    # adapted TPC-H family; PQ codebook; inter-event gap stats
    "tpch_q6_style",
    "tpch_q11_style",
    "tpch_q20_style",
    "embedding_pq_codebook",
    "events_gap_stats",
    # wave 10 (plans/analytics_ops6.py)
    "events_funnel_ttc",
    "stats_power_analysis",
    "events_cohort_ltv",
    "events_funnel_windowed",
    "curation_temperature_mixture",
    "graph_degree_histogram",
    "stats_srm_check",
    "stats_ratio_metric_ci",
    "rollup_share_of_parent",
    "feature_hashing_audit",
    "events_disorder_audit",
    "stats_anova_oneway",
    "events_uplift_by_segment",
    "orders_abc_classification",
]

# Round-7 operator surface: the mergeable HDR quantile sketch (batch
# build + streamed bucket-count maintenance). The four queries whose
# round-7 PLANS changed (text_bm25_topk, events_rfm_segments,
# stats_pareto_coverage in R6B; stats_ks_drift in R5) keep their
# existing suite slots so their deltas stay visible round over round.
R7_OPS = [
    "sketch_quantile_hdr",
    "events_quantile_sketch_stream",
]

R8_OPS = [
    # graph_pagerank_converged (the other round-8 perf change) is
    # already tracked in R5_OPS — its speedup shows as that suite's
    # delta, not a duplicate slot here
    "curation_weighted_reservoir",
]

# Round-9 operator surface: the SpaceSaving/Misra-Gries streamed
# counter-set summary. The three queries whose round-9 PLANS changed
# (graph_triangles in R4B, graph_k_core in R6, graph_label_propagation
# in R6B — now sharing the session-cached two-shuffle co-occurrence
# build) keep their existing suite slots so their deltas stay visible
# round over round.
R9_OPS = [
    "events_spacesaving_stream",
]

# Like ml_quick_fit: 3 TVS LR fits (full/uni/var feature sets) timed
# once, separately — fit-dominated and session-cached, so repeats would
# time the cache, not the work.
ML_VARIANT_QUERY = "ml_variant_sweep"


WARM_DIR = "/root/testdata/sf0.001"


def _warm(specs, spark, names: list[str], sf_dir: str) -> None:
    """Run the suite's query shapes once at sf0.001 (~1000x smaller
    inputs) so the timed pass measures steady-state execution, not
    first-call JIT/codegen and parquet-reader class loading. GUARDED:
    when the timed dir IS sf0.001 the warm pass is skipped entirely —
    otherwise the 'cold' timings would secretly be warm and not
    comparable across suites (round-3 ADVICE; one shared helper so
    every suite gets the same discipline)."""
    if not os.path.isdir(WARM_DIR):
        return
    if os.path.realpath(WARM_DIR) == os.path.realpath(sf_dir):
        return
    for name in names:
        try:
            _materialize(specs[name].fn(spark, WARM_DIR))
        except Exception:
            pass  # warm-up is best-effort; the timed run surfaces real errors


def _materialize(df) -> None:
    """Force FULL evaluation of a query through the noop sink.

    count() is NOT a faithful materializer: Catalyst prunes every
    column no aggregate references and can eliminate whole subtrees —
    a left join against a grouped (hence unique-keyed) right side
    whose columns nobody reads is REMOVED, so count() on
    curation_contamination measured 0.25 s while the query costs
    ~2.2 s (found round 10 — the committed r1-r9 per-query records
    carry this undercount for wide-output queries; BASELINE.md
    round-10 amendment). The noop sink writes every row of every
    output column and prunes nothing, JVM-side only."""
    df.write.format("noop").mode("overwrite").save()


def _run_suite(
    specs, spark, names: list[str], sf_dir: str, repeats: int, tag: str
) -> tuple[dict[str, float], float]:
    """Median-of-``repeats`` per query (interleaved rounds), plus the
    suite total of medians."""
    # Sanity row counts re-EXECUTE each query once (count() runs a
    # pruned second plan; observe() is off-limits — the Spark 4.1
    # ObservationManager serialization bug breaks later MLlib
    # evaluates). Timings never included it, but it inflated total
    # bench wall-clock (round-10 advice), so it is opt-in now.
    want_rows = os.environ.get("SPARK_GRAFT_BENCH_ROWCOUNT") == "1"
    samples: dict[str, list[float]] = {name: [] for name in names}
    for r in range(repeats):
        for name in names:
            t0 = time.perf_counter()
            df = specs[name].fn(spark, sf_dir)
            _materialize(df)
            dt = time.perf_counter() - t0
            samples[name].append(dt)
            if r == 0 and want_rows:
                n = df.count()  # outside the timed region
                print(
                    f"# [{tag}] round 1/{repeats} {name}: {dt:.2f}s ({n} rows)",
                    file=sys.stderr,
                )
            else:
                print(
                    f"# [{tag}] round {r + 1}/{repeats} {name}: {dt:.2f}s",
                    file=sys.stderr,
                )
    timings = {name: round(statistics.median(ts), 3) for name, ts in samples.items()}
    total = round(sum(statistics.median(ts) for ts in samples.values()), 3)
    return timings, total


def _cpu_times() -> tuple[int, int]:
    """(total_jiffies, steal_jiffies) from /proc/stat's aggregate cpu
    line. The sandbox is a VM: host co-tenant load appears ONLY as
    steal time — no guest process list ever names it. Round 12
    measured graph_k_core at 2.3 s under ~0% steal and 13.4 s under
    ~12% steal on identical code + corpus (tests/steal_probe.py):
    barrier-synchronized many-task stages amplify modest steal into
    large wall multipliers, which is what the unattributed r10→r11
    r6/r6b suite drift was. Every record now carries the steal
    fraction measured over its own window so cross-record deltas can
    be discounted mechanically, like the testdata_generation stamp."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        return sum(vals), vals[7] if len(vals) > 7 else 0
    except (OSError, ValueError, IndexError):
        return 0, 0


def _suite_steal(t0: tuple[int, int], t1: tuple[int, int]) -> float | None:
    """Steal percentage over the window [t0, t1] (from _cpu_times), or
    None when /proc/stat was unreadable / the window is empty."""
    (a0, s0), (a1, s1) = t0, t1
    if a1 <= a0:
        return None
    return round(100.0 * (s1 - s0) / (a1 - a0), 2)


def _run_suite_stamped(
    specs, spark, names: list[str], sf_dir: str, repeats: int, tag: str
) -> tuple[dict[str, float], float, float | None]:
    """_run_suite plus the steal fraction measured over the suite's OWN
    window. Round 12's ground-truth comparison consumed a 4.22%-steal
    32-core sample at face value and flagged 16 phantom regressions —
    per-suite steal windows (not just the whole-run stamp) let any
    consumer discount a single suite's numbers mechanically."""
    t0 = _cpu_times()
    timings, total = _run_suite(specs, spark, names, sf_dir, repeats, tag)
    steal = _suite_steal(t0, _cpu_times())
    return timings, total, steal


def _testdata_generation(sf_dir: str) -> str:
    """Generation stamp of the timed corpus: newest parquet mtime under
    ``sf_dir`` (UTC, second resolution). The driver REGENERATES
    /root/testdata every round, so per-query wall-clock deltas are
    comparable ONLY between records carrying the SAME stamp — round 10
    measured a +26 % uniform swing across code-untouched queries from
    generation drift alone (BASELINE.md round-10 continuity runs).
    Stamped into every record; ``main`` adds an explicit comparability
    warning when the previous record's stamp differs."""
    import glob

    mtimes = [
        os.stat(p).st_mtime
        for p in glob.glob(os.path.join(sf_dir, "**", "*.parquet"), recursive=True)
    ]
    if not mtimes:
        return "unknown"
    return time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(max(mtimes)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    from big_data_analysis_of_airline_data_set_spark.plans import all_queries
    from big_data_analysis_of_airline_data_set_spark.plans.events_queries import (
        ensure_events_landed,
    )
    from big_data_analysis_of_airline_data_set_spark.session import (
        env_number,
        get_session,
    )

    # both knobs are parsed before any work, so a malformed value fails
    # in the first second instead of after the headline suite
    repeats = max(1, env_number("SPARK_GRAFT_BENCH_REPEATS", 3))
    steal_rerun_pct = env_number("SPARK_GRAFT_STEAL_RERUN_PCT", 3.5, float)
    generation = _testdata_generation(sf_dir)

    bench_t_all0, bench_t_st0 = _cpu_times()

    spark = get_session("bench")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_queries()

    # Streaming drains: bench times the noop-sink path (round-12
    # verdict item 3) — the memory sink exists for the ORACLE (driver
    # collects the sink table to compare against DuckDB) and its
    # driver-side collection is the measured ×100 staller, so timing it
    # benches the harness, not the operator. SPARK_GRAFT_STREAM_SINK=
    # memory restores the old numbers for continuity checks. Catalog /
    # driver-correctness paths never see this flag.
    from big_data_analysis_of_airline_data_set_spark.streaming import jobs as _sjobs

    stream_sink = os.environ.get("SPARK_GRAFT_STREAM_SINK", "noop")
    _sjobs.DRAIN_SINK = stream_sink

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    # Land the timed dir's events table for the streaming queries during
    # warm-up so no timed sample absorbs the one-time landing copy
    # (round-3 ADVICE on events_tumbling_stream's first repeat).
    ensure_events_landed(spark, sf_dir)
    _warm(specs, spark, HEADLINE, sf_dir)

    steal_by_suite: dict[str, float | None] = {}
    timings, total, hl_steal = _run_suite_stamped(
        specs, spark, HEADLINE, sf_dir, repeats, "headline"
    )
    headline_samples = [{"value": total, "steal_pct": hl_steal}]
    # Steal fence (round-12 verdict item 1): the headline total is the
    # round-over-round ground truth, and a single steal-hit sample makes
    # every per-query delta a phantom (r12: 16/16 "regressions" at 4.22%
    # steal while the same-day 8-core run was faster on every query).
    # Above the threshold the headline suite re-runs ONCE and the
    # better-fenced (lower-steal) sample is reported; both samples stay
    # in the record. Threshold default 3.5% sits between the quiet-host
    # samples (2.3-3.1%) and the r12 steal-hit ones (4.2-6.8%).
    if hl_steal is not None and hl_steal > steal_rerun_pct:
        print(
            f"# headline steal {hl_steal}% > {steal_rerun_pct}% — re-running"
            " the headline suite once for a better-fenced sample",
            file=sys.stderr,
        )
        timings2, total2, hl_steal2 = _run_suite_stamped(
            specs, spark, HEADLINE, sf_dir, repeats, "headline-rerun"
        )
        headline_samples.append({"value": total2, "steal_pct": hl_steal2})
        # pick the better-fenced sample: materially lower steal wins;
        # when the two windows' steal is within noise of each other
        # (±0.5 pct points), the lower total wins instead — a 0.1-point
        # steal difference must not outrank a real wall-clock gap
        if hl_steal2 is not None and (
            hl_steal2 < hl_steal - 0.5
            or (abs(hl_steal2 - hl_steal) <= 0.5 and total2 < total)
        ):
            timings, total, hl_steal = timings2, total2, hl_steal2
    steal_by_suite["headline"] = hl_steal

    from big_data_analysis_of_airline_data_set_spark.plans.ml_queries import (
        raw_metrics_query,
    )

    t0 = time.perf_counter()
    _materialize(raw_metrics_query(ML_FIT_FAMILY)(spark, sf_dir))
    ml_fit = time.perf_counter() - t0
    print(f"# ml_quick_fit (raw {ML_FIT_FAMILY} metrics): {ml_fit:.2f}s", file=sys.stderr)

    _warm(specs, spark, CURATION, sf_dir)
    cur_timings, cur_total, steal_by_suite["curation"] = _run_suite_stamped(
        specs, spark, CURATION, sf_dir, repeats, "curation"
    )
    print(f"# curation_suite: {cur_total}s {cur_timings}", file=sys.stderr)

    _warm(specs, spark, R3_OPS, sf_dir)
    r3_timings, r3_total, steal_by_suite["r3_ops"] = _run_suite_stamped(
        specs, spark, R3_OPS, sf_dir, repeats, "r3_ops"
    )
    print(f"# r3_ops_suite: {r3_total}s {r3_timings}", file=sys.stderr)

    _warm(specs, spark, R4_OPS, sf_dir)
    r4_timings, r4_total, steal_by_suite["r4_ops"] = _run_suite_stamped(
        specs, spark, R4_OPS, sf_dir, repeats, "r4_ops"
    )
    print(f"# r4_ops_suite: {r4_total}s {r4_timings}", file=sys.stderr)

    _warm(specs, spark, R4B_OPS, sf_dir)
    r4b_timings, r4b_total, steal_by_suite["r4b_ops"] = _run_suite_stamped(
        specs, spark, R4B_OPS, sf_dir, repeats, "r4b_ops"
    )
    print(f"# r4b_ops_suite: {r4b_total}s {r4b_timings}", file=sys.stderr)

    _warm(specs, spark, R5_OPS, sf_dir)
    r5_timings, r5_total, steal_by_suite["r5_ops"] = _run_suite_stamped(
        specs, spark, R5_OPS, sf_dir, repeats, "r5_ops"
    )
    print(f"# r5_ops_suite: {r5_total}s {r5_timings}", file=sys.stderr)

    _warm(specs, spark, R6_OPS, sf_dir)
    r6_timings, r6_total, steal_by_suite["r6_ops"] = _run_suite_stamped(
        specs, spark, R6_OPS, sf_dir, repeats, "r6_ops"
    )
    print(f"# r6_ops_suite: {r6_total}s {r6_timings}", file=sys.stderr)

    _warm(specs, spark, R6B_OPS, sf_dir)
    r6b_timings, r6b_total, steal_by_suite["r6b_ops"] = _run_suite_stamped(
        specs, spark, R6B_OPS, sf_dir, repeats, "r6b_ops"
    )
    print(f"# r6b_ops_suite: {r6b_total}s {r6b_timings}", file=sys.stderr)

    _warm(specs, spark, R6C_OPS, sf_dir)
    r6c_timings, r6c_total, steal_by_suite["r6c_ops"] = _run_suite_stamped(
        specs, spark, R6C_OPS, sf_dir, repeats, "r6c_ops"
    )
    print(f"# r6c_ops_suite: {r6c_total}s {r6c_timings}", file=sys.stderr)

    _warm(specs, spark, R6D_OPS, sf_dir)
    r6d_timings, r6d_total, steal_by_suite["r6d_ops"] = _run_suite_stamped(
        specs, spark, R6D_OPS, sf_dir, repeats, "r6d_ops"
    )
    print(f"# r6d_ops_suite: {r6d_total}s {r6d_timings}", file=sys.stderr)

    _warm(specs, spark, R7_OPS, sf_dir)
    r7_timings, r7_total, steal_by_suite["r7_ops"] = _run_suite_stamped(
        specs, spark, R7_OPS, sf_dir, repeats, "r7_ops"
    )
    print(f"# r7_ops_suite: {r7_total}s {r7_timings}", file=sys.stderr)

    _warm(specs, spark, R8_OPS, sf_dir)
    r8_timings, r8_total, steal_by_suite["r8_ops"] = _run_suite_stamped(
        specs, spark, R8_OPS, sf_dir, repeats, "r8_ops"
    )
    print(f"# r8_ops_suite: {r8_total}s {r8_timings}", file=sys.stderr)

    _warm(specs, spark, R9_OPS, sf_dir)
    r9_timings, r9_total, steal_by_suite["r9_ops"] = _run_suite_stamped(
        specs, spark, R9_OPS, sf_dir, repeats, "r9_ops"
    )
    print(f"# r9_ops_suite: {r9_total}s {r9_timings}", file=sys.stderr)

    t0 = time.perf_counter()
    _materialize(specs[ML_VARIANT_QUERY].fn(spark, sf_dir))
    ml_variants = time.perf_counter() - t0
    print(f"# ml_variant_sweep: {ml_variants:.2f}s", file=sys.stderr)

    # Skew stress (round-3 verdict #8): one deliberately hot key carries
    # ~70% of lineitem; time the three join strategies so the skew
    # posture is a tracked number. Results are asserted identical first
    # (a strategy that drifted semantically must fail loudly, not post a
    # fast wrong number).
    from big_data_analysis_of_airline_data_set_spark.operators.skew_stress import (
        skew_stress_plans,
    )

    def _rows(df):
        return sorted((r.skew_key, r.n_rows, r.weighted_amount) for r in df.collect())

    warm_plans = skew_stress_plans(spark, WARM_DIR) if (
        os.path.isdir(WARM_DIR)
        and os.path.realpath(WARM_DIR) != os.path.realpath(sf_dir)
    ) else {}
    for df in warm_plans.values():
        _materialize(df)
    plans = skew_stress_plans(spark, sf_dir)
    expected = _rows(plans["broadcast"])
    skew_samples: dict[str, list[float]] = {name: [] for name in plans}
    for r in range(repeats):
        for name, df in plans.items():
            t0 = time.perf_counter()
            got = _rows(df)
            skew_samples[name].append(time.perf_counter() - t0)
            assert got == expected, f"skew strategy {name} diverged"
    skew_timings = {n: round(statistics.median(ts), 3) for n, ts in skew_samples.items()}
    skew_total = round(sum(skew_timings.values()), 3)
    print(f"# skew_suite: {skew_total}s {skew_timings}", file=sys.stderr)

    record = {
        "metric": "suite_wall_clock",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "repeats": repeats,
        "ml_quick_fit": round(ml_fit, 3),
        "ml_variant_sweep": round(ml_variants, 3),
        "curation_suite": cur_total,
        "curation_queries": cur_timings,
        "r3_ops_suite": r3_total,
        "r3_ops_queries": r3_timings,
        "r4_ops_suite": r4_total,
        "r4_ops_queries": r4_timings,
        "r4b_ops_suite": r4b_total,
        "r4b_ops_queries": r4b_timings,
        "r5_ops_suite": r5_total,
        "r5_ops_queries": r5_timings,
        "r6_ops_suite": r6_total,
        "r6_ops_queries": r6_timings,
        "r6b_ops_suite": r6b_total,
        "r6b_ops_queries": r6b_timings,
        "r6c_ops_suite": r6c_total,
        "r6c_ops_queries": r6c_timings,
        "r6d_ops_suite": r6d_total,
        "r6d_ops_queries": r6d_timings,
        "r7_ops_suite": r7_total,
        "r7_ops_queries": r7_timings,
        "r8_ops_suite": r8_total,
        "r8_ops_queries": r8_timings,
        "r9_ops_suite": r9_total,
        "r9_ops_queries": r9_timings,
        "skew_suite": skew_total,
        "skew_queries": skew_timings,
        "sf": float(sf),
        "testdata_generation": generation,
        # *_stream entries timed through this sink (see BASELINE.md
        # round-12 methodology note; "noop" from r12 on).
        "stream_sink": stream_sink,
        # Per-suite steal windows + the headline steal fence (round-13;
        # r12 verdict item 1): "queries"/"value" above are the CHOSEN
        # headline sample; headline_samples lists every sample taken
        # (1 normally, 2 when the fence re-ran), each with the steal
        # fraction over its own window.
        "steal_by_suite": steal_by_suite,
        "headline_samples": headline_samples,
    }
    bench_t_all1, bench_t_st1 = _cpu_times()
    if bench_t_all1 > bench_t_all0:
        record["steal_pct"] = round(
            100.0 * (bench_t_st1 - bench_t_st0)
            / (bench_t_all1 - bench_t_all0),
            2,
        )
    # Mechanical cross-generation fence (round-10 verdict item 4): if
    # the previous committed record was measured against a different
    # testdata generation, say so IN the record — per-query deltas
    # across generations are ill-posed (the corpus changed, not the
    # code; round 10's 170× contamination surprise).
    out_path = os.environ.get("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    try:
        with open(out_path) as f:
            prev_gen = json.loads(f.readline()).get("testdata_generation")
        if prev_gen and prev_gen != generation:
            record["comparability"] = (
                f"per-query deltas vs the previous record are ill-posed: "
                f"testdata generation changed ({prev_gen} -> {generation})"
            )
    except (OSError, ValueError):
        pass
    # The driver records only a 4096-char TAIL of stdout and parses the
    # final line as JSON (round-5 verdict #4: the r5 record came back
    # "parsed": null because the full per-suite dump overflowed that
    # window). So stdout gets a COMPACT line — headline per-query
    # timings plus per-suite totals, comfortably under 4 KB — and the
    # full per-suite detail goes to the committed file, anchored to a
    # commit rather than a captured stream.
    compact = {
        k: v
        for k, v in record.items()
        if not (k.endswith("_queries") and k != "queries")
    }
    compact["detail_file"] = out_path
    line = json.dumps(compact)
    if len(line) > 4000:  # belt and braces: drop per-query detail too
        compact.pop("queries", None)
        line = json.dumps(compact)
    try:
        with open(out_path, "w") as f:
            f.write(json.dumps(record) + "\n")
    except OSError as exc:  # the bench record must still reach stdout
        print(f"# bench file write failed: {exc}", file=sys.stderr)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
