#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ..., "cpus": ..., "cpu_spin_mops": ...,
"loadavg": [...], ...}.

Each query is timed over a FULL materialization via the ``noop`` sink —
``count()`` is not full materialization: Catalyst's column pruning strips
aggregate expressions and whole Window nodes whose outputs a count never
reads (measured 2.6x under-report on the running-total query), so a
count-based bench times a different, cheaper plan than users run.  The
noop write evaluates every output column JVM-side with zero driver
transfer.  Warm-up pass first (JVM + codegen warm).

Each query runs ``$SPARK_GRAFT_BENCH_RUNS`` times (default 3) and reports
the MEDIAN — this VM has documented 1.3-3x load drift (BENCH_sf10_local
note; round 4's official single-shot artifact was 5x off a quiet-host
re-run of identical code), so single-shot numbers are not adjudicable.
The host load average and a CPU spin yardstick are recorded for the same
reason.

History: one sidecar per (sf, cpus), ``BENCH_local_sf{sf}_c{cpus}.json``.
Every run read-merge-writes it per query, so headline, extended and
subset runs never erase each other's lines.  A query slower than its
history by more than ``HISTORY_FACTOR`` after spin normalization is
re-run (interleaved) and the rerun verdict is recorded.

Other knobs: ``$SPARK_GRAFT_BENCH_QUERIES`` (comma-separated subset) and
``$SPARK_GRAFT_BENCH_EXTENDED=1`` (add ``EXTENDED``).  Decode and stream
throughput live in ``perfbench/`` (``python3 perfbench/run.py
--workload {decode_wide,stream_replicate}``).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

from bench_decode import cpu_spin_mops
from byte_convert_avro_spark.session import get_spark
from byte_convert_avro_spark.queries import queries

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q18_large_volume_orders",
    "customer_running_total",
    "events_hourly_tumbling",
    "events_sessionization",
    "events_asof_purchase_view",
    "minhash_signatures",
    "knn_cosine_top5",
    "dedup_exact_groups",
    "avro_roundtrip_customers",
    # round-3 families
    "decontamination_ngram_overlap",
    "events_asof_tolerance_30m",
    # round-5: the heavy dedup family — the most expensive multi-join
    # plans in the registry; benched so regressions stay visible
    "jaccard_verified_candidates",
    "dedup_cluster_assignment",
    "corpus_after_dedup",
    "lsh_banded_near_dup",
    # round-6: the new capability families — substring-level dedup,
    # trained-IVF ANN, winnowing pair matching.  The tracked winnowing
    # form is the CAPPED one (round-6 verdict lead #4): the hub-bounded
    # cap²-per-fingerprint join is the 100 TB path, so that's the number
    # to watch; the uncapped winnowing_shared_fingerprints stays in the
    # registry as the correctness baseline (its cost tracks true
    # duplication — output-bound, not a plan property worth benching)
    "corpus_strip_repeated_chunks",
    "ivf_search_top3",
    "winnowing_pairs_capped",
    # round-7: applying-form strip, sampled k-means trainer, OCF file
    # format, degree-oriented triangles
    "corpus_stripped_text",
    "kmeans_minibatch_k8",
    "avro_ocf_roundtrip_customers",
    "copurchase_triangle_count",
]

#: Heavier iterative/graph entries benched on demand
#: (SPARK_GRAFT_BENCH_EXTENDED=1) — kept out of HEADLINE so the
#: round-over-round comparison stays on a stable query set (the r07->r08
#: CC-variance lesson: stable sets + medians + loadavg are what make the
#: artifact adjudicable).
EXTENDED = [
    "pagerank_trade_graph",
    "customer_hierarchy_walk",
    "pca_power_top_component",
    "minhash_estimate_vs_exact_jaccard",
    "ship_latency_percentiles_scale_path",
    # round-9 iterative/sketch additions — first history round
    "copurchase_k_core_peel",
    "trade_reachability_3hop",
    "kmv_parts_by_segment_nation",
    "minhash_r2_capped_candidates",
    # round-10: the batch merging-session-window operator — first history
    "events_session_window_dynamic_gap",
    # round-11: the joinless rolling median (watch the respell), the
    # mergeable rank sketch with its exact referee, the closed-form
    # CUSUM, and the trailing-30d RANGE frame — first history
    "user_rolling_7d_median_value",
    "order_value_rank_sketch_vs_exact",
    "events_cusum_value_drift",
    "customer_trailing_30d_spend",
    # round-12: the r11 heavies promoted per the verdict (their cost is
    # gate-side exact referees / real micro-batch replay — tracked so a
    # regression in them is adjudicable), plus the new LPA and
    # row-pattern families — first history
    "trade_neighborhood_function_kmv",
    "streaming_count_min_user_heavy_hitters",
    "copurchase_communities_lpa",
    "events_pattern_views_to_purchase",
    "part_price_w_pattern",
    "order_value_percentile_cont",
    # round-13: the banded-inequality join family — the bucket rewrite
    # whose whole point is the plan shape, so its wall time is the
    # regression signal for the equi-join staying equi
    "part_price_band_pairs",
    "customer_supplier_balance_band",
    # round-13b: HLL register sketch (one partial-agg shuffle — its wall
    # time pins the no-DISTINCT property), the sort-pruned skyline (wall
    # time pins windows-not-joins), and the prefix-filter exact Jaccard
    # join (wall time is dominated by candidate fan-out — the regression
    # signal for the prefix staying rare-token-only)
    "hll_distinct_users_by_type",
    "hll_weekly_merge_identity",
    "hll_intersection_viewers_purchasers",
    "streaming_hll_distinct_users",
    "hll_rolling_7d_distinct_users",
    "rank_join_top10_pairs_by_balance",
    "hll_weekly_overlap_matrix",
    "events_pattern_view_alt_action_purchase",
    "rank_join_top3_pairs_per_nation",
    "part_skyline_price_size",
    "part_skyline_per_brand",
    "docs_jaccard_prefix_filter_pairs",
    # round-14: the capped rung — its wall time pins the cap window
    # staying pair-set-sized (the 100 TB operating point of the exact
    # similarity join); the overlap join + FastSS pin their candidate
    # joins staying prefix/variant-keyed; the weighted samples pin the
    # expansion collapsing map-side; the bounded pattern rides the
    # one-shuffle pattern chain
    "docs_jaccard_prefix_filter_capped",
    "docs_overlap_containment_pairs",
    "customer_name_edit1_fastss",
    "lineitem_weighted_sample_by_flag",
    "events_weighted_user_sample",
    "streaming_weighted_user_sample",
    "events_pattern_bounded_views_within_7d",
    # round-14b: the SNN family's wall time pins the pair scan staying
    # sample/cell-bounded (broadcast NLJ over ~5% rows, equi mutuality
    # join); the two-stage rerank pins stage 2 touching only the
    # 20-row shortlist; the changepoint pins the joinless two-exchange
    # window chain; the bit-score pins its corpus joins staying
    # hash-keyed; the KMV difference rides the k-row sketch scaffold
    "mutual_knn_pairs",
    "snn_shared_neighbor_edges",
    "jarvis_patrick_clusters",
    "pq_rerank_top3_recall",
    "kmv_difference_estimate",
    "events_value_changepoint",
    "doc_bigram_lm_bitscore",
    # round-14b batch 2: the trend family pins the pair stage staying
    # DAYS-bounded (aggregation-first); the Allen histogram rides the
    # custkey-equi interval pair join
    "events_theil_sen_daily_trend",
    "events_mann_kendall_trend",
    "events_isotonic_daily_value",
    "order_interval_allen_histogram",
    # round-14c: the association-statistics family — KS pins the
    # cumulative stage staying distinct-cents-domain-bounded, Kendall
    # pins the pair stage staying DAYS-bounded, Spearman pins the
    # two rank windows (per-flag sort, no pair object), the chi2 cells
    # / HHI / entropy ride single natural-key exchanges, and the Zipf
    # fit pins the rank stage staying vocab-bounded
    "events_ks_view_purchase",
    "lineitem_spearman_qty_price",
    "events_kendall_daily_taub",
    "orders_priority_status_chi2_cells",
    "nation_customer_order_hhi",
    "events_user_type_entropy_bits",
    "corpus_zipf_loglog_slope",
    # round-14c batch 2: PSI pins the events pass staying one pruned
    # projection + domain-bounded folds; JSD pins the mixture staying
    # vocab x sources (broadcast-built); HITS pins the six round joins
    # staying equi with map-side-combining integer sums
    "events_value_psi_halves",
    "source_token_jsd_vs_corpus",
    "trade_hits_hub_authority",
    # round-14d: Fellegi-Sunter scoring — its wall time pins the
    # candidate stage staying the variant equi-join (the FastSS
    # property) with row-local integer scoring on top; the streaming
    # PSI twin rides the micro-batch replay harness like the other
    # streaming sketch members
    "customer_linkage_fs_weights",
    "streaming_psi_value_halves",
    # round-14c batch 3: both pin the domain-bounded (never row-sorted)
    # two-sample spelling
    "events_mannwhitney_view_purchase",
    "events_value_qq_deciles_halves",
    # round-14d: per-node triangle attribution — wall time pins the
    # corner explode staying output-bounded on the oriented enumeration
    "copurchase_clustering_coefficient",
    # round-14e: KW and the crosscorr pin their single-partition stages
    # staying DOMAIN-bounded (distinct values / days); assortativity
    # rides the HITS edge-list backbone with zero iteration; both MG
    # forms pin the summary staying k-bounded at every level (batch:
    # chunked windows; streaming: the 4-batch stateful fold); the
    # feature encodings pin aggregation-first (vocab / customer
    # domains); the bucketed join's wall time INCLUDES the two
    # bucketed-table writes — the layout amortization trade is the
    # number to watch
    "events_kruskal_wallis_cells",
    "events_daily_crosscorr_view_purchase",
    "trade_degree_assortativity",
    "token_misra_gries_vs_exact",
    "streaming_misra_gries_tokens",
    "doc_feature_hashing_load",
    "customer_target_encoding_smoothed",
    "bucketed_colocated_segment_revenue",
    # round-14e batch 2: k-anonymity pins the QI-class rollup staying
    # domain-bounded; NDCG rides the broadcast all-pairs baseline with
    # literal-constant discounts
    "orders_k_anonymity_profile",
    "truncated_dim_ndcg_at5",
    # round-14e batch 3: kappa rides the langid CTE + |labels|-domain
    # folds; IG pins the domain-median pick + enumerable-level groupBys
    "langid_cohens_kappa",
    "orders_feature_information_gain",
    # round-14e batch 4: rich-club pins the threshold fold staying ONE
    # conditional-sum pass over decorated edges; PMI pins the candidate
    # set staying bigram-vocab-sized
    "copurchase_rich_club",
    "bigram_pmi_collocations",
    # round-14e batch 5: WoE rides the IG median machinery; the class
    # weights are a 1-fold table; negative sampling pins the candidate
    # stage staying broadcast-user-batch x parts (no shuffle before the
    # k-bounded window)
    "orders_woe_iv_cells",
    "events_class_weights",
    "customer_part_negative_samples",
    # round-14e batch 6: log-rank pins the risk sets staying
    # lifespan-domain suffix sums (never per-user-per-day scans)
    "users_logrank_view_vs_other_cells",
    "langid_precision_recall_f1",
    # modularity re-derives the LPA trajectory then adds two equi
    # decorations — its wall time tracks the LPA family's
    "copurchase_lpa_modularity",
    # round-14f: AUC/ROC/lift all pin the score pass staying
    # distinct-cents-DOMAIN-bounded (one groupBy + one domain window /
    # 20 broadcast cutoffs / two <=10-row windows); MRR rides the
    # broadcast all-pairs baseline; McNemar is one row-local string
    # pass + a single-row fold; silhouette pins the scoring staying a
    # zero-shuffle literal-argmin pass (training cost tracks the
    # kmeans family); DB cells add one (cell)-keyed bounded fold + a
    # k-row broadcast pair join; flesch is one row-local regex pass;
    # the gini cells ride the IG median machinery
    "events_purchase_auc_rank_cells",
    "events_purchase_roc_literal_thresholds",
    "events_purchase_decile_lift",
    "truncated_dim_mrr_at5",
    "langid_mcnemar_stopword_vs_conjunction",
    "kmeans_silhouette_simplified",
    "kmeans_davies_bouldin_cells",
    "doc_readability_flesch",
    "orders_feature_gini_impurity_cells",
    # round-14f batch 2: CA trend is a 5-band fold (cheapest shape);
    # the edge-support wall time pins the triangle explode staying
    # output-bounded on the oriented enumeration (the clustering-
    # coefficient property, at edge granularity); blocking quality pins
    # the truth side staying the FastSS variant join with the candidate
    # count never materializing a pair
    "events_purchase_ca_trend_cells",
    "copurchase_edge_support_hist",
    "customer_blocking_quality_profile",
    # the streaming AUC twin rides the micro-batch replay harness like
    # the other streaming sketch members (state = score-domain counts)
    "streaming_purchase_auc_rank_cells",
    # calibration bins ride the IG/encoding median + customer-domain
    # machinery (<=21-row rollup)
    "orders_target_calibration_bins",
    # round-14g: ANOVA/Brown-Forsythe pin the moment pass staying one
    # ~5-key map-side-combined groupBy (BF adds the per-type domain
    # cumulative); t-closeness pins the grid staying |classes| x |sens
    # buckets|; ECE rides the calibration-bins machinery + the chunked
    # conf_b fold; MCC rides the langid CTE; the count-sketch trio pins
    # the signed matrix staying one (i,pos) shuffle (streaming: the
    # 4-batch stateful SUM replay); SemDeDup pins assignment staying
    # row-local with the pair stage cell-bounded; Bradley-Terry pins
    # the duel explode staying <=C(7,2)/order with broadcast-only MM
    # rounds; ORC rides the format-roundtrip harness; Hilbert pins the
    # whole index chain staying row-local integer selects
    "events_value_anova_cells",
    "events_value_brown_forsythe_cells",
    "orders_t_closeness_profile",
    "orders_calibration_ece",
    "langid_mcc_cells",
    "token_count_sketch_vs_exact",
    "token_ams_f2_sketch_vs_exact",
    "streaming_count_sketch_tokens",
    "semdedup_prune_flags",
    "semdedup_cell_summary",
    "brand_bradley_terry_strength",
    "orc_roundtrip_supplier",
    "hilbert_layout_effectiveness",
    # effect sizes ride the MW domain machinery; conformal rides the
    # OLS moment pass + one residual-domain window
    "events_effect_sizes_view_purchase",
    "lineitem_ols_conformal_coverage",
    # TextRank rides the PageRank bounded-rounds discipline on the
    # bigram-vocabulary graph
    "corpus_textrank_keywords",
    # the streaming ANOVA twin rides the micro-batch replay harness
    # (state = |event types| x 3 int64 moment cells)
    "streaming_anova_moment_cells",
]

#: a query is flagged when its median exceeds this multiple of its
#: spin-normalized history median
HISTORY_FACTOR = 1.5


def history_path(here: str, sf: str, cpus: int) -> str:
    """The one history sidecar for this (sf, cpus): timings taken at
    another scale factor or core count are not comparable."""
    return os.path.join(here, f"BENCH_local_sf{sf}_c{cpus}.json")


def load_history(path: str) -> dict:
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def save_history(path: str, context: dict, entries: dict[str, dict]) -> None:
    """Read-merge-write: this run's ``context`` goes on top and
    ``entries`` replace only the queries that ran; every other query
    keeps its last entry."""
    doc = load_history(path)
    doc = {**doc, **context, "queries": {**doc.get("queries", {}), **entries}}
    try:
        with open(path, "w") as f:
            json.dump(doc, f, indent=1)
    except OSError:
        pass  # read-only checkout: stdout still carries the result


def is_flagged(t_now: float, t_hist: float, spin_hist: float, spin_now: float) -> bool:
    """``t_now > HISTORY_FACTOR * t_hist * spin_hist / spin_now``: the
    history median is rescaled to the current host speed, so a slower
    host (lower spin) raises the bar and a code regression on a steady
    host still fires."""
    return t_now > HISTORY_FACTOR * t_hist * spin_hist / spin_now


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf_label = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf = float(sf_label) if sf_label.replace(".", "").isdigit() else sf_label
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    # Controlled re-bench knob (round-7 verdict: the CC bimodality needed
    # a focused >=5-run artifact): comma-separated subset of HEADLINE.
    subset = os.environ.get("SPARK_GRAFT_BENCH_QUERIES", "")
    headline = list(HEADLINE)
    if os.environ.get("SPARK_GRAFT_BENCH_EXTENDED"):
        headline += EXTENDED
    if subset:
        picked = [s.strip() for s in subset.split(",") if s.strip()]
        unknown = [p for p in picked if p not in headline]
        if unknown:
            raise SystemExit(f"unknown bench queries {unknown}; known = {headline}")
        headline = picked
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    cpus = spark.sparkContext.defaultParallelism
    reg = queries()

    # Warm-up: run every headline query once at the smallest SF so the
    # timed pass measures steady-state throughput (codegen compiled, JVM
    # JIT'd, parquet footers cached) — the regime a long-running cluster
    # job actually operates in — instead of first-call JIT noise.
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    def materialize(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    for name in headline:
        try:
            materialize(reg[name](spark, warm_dir))
        except Exception:  # noqa: BLE001 — warm-up must never fail the bench
            pass

    spin = round(cpu_spin_mops(), 1)
    runs: dict[str, list[float]] = {}
    run_load: dict[str, list[float]] = {}
    # interleave rounds (run 0 of every query, then run 1, ...) so a
    # transient host-load spike degrades one ROUND of many queries
    # instead of every sample of one query
    for i in range(n_runs):
        for name in headline:
            q = reg[name]
            run_load.setdefault(name, []).append(round(os.getloadavg()[0], 2))
            t0 = time.perf_counter()
            materialize(q(spark, sf_dir))
            dt = time.perf_counter() - t0
            runs.setdefault(name, []).append(dt)
            print(f"# run {i}: {name}: {dt:.3f}s", file=sys.stderr)
    timings = {name: round(statistics.median(runs[name]), 3) for name in headline}

    # --- self-adjudication (round-8 verdict #5): any line over its own
    # spin-normalized history gets an immediate interleaved re-run
    # recorded in the artifact, so a drift verdict never needs
    # out-of-band evidence.
    path = history_path(os.path.dirname(os.path.abspath(__file__)), sf_label, cpus)
    hist = load_history(path).get("queries") or {}

    def over_history(name: str, t: float) -> bool:
        h = hist.get(name)
        return bool(h) and is_flagged(t, h["median_s"], h["cpu_spin_mops"], spin)

    flagged = [n for n in headline if over_history(n, timings[n])]
    reruns: dict[str, list[float]] = {n: [] for n in flagged}
    for i in range(max(3, n_runs)):  # interleaved, same as the main pass
        for name in flagged:
            t0 = time.perf_counter()
            materialize(reg[name](spark, sf_dir))
            reruns[name].append(round(time.perf_counter() - t0, 3))
            print(f"# adjudicate {i}: {name}: {reruns[name][-1]:.3f}s", file=sys.stderr)
    adjudication = {
        name: {
            "history_median": hist[name]["median_s"],
            "history_spin_mops": hist[name]["cpu_spin_mops"],
            "rerun_all": reruns[name],
            "rerun_median": round(statistics.median(reruns[name]), 3),
            "rerun_min": min(reruns[name]),
            "verdict": (
                "regression-suspect" if over_history(name, min(reruns[name]))
                else "noise"
            ),
        }
        for name in flagged
    }

    context = {
        "sf": sf,
        "cpus": cpus,
        "cpu_spin_mops": spin,
        "loadavg": [round(x, 2) for x in os.getloadavg()],
    }
    entries = {
        name: {
            "median_s": timings[name],
            "runs_s": [round(x, 3) for x in runs[name]],
            "run_loadavg": run_load[name],
            "cpu_spin_mops": spin,
            "runs_per_query": n_runs,
        }
        for name in headline
    }
    for name, verdict in adjudication.items():
        entries[name]["adjudication"] = verdict
    save_history(path, context, entries)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "runs_per_query": n_runs,
                "aggregation": "median",
                "materialize": "noop-write (full column evaluation)",
                **context,
                "history_file": os.path.basename(path) if hist else None,
                "adjudication": adjudication,
                "queries": timings,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
