"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints the
full per-query JSON line the driver records as BENCH_r{N}.json, then a
series of small `{"metric": "per_query", ...}` chunk lines (each a
standalone ~1.2 KB JSON object so per-query numbers survive a bounded
stdout-tail capture), and LAST a compact `{"metric": "headline_total",
...}` summary line so the total always survives the driver's tail even
when the per-query map outgrows it; the full JSON is also written to
BENCH_local.json (override via $SPARK_GRAFT_BENCH_JSON).

Each query is fully materialized through the noop sink (measures the whole
plan including shuffles/writes, without driver-collect overhead). One warmup
query amortizes JVM/codegen startup out of the measurements.

r15 measurement-integrity change (VERDICT r14 items 1-2, explicit per the
round rules): pinned frames are drained between a query's min-of-3 timed
runs (previously runs 2-3 of a pinned query re-read run 1's materialized
cache), each query's FIRST-run time is recorded alongside the min
("queries_cold"), and the per-query map is re-emitted in tail-sized
chunks. Methodology (queries, SF, noop sink, min-of-3) is otherwise
unchanged; totals are therefore comparable but strictly colder than
r13/r14 artifacts for the pinned queries.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from emr_flink_example_spark import cache  # noqa: E402
from emr_flink_example_spark.plans import catalog  # noqa: E402
from emr_flink_example_spark.session import (  # noqa: E402
    codegen_compiles,
    default_parallelism,
    local_test_session,
)

#: Representative, scale-stressing subset of the catalog: scan-heavy agg,
#: fact-fact joins, window functions, event-time windows, as-of, and the
#: LLM-pipeline operators (LSH dedup, ANN, text features).
HEADLINE = [
    "pricing_summary_q1",
    "forecast_revenue_q6",
    "join_multiway_q3",
    "join_regional_revenue_q5",
    "agg_count_distinct",
    "window_topk_per_group",
    "window_session",
    "asof_join",
    "ad_events_partition_projection",
    "dedup_minhash_lsh",
    "dedup_embedding_cosine",
    "dedup_embedding_cosine_vectorized",
    "knn_bruteforce",
    "ann_ivf_topk",
    "text_quality",
    "tfidf_top_terms",
    "bm25_topk",
    "timeseries_znorm_corr",
    "timeseries_resample_gapfill",
    "multimodal_frame_sample",
    "repetition_ngram",
    "sample_stratified",
    "outlier_filter_quantile",
    "merge_upsert",
    "cohort_retention",
    # r2 additions: substring-level dedup, ingest-vs-corpus probe, shuffle,
    # surprisal quality scoring, sessionization, anomaly flags, z-order layout
    "dedup_repeated_spans",
    "dedup_incremental_minhash",
    "shuffle_to_shards",
    "lm_unigram_surprisal",
    "sessionize_events",
    "timeseries_anomaly_zscore",
    "layout_zorder_files",
    "embedding_quantize_pq",
    "ann_pq_adc_topk",
    # r5 additions: the rerank retrieval tier, the full IVF-PQ ladder, and
    # the end-to-end curation pipeline (corpus -> training shards in one job)
    "ann_pq_adc_rerank_topk",
    "ann_ivfpq_topk",
    "curate_for_training",
    # late-r5 additions: hybrid retrieval fusion, the cross-split leakage
    # audit (a second full LSH pass), and per-user Markov transitions
    "retrieval_rrf_fusion",
    "split_leakage_audit",
    "event_transition_matrix",
    "lm_bigram_surprisal",
    "timeseries_interpolate_linear",
    # r6 addition: the tokenizer apply half (train-then-segment, trained
    # merges memoized; min-of-3 measures steady-state segmentation)
    "bpe_segment_docs",
    "ann_ivfpq_residual_topk",
    "ann_mmr_topk",
    "quality_drift_psi",
    # r7 additions: SemDeDup over the trained k-means clusters (reuses the
    # memoized IVF coarse quantizer; in-cluster pairs are skew-guarded) and
    # DSIR importance weights (two token-stream scans + B-row broadcast)
    "dedup_semantic_clusters",
    "dsir_importance_weights",
    # late-r7 additions: the Gopher rule gate (pure map-side, runs at scan
    # speed), PMI collocations (distinct-(doc,word) self-join bounded by
    # per-doc vocabulary), and integer PageRank over the dup graph (5
    # join+groupBy rounds, engine-exact integer mass)
    "quality_gopher_rules",
    "pmi_top_pairs",
    "graph_pagerank",
    # CCNet head/middle/tail stratification (surprisal scans + a
    # value-bounded histogram window) and the DSIR Gumbel-top-k resample
    # (scorer + one TakeOrderedAndProject)
    "ccnet_perplexity_buckets",
    "dsir_resample_topk",
    # n-gram novelty: one shingle-df shuffle + rejoin (the decontamination
    # shape applied corpus-reflexively)
    "ngram_novelty",
    # the one-row corpus data card (map-side features + one aggregate +
    # the fingerprint groupBy)
    "corpus_datacard",
    # semantic eval-set decontamination (bucketed probe x corpus cosine)
    "embedding_decontamination",
    # TPC-H Q10: returned-item revenue (fact-fact join + top-20 TakeOrdered)
    "top_customers_q10",
    # TPC-H Q18: large-volume customers (HAVING-subquery aggregate-then-join)
    "large_orders_q18",
    # TPC-H Q7: nation-pair volume shipping (6-way join, dims pre-filtered
    # before broadcast) and Q13: customer order-count distribution (outer
    # join with ON-clause predicate + two-level aggregate)
    "volume_shipping_q7",
    "customer_distribution_q13",
    # r7 continuation: the last TPC-H shapes — Q9 (5-way star over the full
    # fact table) and Q21 (EXISTS/NOT-EXISTS double self-join on orderkey)
    "product_profit_q9",
    "waiting_supplier_q21",
    # r7 continuation: prefix-filtered set-similarity join (candidate
    # pruning vs the exhaustive index), the explicit-register HLL sketch,
    # multi-touch attribution (user-keyed join + one window sort), and the
    # power-iteration PCA fit (4 sample-bounded aggregate passes)
    "dedup_jaccard_ppjoin",
    "sketch_hll_distinct",
    "attribution_multitouch",
    "embedding_pca_power",
    # r7 continuation, second wave: winnowing fingerprints (map-side kgram
    # expansion + doc-keyed window min), TextRank (5 integer-weighted
    # graph rounds), Adamic-Adar (capped wedge self-join over the simhash
    # graph), CUSUM changepoints (dense-grid running windows), matryoshka
    # truncation recall (broadcast multi-dim scoring ladder), the
    # exact-rank equi-depth histogram, Theil-Sen pairwise-slope median,
    # and the CDC snapshot diff (key-colocated full outer join)
    "winnowing_fingerprints",
    "keyword_textrank",
    "graph_adamic_adar",
    "timeseries_cusum_changepoint",
    "embedding_matryoshka_recall",
    "histogram_equidepth",
    "timeseries_theil_sen",
    "table_change_log",
    # third wave: the integer-DCT perceptual hash (two broadcast-join DCT
    # stages + doc-keyed median) and the NDCG evaluation (bm25 reuse +
    # judgment pass)
    "multimodal_phash",
    "retrieval_ndcg",
    # r8: track the remaining r7c statistics/maintenance ops (VERDICT r7
    # ask #7) — A/B two-proportion z-test, Holt forecast recurrence, ACF
    # by integer lag sums, MAD robust outliers, KS drift, head-vocabulary
    # coverage curve, language-ID confusion matrix, and the small-file
    # compaction planner
    "abtest_proportion_ztest",
    "timeseries_holt_forecast",
    "timeseries_acf",
    "outlier_robust_mad",
    "quality_drift_ks",
    "vocab_coverage",
    "quality_language_confusion",
    "compaction_plan",
    # r8 new surface: 1-bit binary-quantization retrieval ladder,
    # Mann-Whitney rank-sum test, interpolated Kneser-Ney bigram model,
    # and classical seasonal decomposition
    "ann_binary_hamming_topk",
    "abtest_mann_whitney",
    "lm_kneser_ney_bigram",
    "timeseries_seasonal_decompose",
    # r8 second wave: Markov removal-effect attribution (driver-solved
    # bounded chain over one user-keyed window pass), exponential-race
    # weighted sampling, Benford first-digit audit
    "attribution_markov_removal",
    "sample_weighted_es",
    "benford_digit_audit",
    # r8 third wave: KN per-doc scorer (the persisted-pair-model case) and
    # per-arm Wilson intervals
    "lm_kneser_ney_surprisal",
    "abtest_wilson_ci",
    # r8 fourth wave: JL projection distortion census and b-bit minhash
    # storage/quality calibration
    "embedding_jl_distortion",
    "sketch_minhash_bbit",
    # r8: pHash Hamming-ball image near-dup pairs (banded, exhaustive oracle)
    "multimodal_phash_pairs",
    # r9: sublinear banded probe tier over the binary sign codes
    "ann_binary_hamming_banded_topk",
    # r9 second wave: Zipf rank-frequency fit, lang x length mutual
    # information, chi-square independence test, stratified ES race
    "vocab_zipf_slope",
    "quality_lang_mutual_info",
    "abtest_chi_square",
    "sample_weighted_es_stratified",
    # r9: one-pass anisotropy census (sum-vector identity)
    "embedding_anisotropy",
    # r9 third wave: RFM segmentation + Pareto/ABC classes
    "event_rfm_segmentation",
    "pareto_abc_analysis",
    # r9 fourth wave: directed containment + MRR evaluation
    "sketch_minhash_containment",
    "retrieval_mrr",
    # r9 fifth wave: rank/concentration/association statistics
    "stats_spearman_corr",
    "revenue_gini_lorenz",
    "abtest_cramers_v",
    # r9 sixth wave: LM retrieval / dispersion / frequency spectrum
    "retrieval_query_likelihood",
    "text_term_burstiness",
    "lm_good_turing_counts",
    # r9 seventh wave: survival / association / symbolic series
    "survival_kaplan_meier",
    "basket_lift_pairs",
    "timeseries_sax_words",
    # r9 eighth wave: view maintenance / time travel / audio landmarks
    "incremental_agg_refresh",
    "table_snapshot_asof",
    "multimodal_audio_fingerprint",
    # r9 ninth wave: inter-rater agreement + concordance statistics
    "quality_gate_kappa",
    "stats_kendall_tau",
    # r9 tenth wave: Shapley attribution / graph Jaccard / retrieval P-R
    "attribution_shapley",
    "graph_node_jaccard",
    "retrieval_precision_recall",
    # r9 eleventh wave: lateral top-N / null-safe join / cumulative reach
    "join_lateral_topn",
    "join_null_safe_eq",
    "window_cumulative_distinct",
    # r9 twelfth wave: EWMA crossover / windowed funnel / quality survivors
    "timeseries_ewma_crossover",
    "funnel_windowed",
    "dedup_survivor_by_quality",
    # r9 thirteenth wave: clustering coefficient / RAKE / weighted median
    "graph_clustering_coefficient",
    "text_keyphrase_rake",
    "agg_weighted_median",
    # r9 fourteenth wave: Heaps-law growth / Brown-Forsythe spread test
    "vocab_heaps_law",
    "abtest_brown_forsythe",
    # r10 first wave: k-group rank test / AUC / path mining / skyline
    "stats_kruskal_wallis",
    "stats_roc_auc",
    "events_path_trigrams",
    "pareto_skyline_users",
    # r10 second wave: JS divergence / fightin' words / Fleiss / MAP
    "corpus_divergence_js",
    "text_distinctive_terms",
    "quality_fleiss_kappa",
    "retrieval_map",
    # r10 third wave: moving median / HITS / CUPED
    "window_moving_median",
    "graph_hits",
    "abtest_cuped",
    # r10 fourth wave: effect size / association rules / normalized-position
    # windows / centroid affinity
    "abtest_cohens_d",
    "basket_association_rules",
    "window_percent_rank_cume",
    "embedding_centroid_affinity",
    # r10 fifth wave: ANOVA F / conversion latency percentiles / lagged
    # cross-correlation / LOO 1-NN embedding eval
    "stats_f_oneway",
    "funnel_time_to_convert",
    "timeseries_crosscorr",
    "embedding_knn_loo_accuracy",
    # r10 sixth wave: deterministic-resample inference / diverse coreset
    "abtest_permutation_test",
    "sample_coreset_kcenter",
    # r10 seventh wave: streaks / entropy rate / sketch algebra / diversity
    "user_activity_streaks",
    "events_markov_entropy",
    "sketch_hll_intersection",
    "text_simpson_diversity",
    # r10 eighth wave: interval sweep / cohort LTV / paired-gate McNemar
    "orders_open_interval_census",
    "events_cohort_ltv",
    "quality_gate_mcnemar",
    # r10 ninth wave: DAU/WAU stickiness / fill-rate SLA
    "event_dau_wau_ratio",
    "orders_fill_rate_sla",
    # r11: the HLL register tier (the 100 TB stickiness path), the
    # Mann-Kendall grid-pair trend test, and the data-quality family
    "event_dau_wau_hll",
    "stats_mann_kendall",
    "dq_profile_columns",
    "dq_constraint_checks",
    # r12 additions (appended at tail, keeping prior positions stable)
    "abtest_welch_ttest",
    "abtest_srm",
    "timeseries_seasonal_strength",
    # r13 additions
    "dedup_minhash_oph",
    "oph_calibration",
    "abtest_bayes_beta",
    "stats_wilcoxon_signed_rank",
    "timeseries_holt_winters",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = local_test_session()
    spark.sparkContext.setLogLevel("ERROR")
    queries = catalog.all_queries(managed=False)

    import shutil
    import tempfile

    def run(name: str) -> float:
        if name == "curate_for_training":
            # composite action pipeline (writes its own output), not a
            # catalog DataFrame builder
            from emr_flink_example_spark.operators.curation import curate_for_training

            out = tempfile.mkdtemp(prefix="bench-curate-")
            try:
                t0 = time.time()
                curate_for_training(spark, sf_dir, out)
                return time.time() - t0
            finally:
                shutil.rmtree(out, ignore_errors=True)
        t0 = time.time()
        queries[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
        return time.time() - t0

    # Warmup: JVM + codegen via one full query, then a cheap count per table
    # so parquet footer/listing caches are warm for every headline query —
    # the measurements are steady-state query execution, not metadata
    # bootstrap (which is a fixed cost, negligible at real scale).
    from emr_flink_example_spark.io import TABLES, load  # noqa: E402

    try:
        run(HEADLINE[0])
        for t in TABLES:
            load(spark, sf_dir, t).count()
    except Exception:
        pass  # a broken warmup query is re-reported by its own timed run

    # Three runs per query, report the min: run 1 pays one-time plan/codegen
    # compilation (a fixed cost irrelevant at real scale); the min of the
    # remaining runs measures steady-state execution and shields the
    # recorded number from ambient-load spikes on a shared host.
    #
    # MEASUREMENT INTEGRITY (r15, VERDICT r14 item 1): pinned frames are
    # drained BETWEEN a query's timed runs, not just between queries — the
    # old managed=False cadence let Spark's CacheManager serve runs 2-3 of
    # every pinned() query from the InMemoryRelation run 1 materialized, so
    # the recorded min was a warm-cache figure. Every timed run now rebuilds
    # its pins from the parquet inputs (the qtime.py discipline). The first
    # run's time is ALSO recorded per query ("queries_cold") so costs that a
    # session-level memo amortizes across runs (trained PQ/BPE/simhash
    # models, reused while their input files are unchanged) stay visible
    # in the artifact instead of vanishing into the min.
    #
    # Each query's generated classes compiled over its runs (and the
    # approximate ms spent compiling them, see `codegen_compiles`) are
    # recorded too: with the codegen cache sized to hold them, only the
    # first run compiles.
    timings = {}
    cold = {}
    compiles = {}
    compile_ms = {}
    errors = {}
    for name in HEADLINE:
        # the composite curation pipeline is a multi-minute action chain
        # with its own internal caching — one run, not min-of-3
        runs = 1 if name == "curate_for_training" else 3
        try:
            vals = []
            n0, _ = codegen_compiles(spark)
            for _ in range(runs):
                vals.append(run(name))
                # drain this query's pins after EVERY run (see above)
                cache.unpersist_all(spark)
            n1, mean_ms = codegen_compiles(spark)
            timings[name] = round(min(vals), 3)
            cold[name] = round(vals[0], 3)
            compiles[name] = n1 - n0
            compile_ms[name] = round((n1 - n0) * mean_ms, 1)
        except Exception as exc:  # one broken query must not sink the whole
            # bench artifact (rounds 3-4 recorded NO timings because a single
            # failure crashed the run before the JSON line was printed)
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            cache.unpersist_all(spark)
    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_cold": cold,
        "codegen_compiles": compiles,
        "codegen_ms": compile_ms,
        "runs_per_query": 3,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": default_parallelism(),
    }
    try:
        import subprocess

        out["git_rev"] = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, cwd=os.path.dirname(os.path.abspath(__file__)),
        ).stdout.strip() or None
    except Exception:
        out["git_rev"] = None
    if errors:
        out["errors"] = errors

    print(json.dumps(out))
    # Truncation-proofing (VERDICT r7 #1: the driver tails ~2000 chars of
    # stdout, and at 76+ queries the full JSON line outgrew it, losing the
    # header): (a) the full JSON is ALSO written to a committed file, and
    # (b) a compact summary line is printed LAST so the headline total
    # always survives any tail capture.
    local_path = os.environ.get(
        "SPARK_GRAFT_BENCH_JSON",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_local.json"),
    )
    try:
        with open(local_path, "w") as f:
            json.dump(out, f, indent=1)
            f.write("\n")
    except OSError:
        pass  # a read-only checkout must not sink the bench run
    # Per-query channel for the driver (VERDICT r14 item 2): the full JSON
    # line above outgrows the driver's ~2000-char stdout tail, so PERF's
    # per_query map came back empty two rounds running. Re-emit the
    # per-query mins as a series of SMALL standalone JSON lines (compact
    # separators, ~1.2 KB each) right before the final summary — each line
    # parses on its own, so however much of the tail survives yields a
    # usable partial map, and a full-stdout reader reassembles all parts.
    pq_items = sorted(timings.items())
    chunks: list[dict] = [{}]
    for k, v in pq_items:
        trial = dict(chunks[-1])
        trial[k] = v
        if len(json.dumps(trial, separators=(",", ":"))) > 1200 and chunks[-1]:
            chunks.append({k: v})
        else:
            chunks[-1][k] = v
    for i, ch in enumerate(chunks):
        print(json.dumps(
            {"metric": "per_query", "part": i + 1, "of": len(chunks), "queries": ch},
            separators=(",", ":"),
        ))
    compact = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        "n_errors": len(errors),
        "sf": out["sf"],
        "full_json": os.path.basename(local_path),
    }
    print(json.dumps(compact))
    spark.stop()
    # a partial artifact is still an artifact, but failures must be loud
    if errors:
        sys.exit(1)


if __name__ == "__main__":
    main()
