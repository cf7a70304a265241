"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line with per-query wall seconds.

Each query is fully materialized through the `noop` sink (computes every
output row JVM-side, writes nothing) so column pruning can't short-circuit
the measured work the way `.count()` would.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as E
from jira_cdc_git_spark.session import get_spark

BENCH_QUERIES = [
    "pricing_summary",
    "predicate_scan_agg",
    "join_revenue_by_nation",
    "incremental_changes",
    "topn_per_group",
    "breakdown_grouping_sets",
    "union_dedup",
    "tumbling_hourly",
    "sessionize",
    "asof_last_error",
    "jql_project_active",
    "jql_was_open_after",
    "pagerank_links",
    "range_join_concurrency",
    "value_anomalies",
    "funnel_conversion",
    "fuzzy_match_entities",
    "scd2_status_history",
    "winsorized_stats",
    "dq_report",
    "validate_requests",
    "paged_scan_keyset",
    "incremental_candidates",
    "epic_hierarchy",
    "config_drift",
    "customer_similarity",
    "profile_usage_stats",
    "doc_fingerprints",
    "token_stats",
    "quality_score",
    "lang_id",
    "bpe_token_estimate",
    "neardup_pairs_lsh",
    "ngram_jaccard_pairs",
    "winnow_fingerprints",
    "simhash_signatures",
    "simhash_neardup_pairs",
    "bigram_surprisal",
    "repetition_metrics",
    "boilerplate_ngrams",
    "decontaminate",
    "pii_scrub",
    "stratified_sample",
    "gopher_quality_filters",
    "perplexity_buckets",
    "source_cap_sample",
    "token_budget_sample",
    "pmi_topk",
    "minhash_accuracy_report",
    # exact `semdedup` (N^1.5 by design) is demoted to the audit suite
    # (registry + test_oracle_parity replay); the headline + probe carry
    # the linear-scale default `semdedup_capped` (r6 verdict task)
    "token_examples_salted",
    "corpus_shards",
    "kmv_distinct_estimate",
    "tfidf_topk",
    "corpus_retention",
    "neardup_clusters",
    "corpus_retention_clustered",
    "doc_length_quantiles",
    "media_stats",
    "cosine_topk",
    "ivf_topk",
    "embedding_neardup",
    "hierarchy_levels",
    "duplicate_spans",
    "strip_duplicate_spans",
    "bloom_decontaminate",
    "domain_mixture_weights",
    "sq8_topk",
    "pq_topk",
    "pq_rerank_topk",
    "mixture_resample",
    "zorder_skipping_report",
    "admission_report",
    "curation_funnel_report",
    "bpe_train_merges",
    "ivfpq_topk",
    "bpe_subword_train_merges",
    "bpe_subword_encode",
    # skew mitigation pair: same skewed fixture, with/without the salt
    # stage — the bench line IS the comparison
    "salted_epic_join",
    "skewed_epic_join_unsalted",
    "knn_join",
    "ivf_knn_join",
    "corpus_manifest",
    "relationship_symlinks",
    "multi_benchmark_decontaminate",
    # round-5 wave 2: retrieval + DSIR + oracle-exact k-means
    "bm25_topk",
    "keyword_search",
    "dsir_importance_weights",
    "dsir_resample",
    "kmeans_assign",
    "kmeans_cluster_report",
    "ngram_novelty_report",
    "shard_drift_report",
    "containment_pairs",
    "overlap_chunks",
    "quality_calibration_report",
    "heavy_hitters_cms",
    "token_triangles",
    "clustering_coefficient",
    "cohort_retention",
    "neyman_stratified_sample",
    "zipf_fit_report",
    # round-5 wave 4: robust stats, search, audits, placement, sampling
    "decayed_engagement",
    "mad_anomalies",
    "phrase_search",
    "chi2_keywords",
    "char_entropy_report",
    "bbit_minhash_report",
    "cross_split_leakage",
    "corpus_snapshot_diff",
    "rendezvous_shards",
    "curriculum_order",
    "weighted_sample_topk",
    "silhouette_report",
    "label_centroid_similarity",
    "allpairs_prefix_jaccard",
    "proximity_search",
    "kcore_decomposition",
    "quantile_normalize_scores",
    "langid_confusion",
    # round-6: backlog registrations, micro-Lloyd ANN pair, driver-green
    # twins, observability rollup, capped SemDeDup
    "interarrival_stats",
    "conversion_latency_report",
    "srp_neardup_pairs",
    "core_numbers",
    "dup_source_matrix",
    "ivf_topk_kmeans",
    "ivfpq_topk_kmeans",
    "key_from_path_report",
    "duration_parse_report",
    "sync_history_tail",
    "state_roundtrip_readback",
    "job_metrics_rollup",
    "semdedup_capped",
    "hits_scores",
    "mmr_diverse_topk",
    # r6 wave additions: graph analytics, event-time, lexical stats,
    # ANN compression extremes, CUBE
    "link_prediction_scores",
    "link_components",
    "degree_distribution",
    "markov_transitions",
    "cusum_changepoints",
    "gap_fill_locf",
    "seasonality_profile",
    "hapax_report",
    "vocabulary_growth",
    "heaps_law_fit",
    "textrank_keywords",
    "matryoshka_recall_report",
    "binary_hamming_topk",
    "orders_cube",
    "status_dwell_report",
    "event_paths_topk",
    "user_coactivity_pairs",
    "burstiness_report",
    "session_entry_stats",
    "debounced_events",
    "idf_drift_report",
    "basket_pairs_topk",
    "stopword_discovery",
    "tfidf_cosine_pairs",
    "value_equidepth_bins",
    "graph_assortativity",
    "cluster_size_histogram",
    "gini_user_activity",
    "bloom_semijoin_report",
    "anomaly_consensus_report",
    "order_fanout_histogram",
    "customer_rfm_scores",
    "shipping_priority_topk",
    "local_supplier_volume",
    # r8 TPC-H completion (Q6/Q9/Q17/Q19/Q21 shapes) + KMV twin
    "forecast_revenue_change",
    "product_profit_by_nation",
    "small_quantity_revenue",
    "disjunctive_band_revenue",
    "waiting_suppliers_report",
    "kmv_accuracy_report",
    # r8 curation-eval wave
    "readability_report",
    "dataset_card_report",
    "session_transition_entropy",
    "cluster_label_nmi",
    "hybrid_rrf_topk",
    "autocorrelation_report",
    "tokenizer_fertility_report",
    "source_lang_entropy",
    "embedding_dim_variance_report",
    # r7 driver twins (C3 option arms, F12 job id, F13 JSON edge, S4 YAML)
    "incremental_option_variants",
    "job_id_report",
    "json_edge_roundtrip",
    "yaml_roundtrip_report",
    # r7 wave 7
    "repeat_purchase_interval",
    "ship_lag_stats",
    "nation_trade_volume",
    "market_share_report",
    "join_cardinality_estimate",
    "orders_yoy_growth",
    "kmv_overlap_estimate",
    "token_length_histogram",
    "hard_negative_mining",
    "csv_edge_roundtrip",
    "min_cost_supplier",
    "ab_test_report",
    "event_type_correlation",
    "bootstrap_mean_ci",
    "knn_label_accuracy",
    # r7 wave 6
    "rolling_daily_median",
    "segment_intersect",
    "discount_band_report",
    "revenue_concentration_report",
    "link_reciprocity_report",
    "prefix_dup_report",
    # r7 analytics wave
    "personalized_pagerank",
    "mips_topk",
    "embedding_norm_stats",
    "vocab_coverage_curve",
    "events_props_extract",
    "order_priority_lateness",
    # r7 TPC-H completion wave
    "returned_items_topk",
    "customer_order_distribution",
    "promo_revenue_share",
    "top_supplier_revenue",
    "large_volume_customers",
    "dormant_rich_customers",
    # r9 wave: rank statistics, retrieval eval, blocking eval, dedup
    # tuning curve, packing efficiency
    "mann_whitney_report",
    "ks_test_report",
    "blocking_quality_report",
    "retrieval_ndcg_report",
    "semdedup_threshold_curve",
    "packing_efficiency_report",
    # r9 wave 2: Benford audit, bottom-k quantile sketch, Chao1/Good-
    # Turing richness, LSH S-curve calibration, dedup survivorship
    "benford_deviation_report",
    "bottomk_quantile_sketch",
    "vocab_richness_report",
    "lsh_scurve_calibration",
    "cluster_canonical_selection",
    # r9 wave 3: robust trend, LPA communities, PRF retrieval
    "theil_sen_trend",
    "label_propagation_communities",
    "rocchio_expanded_topk",
    # r9 wave 4: JSD drift matrix, source overlap, forecast backtest
    "token_js_divergence",
    "source_shingle_overlap",
    "seasonal_naive_backtest",
    # r9 wave 5: query-likelihood ranking, seasonal residual anomalies
    "lm_dirichlet_topk",
    "seasonal_residual_anomalies",
    # r10 additions
    "edit_distance_neardup",
    "split_contamination_report",
    "source_gini_report",
    "spearman_corr_report",
    "hill_tail_index",
    "event_association_rules",
    "embedding_norm_outliers",
    "length_drift_by_source",
    "inter_event_gap_quantiles",
    "bpe_roundtrip_report",
    # r11 additions
    "repeated_substring_report",
    "rbo_ranking_agreement",
    "wasserstein_drift_report",
    "bigram_entropy_rate",
    # r12 additions: trained-LM curation (KN perplexity + LR classifier)
    "kn_discount_table",
    "kn_perplexity_report",
    "kn_perplexity_split",
    "quality_lr_train",
    "quality_lr_score",
    "quality_lr_calibration",
    "quality_lr_holdout_eval",
]


#: five cheap, code-stable queries re-run at the very START and very END
#: of every bench pass (r10 verdict task 10): the VM's run-to-run drift
#: (+6.5% common-set swing on near-identical code between r9 and r10) is
#: now larger than most engineered wins, so the artifact carries a
#: measured first/last pair per sentinel. Cross-round comparisons divide
#: by the sentinel drift instead of guessing which swing is real.
SENTINEL_QUERIES = [
    "pricing_summary",
    "topn_per_group",
    "token_stats",
    "sessionize",
    "cosine_topk",
]


def _git_stamp() -> dict:
    """Record WHICH code this artifact measured (r9 task 2 / r10 task 2:
    three consecutive rounds shipped an operator commit AFTER the final
    bench artifact, so the committed numbers measured code that no
    longer existed). tests/test_bench_artifact.py asserts the committed
    artifact's sha is clean and not older than the last operator-code
    commit."""
    import subprocess

    repo = os.path.dirname(os.path.abspath(__file__))
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=repo, capture_output=True, text=True, check=True,
        ).stdout.strip()
        dirty = subprocess.run(
            ["git", "status", "--porcelain", "--",
             "jira_cdc_git_spark", "__spark_entry__.py", "bench.py"],
            cwd=repo, capture_output=True, text=True, check=True,
        ).stdout.strip()
        return {"git_sha": sha, "git_dirty": bool(dirty)}
    except Exception:
        return {"git_sha": None, "git_dirty": None}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    spark = get_spark(app_name="bench")
    qs = E.queries()
    git_stamp = _git_stamp()

    # untimed warmup: absorb JVM/codegen/parquet-footer startup so the first
    # measured query reflects steady-state cost, not session bring-up
    spark.read.parquet(f"{sf_dir}/nation.parquet").write.format("noop").mode(
        "overwrite"
    ).save()

    def _sentinel_pass() -> dict[str, float]:
        out: dict[str, float] = {}
        for name in SENTINEL_QUERIES:
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            out[name] = round(time.perf_counter() - t0, 3)
        return out

    # sentinel pass #1: the VM's speed at the start of the bench window
    # (run twice, keep the min, so first-call codegen doesn't pollute the
    # drift signal — the END pass runs on a fully warm session)
    _warm, _steady = _sentinel_pass(), _sentinel_pass()
    sentinel_first = {k: min(_warm[k], _steady[k]) for k in SENTINEL_QUERIES}
    # midpoint timestamps of the two sentinel windows anchor the linear
    # drift curve the normalized total divides by (r12 verdict task 4)
    sentinel_t0 = time.perf_counter()

    timings: dict[str, float] = {}
    all_runs: dict[str, list[float]] = {}
    run_mids: dict[str, list[float]] = {}

    def _timed_run(name: str) -> float:
        """One cleared-cache noop-sink run; records the run's midpoint
        timestamp for drift normalization."""
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        t1 = time.perf_counter()
        all_runs.setdefault(name, []).append(t1 - t0)
        run_mids.setdefault(name, []).append((t0 + t1) / 2)
        return t1 - t0

    for name in BENCH_QUERIES:
        # two runs, report the min: the steady-state cost of the plan.
        # The first run also pays per-query codegen/compile (~1-3 s) and
        # whatever cached blocks earlier queries left behind — clear those
        # so one query's residue can't distort the next's measurement.
        _timed_run(name)
        _timed_run(name)
        runs = all_runs[name]
        # the VM pauses intermittently (multi-second hypervisor/GC
        # stalls); when the two runs disagree wildly a stall likely ate
        # one (or both) — take one more sample so the reported min
        # reflects the plan, not the pause
        if max(runs) > 2.5 * min(runs) or min(runs) > 2.0:
            _timed_run(name)
        timings[name] = round(min(runs), 3)

    # Variance band for the heaviest queries (r8 verdict task 10), now
    # taken as INTERLEAVED legs (r12 verdict task 4): two extra
    # round-robin passes over the top-10 spread each query's samples
    # across the tail of the bench window, so a contiguous VM-drift
    # phase corrupts at most one leg per query instead of every sample
    # of whichever queries landed inside it. min/median/max over ALL
    # samples; the headline cell keeps the same estimator (min), which
    # extra samples can only sharpen.
    import statistics as _stats

    heaviest = sorted(timings, key=timings.get, reverse=True)[:10]
    for _leg in range(2):
        for name in heaviest:
            _timed_run(name)
    variance_band: dict[str, dict] = {}
    for name in heaviest:
        timings[name] = round(min(all_runs[name]), 3)
        rs = sorted(all_runs[name])
        variance_band[name] = {
            "min": round(rs[0], 3),
            "median": round(_stats.median(rs), 3),
            "max": round(rs[-1], 3),
            "n_runs": len(rs),
        }

    # sentinel pass #2: same five queries at the END of the headline-query
    # window (moved BEFORE the sync/git/admission and sf1-probe blocks in
    # r13 so the drift pair tightly brackets the window it normalizes).
    # drift_ratio_median ~ 1.0 means the VM held steady; >1.15 means the
    # machine slowed under us and cross-round per-query comparisons
    # should be read against it.
    import statistics as _st

    # estimate the END the same way as the START — min of two passes —
    # so drift_ratio_median is not biased upward by single-pass noise
    # (r11 advice: asymmetric estimators read steady VMs as drifting)
    sentinel_t1 = time.perf_counter()
    _end_a, _end_b = _sentinel_pass(), _sentinel_pass()
    sentinel_last = {k: min(_end_a[k], _end_b[k]) for k in SENTINEL_QUERIES}
    drift = [
        sentinel_last[k] / sentinel_first[k]
        for k in SENTINEL_QUERIES
        if sentinel_first.get(k)
    ]

    total = round(sum(timings.values()), 3)

    # Drift-normalized total (r12 verdict task 4): the sentinel pair
    # showed the VM running up to ~2.3x slower through PART of a pass
    # (r12 drift_ratio_median 0.444), which swamped every engineered
    # win in the raw total. Model the VM slowdown as LINEAR in time
    # between the two sentinel windows (ratio r0=1 at the start, r1 =
    # median(first)/median(last) at the end, in units of the FASTER
    # window), divide every run by the modeled slowdown at its own
    # midpoint, and re-take the per-query min. `value` stays the raw
    # contract metric; `value_drift_normalized` is the cross-round
    # comparison number. With a steady VM the two are identical.
    import statistics as _stn

    med_first = _stn.median(sentinel_first.values())
    med_last = _stn.median(sentinel_last.values())
    fast = min(med_first, med_last) or 1.0
    r0, r1 = med_first / fast, med_last / fast
    span = max(sentinel_t1 - sentinel_t0, 1e-9)

    def _slowdown(t: float) -> float:
        x = min(max((t - sentinel_t0) / span, 0.0), 1.0)
        return max(r0 + (r1 - r0) * x, 1.0)

    timings_norm = {
        name: round(
            min(
                sec / _slowdown(mid)
                for sec, mid in zip(all_runs[name], run_mids[name])
            ),
            3,
        )
        for name in timings
    }
    total_norm = round(sum(timings_norm.values()), 3)

    # E2E sync throughput at the reference's benchmark sizes (BASELINE.md:
    # <30s @100, <120s @500, <300s @1000 issues; floor >= 0.5 issues/s).
    # Full pipeline per batch: change-filter vs empty state, issues +
    # commit-log sinks, state MERGE, history append.
    import shutil
    import tempfile

    from jira_cdc_git_spark import fixtures as FX
    from jira_cdc_git_spark.state import SyncStateStore
    from jira_cdc_git_spark.streaming.pipeline import incremental_sync_batch

    # untimed warmup sync: absorbs first-call plan compilation and the
    # one-off major GC a long session tends to hit here
    _wtmp = tempfile.mkdtemp(prefix="bench_sync_warm_")
    try:
        incremental_sync_batch(
            spark,
            FX.issues(spark, sf_dir).limit(50).localCheckpoint(),
            SyncStateStore(os.path.join(_wtmp, "state")),
            os.path.join(_wtmp, "out"),
        )
    finally:
        shutil.rmtree(_wtmp, ignore_errors=True)

    sync: dict[str, dict[str, float]] = {}
    for n_issues in (100, 500, 1000):
        tmp = tempfile.mkdtemp(prefix="bench_sync_")
        try:
            store = SyncStateStore(os.path.join(tmp, "state"))
            # materialize the candidate batch BEFORE the clock: the sync
            # engine is under test, not the synthetic fixture derivation
            batch = FX.issues(spark, sf_dir).limit(n_issues).localCheckpoint()
            t0 = time.perf_counter()
            incremental_sync_batch(spark, batch, store, os.path.join(tmp, "out"))
            dt = time.perf_counter() - t0
            sync[f"sync_{n_issues}"] = {
                "sec": round(dt, 3),
                "issues_per_sec": round(n_issues / dt, 1),
            }
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    # Real git materialization (the reference's output contract: one YAML
    # file + one conventional commit per issue; its gate is <100 ms per git
    # op => 1000 issues in <=100 s). fast-import lands the same batch in
    # one streaming process.
    from jira_cdc_git_spark import sinks_git

    tmp = tempfile.mkdtemp(prefix="bench_git_")
    try:
        batch = FX.issues(spark, sf_dir).limit(1000).localCheckpoint()
        t0 = time.perf_counter()
        n = sinks_git.materialize_fast_import(batch, os.path.join(tmp, "repo"))
        dt = time.perf_counter() - t0
        sync["git_materialize_1000"] = {
            "sec": round(dt, 3),
            "issues_per_sec": round(n / dt, 1),
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    # Per-project fan-out (the scale path: one fast-import per project
    # inside executors; the Spark driver receives only per-project counts).
    tmp = tempfile.mkdtemp(prefix="bench_git_fan_")
    try:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        w = Window.partitionBy("project_key").orderBy("key")
        batch = (
            FX.issues(spark, sf_dir)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= 200)
            .drop("__rn")
            .localCheckpoint()
        )
        n = batch.count()
        t0 = time.perf_counter()
        counts = sinks_git.materialize_fan_out(batch, os.path.join(tmp, "repos"))
        dt = time.perf_counter() - t0
        sync["git_fan_out"] = {
            "sec": round(dt, 3),
            "issues_per_sec": round(n / dt, 1),
            "n_repos": len(counts),
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    # Corpus-admission gate throughput (the round-4 curation front door):
    # 500 candidate docs through the composed quality+PII+decontamination+
    # near-dup-vs-corpus verdict body against the full sf documents table.
    from pyspark.sql import functions as F2

    from jira_cdc_git_spark.functions import text as TXF
    from jira_cdc_git_spark.materialize import materialize as _mat
    from jira_cdc_git_spark.operators.text import (
        lsh_bands_frame,
        shingle_sets_frame,
    )
    from jira_cdc_git_spark.sources.registry import load_table
    from jira_cdc_git_spark.streaming.pipeline import admission_frame

    corpus = load_table(spark, "documents", sf_dir)
    bench_grams = _mat(
        corpus.filter(F2.col("doc_id") % 100 == 0)
        .select(F2.explode(TXF.shingles(F2.col("text"), 6)).alias("gram"))
        .distinct()
    )
    corpus_sets = _mat(shingle_sets_frame(corpus))
    corpus_bands = _mat(
        lsh_bands_frame(corpus_sets).withColumnRenamed("doc_id", "corpus_doc_id")
    )
    cand = (
        corpus.orderBy("doc_id")
        .limit(500)
        .select((F2.col("doc_id") + 5_000_000).alias("doc_id"), "text")
        .localCheckpoint()
    )
    t0 = time.perf_counter()
    admission_frame(cand, bench_grams, corpus_sets, corpus_bands).write.format(
        "noop"
    ).mode("overwrite").save()
    dt = time.perf_counter() - t0
    sync["admission_500"] = {
        "sec": round(dt, 3),
        "docs_per_sec": round(500 / dt, 1),
    }

    # ---- sf1 scale probe (VERDICT r3 task 6) ----------------------------
    # Replicate the bench SF 10× with key-shifted tenants + Caesar-rotated
    # text (scaleprobe.build_scaled_dir) and run the heavy / pair-
    # generating queries once each. `ratio` is sf1_sec / sf0.1_sec on 10×
    # data — linear scaling shows as <=10 (fixed overheads amortize, so
    # healthy operators land 2-4×); anything >10 is superlinear candidate
    # growth. Ops whose single-run ratio exceeds BORDERLINE_RATIO are
    # re-measured with interleaved base+sf1 legs and report the median
    # of 3 paired ratios (run counts + samples land in the artifact).
    scale_probe: dict[str, object] = {}
    if os.environ.get("SPARK_GRAFT_SCALE_PROBE", "1") != "0":
        try:
            scale_probe = _run_scale_probe(spark, sf_dir, sf, timings)
        except Exception as exc:  # never let the probe sink the bench
            scale_probe = {"error": f"{type(exc).__name__}: {exc}"}

    payload = {
        "metric": "total_headline_query_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "sync": sync,
        "sf1": scale_probe,
        "variance_band": variance_band,
        "value_drift_normalized": total_norm,
        "queries_drift_normalized": timings_norm,
        "sentinels": {
            "first": sentinel_first,
            "last": sentinel_last,
            "drift_ratio_median": round(_st.median(drift), 3) if drift else None,
        },
        **git_stamp,
    }
    # Persist the full payload IN-REPO (r4 verdict task 5: the driver's
    # tail buffer truncated BENCH_r04's long JSON line, losing the
    # per-query dict). Print order matters: the driver keeps only the
    # TAIL of stdout (r5 verdict item 2 — the compact-first ordering
    # left BENCH_r05 headless), so the full one-line JSON goes FIRST
    # and the compact headline goes LAST, shaped to the driver contract
    # (metric/value/unit/queries/sf, queries trimmed to the top-10) so
    # a truncated capture still parses. Only the driver-scale run
    # (sf0.1) is the round artifact — a quick probe at another sf must
    # not clobber it.
    local = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        f"BENCH_LOCAL_r{_round_no():02d}.json",
    )
    if sf == 0.1:
        try:
            with open(local, "w") as fh:
                json.dump(payload, fh, indent=1)
        except OSError:
            pass  # read-only checkout: the printed line remains the record
    top10 = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    print(json.dumps(payload))
    print(
        json.dumps(
            {
                "metric": "total_headline_query_sec",
                "value": total,
                "unit": "sec",
                "queries": top10,
                "sf": sf,
                "n_queries": len(timings),
                "full_payload": os.path.basename(local),
            }
        )
    )


def _round_no() -> int:
    """Next driver round: one past the newest committed BENCH_r{N}."""
    import glob

    repo = os.path.dirname(os.path.abspath(__file__))
    ns = [
        int(m.group(1))
        for f in glob.glob(os.path.join(repo, "BENCH_r*.json"))
        if (m := re.search(r"_r(\d+)\.json$", f))
    ]
    return (max(ns) if ns else 0) + 1


#: operators whose cost curve is documented superlinear BY DESIGN — the
#: probe reports their ratio but excludes them from max_ratio (which is
#: the "should be linear" gauge). Empty since round 7: exact `semdedup`
#: (N^1.5 — K=ceil(sqrt(N/2)) balances assignment vs within-cluster
#: pairwise) left the headline/probe for the audit suite; the probed
#: default is the linear `semdedup_capped` (sorted-neighborhood window,
#: O(N*cap), drop-parity-tested).
SUPERLINEAR_BY_DESIGN: dict[str, str] = {
    # measured 8.2-9.9 across rounds, median 9.37 (r9, interleaved
    # median-of-3): the pair/verify stages are O(N*cap) linear, but the
    # ASSIGNMENT stage scales O(N*sqrt(N)) under the sqrt(N/2)-centroid
    # rule the probe corpus sizes fall under, so ~sqrt(10)*linear ~ 9-10
    # is the EXPECTED 10x reading, not noise and not a regression.
    # Above 33.5M vectors the SEMDEDUP_MAX_CENTROIDS=4096 ceiling fixes
    # the cluster count and the whole operator is linear (the
    # production-SemDeDup constant-k posture) — the probe cannot see
    # that regime at its corpus sizes.
    "semdedup_capped": (
        "sqrt(N/2)-centroid assignment is O(N*sqrt(N)) at probe sizes; "
        "ratio ~ sqrt(10)*linear by design, capped at 4096 centroids "
        "(linear) beyond 33.5M vectors"
    ),
}

#: heavy / pair-generating / iterative queries probed at 10× scale
SCALE_PROBE_QUERIES = [
    "pricing_summary",
    "neardup_pairs_lsh",
    "ngram_jaccard_pairs",
    "simhash_neardup_pairs",
    "boilerplate_ngrams",
    "pmi_topk",
    "minhash_accuracy_report",
    "neardup_clusters",
    "corpus_retention_clustered",
    "tfidf_topk",
    "sessionize",
    "range_join_concurrency",
    "pagerank_links",
    "cosine_topk",
    "semdedup_capped",
    "embedding_neardup",
    "fuzzy_match_entities",
    "epic_hierarchy",
    "duplicate_spans",
    "bloom_decontaminate",
    "curation_funnel_report",
    # r5 probe additions (r4 verdict task 6 + the r5 wave)
    "bpe_train_merges",
    "admission_report",
    "strip_duplicate_spans",
    "sq8_topk",
    "pq_rerank_topk",
    "ivfpq_topk",
    "bpe_subword_train_merges",
    "bpe_subword_encode",
    "knn_join",
    "ivf_knn_join",
    # wave-2 probe additions: retrieval, DSIR, oracle-exact k-means
    "bm25_topk",
    "dsir_importance_weights",
    "kmeans_assign",
    # wave-4 probe additions: the heavy newcomers (char explode, chi2
    # contingency, LSH-candidate-scoped estimates, kmeans-backed
    # silhouette, full-outer snapshot diff)
    "char_entropy_report",
    "chi2_keywords",
    "bbit_minhash_report",
    "silhouette_report",
    "corpus_snapshot_diff",
    # the exact all-pairs join is THE candidate-growth risk of the
    # mini-wave — its prefix posting lists must stay short at 10x
    "allpairs_prefix_jaccard",
    # r6 probe additions: the iterative/join-heavy newcomers
    "link_prediction_scores",
    "link_components",
    "textrank_keywords",
    "gap_fill_locf",
    "vocabulary_growth",
    "tfidf_cosine_pairs",
    "user_coactivity_pairs",
    "basket_pairs_topk",
    # r7 probe additions: the x32 bootstrap explode and the grid-join
    # correlation (documented bounded passes — verify they stay linear)
    "bootstrap_mean_ci",
    "event_type_correlation",
    # r8 probe additions (r7 verdict task 2): the rest of the r7 wave —
    # iterative PPR, MIPS retrieval, windowed median, the TPC-H Q2/Q7/
    # Q8 joins, per-customer interval windows, the shared knn_frame
    # consumers, Pareto concentration, and the JSON property extract
    "personalized_pagerank",
    "mips_topk",
    "rolling_daily_median",
    "min_cost_supplier",
    "market_share_report",
    "nation_trade_volume",
    "repeat_purchase_interval",
    "knn_label_accuracy",
    "hard_negative_mining",
    "revenue_concentration_report",
    "events_props_extract",
    # r8 wave probes: the fact-join TPC-H analogs, the fused retrieval,
    # the windowed ACF, and the full-corpus eval reports
    "forecast_revenue_change",
    "product_profit_by_nation",
    "small_quantity_revenue",
    "disjunctive_band_revenue",
    "waiting_suppliers_report",
    "readability_report",
    "dataset_card_report",
    "session_transition_entropy",
    "cluster_label_nmi",
    "hybrid_rrf_topk",
    "autocorrelation_report",
    "kmv_accuracy_report",
    "embedding_dim_variance_report",
    # the two r8 late-commit operators that shipped unprobed (r8 verdict
    # task 2) — the corpus-wide encode join and the source-mix entropy
    "tokenizer_fertility_report",
    "source_lang_entropy",
    # r9 wave: rank statistics, retrieval eval, blocking eval, dedup
    # tuning curve, packing efficiency (probe-coverage invariant:
    # every new headline op ships with an sf1 ratio in the same commit)
    "mann_whitney_report",
    "ks_test_report",
    "blocking_quality_report",
    "retrieval_ndcg_report",
    "semdedup_threshold_curve",
    "packing_efficiency_report",
    # r9 wave 2: Benford audit, bottom-k quantile sketch, Chao1/Good-
    # Turing richness, LSH S-curve calibration, dedup survivorship
    "benford_deviation_report",
    "bottomk_quantile_sketch",
    "vocab_richness_report",
    "lsh_scurve_calibration",
    "cluster_canonical_selection",
    # r9 wave 3: robust trend, LPA communities, PRF retrieval
    "theil_sen_trend",
    "label_propagation_communities",
    "rocchio_expanded_topk",
    # r9 wave 4: JSD drift matrix, source overlap, forecast backtest
    "token_js_divergence",
    "source_shingle_overlap",
    "seasonal_naive_backtest",
    # r9 wave 5: query-likelihood ranking, seasonal residual anomalies
    "lm_dirichlet_topk",
    "seasonal_residual_anomalies",
    # r10 additions
    "edit_distance_neardup",
    "split_contamination_report",
    "source_gini_report",
    "spearman_corr_report",
    "hill_tail_index",
    "event_association_rules",
    "embedding_norm_outliers",
    "length_drift_by_source",
    "inter_event_gap_quantiles",
    "bpe_roundtrip_report",
    # r11 additions (probe-coverage invariant: every new headline op
    # ships with an sf1 ratio in the same commit)
    "repeated_substring_report",
    "rbo_ranking_agreement",
    "wasserstein_drift_report",
    "bigram_entropy_rate",
    # r12 additions: the KN count/probability tables are distinct-
    # trigram-bounded (expect sublinear-in-docs growth); LR train is
    # LR_ROUNDS fixed passes over a narrow feature frame (expect ~
    # linear); score/calibration ride the same trained frame
    "kn_discount_table",
    "kn_perplexity_report",
    "kn_perplexity_split",
    "quality_lr_train",
    "quality_lr_score",
    "quality_lr_calibration",
    "quality_lr_holdout_eval",
]


#: single-run ratio above which the probe re-measures (median-of-3,
#: interleaved legs). 4.0 = within 2.5x of the 10x superlinearity line —
#: r8 measured 6.03 / 8.84 / 10.16 on the SAME semdedup_capped code
#: across runs, so anything a stall could push over the line re-runs.
BORDERLINE_RATIO = 4.0


def _run_scale_probe(spark, sf_dir: str, sf, timings: dict[str, float]) -> dict:
    import statistics
    import time as _t

    from jira_cdc_git_spark.scaleprobe import build_scaled_dir

    factor = int(os.environ.get("SPARK_GRAFT_SCALE_FACTOR", "10"))
    out_dir = f"/tmp/spark_graft_scaleprobe_sf{sf}x{factor}"
    marker = os.path.join(out_dir, "_SCALEPROBE_OK")
    t0 = _t.perf_counter()
    if not os.path.exists(marker):
        build_scaled_dir(spark, sf_dir, out_dir, factor=factor)
        with open(marker, "w") as fh:
            fh.write("ok\n")
    gen_sec = round(_t.perf_counter() - t0, 3)

    qs = E.queries()

    def _leg(name: str, data_dir: str) -> float:
        spark.catalog.clearCache()
        t0 = _t.perf_counter()
        qs[name](spark, data_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        return round(_t.perf_counter() - t0, 3)

    probed: dict[str, float] = {}
    ratios: dict[str, float] = {}
    run_counts: dict[str, int] = {}
    ratio_samples: dict[str, list[float]] = {}
    for name in SCALE_PROBE_QUERIES:
        dt = _leg(name, out_dir)
        base = timings.get(name)
        pairs = [(dt, base)] if base else []
        if base and dt / base > BORDERLINE_RATIO:
            # Borderline/suspect ratio — make the gate noise-robust
            # (r8 verdict task 1): a single sf1 run carries first-run
            # codegen plus the VM's multi-second hypervisor/GC stalls,
            # and the base leg (the headline min) was measured ~20
            # minutes earlier under different drift — identical code
            # measured 6.03 / 8.84 / 10.16 on semdedup_capped across
            # same-day runs, straddling the 10x gate. Re-measure BOTH
            # legs twice more, INTERLEAVED (base then sf1, so slow VM
            # phases inflate numerator and denominator together), and
            # report the MEDIAN of the three paired ratios. A true
            # superlinear operator stays high in every pair; a stall
            # corrupts at most one pair, which the median discards.
            for _ in range(2):
                b = _leg(name, sf_dir)
                d = _leg(name, out_dir)
                pairs.append((d, b))
            ratio_samples[name] = sorted(round(d / b, 2) for d, b in pairs)
        run_counts[name] = max(len(pairs), 1)
        if pairs:
            ratios[name] = round(
                statistics.median(d / b for d, b in pairs), 2
            )
            probed[name] = round(statistics.median(d for d, _ in pairs), 3)
        else:
            probed[name] = dt
    linear_ratios = {
        k: v for k, v in ratios.items() if k not in SUPERLINEAR_BY_DESIGN
    }
    return {
        "sf": (sf or 0) * factor,
        "factor": factor,
        "gen_sec": gen_sec,
        "queries": probed,
        "ratio_vs_base": ratios,
        # per-op measurement counts + the individual paired ratios for
        # every borderline op — the artifact shows HOW each headline
        # ratio was earned (single clean run vs median-of-3)
        "run_counts": run_counts,
        "ratio_samples": ratio_samples,
        # max over operators EXPECTED to scale linearly; documented
        # superlinear-by-design curves are reported separately
        "max_ratio": max(linear_ratios.values()) if linear_ratios else None,
        "superlinear_by_design": {
            k: {"ratio": ratios.get(k), "why": why}
            for k, why in SUPERLINEAR_BY_DESIGN.items()
            if k in ratios
        },
    }


if __name__ == "__main__":
    main()
