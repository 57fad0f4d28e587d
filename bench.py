"""Benchmark harness (driver contract): run the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and print ONE JSON line.

Each query is forced to full execution with a noop sink (no collect cost, no
driver materialization — measures the whole plan, like a real write would).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F
from soict20221_bigdata_financialplatform_spark.queries import QUERIES
from soict20221_bigdata_financialplatform_spark.session import get_spark

# Headline set: one per capability family (scan/filter, agg, fact-fact join,
# 6-way join, window indicator, pandas-UDF indicator, resample, as-of,
# dedup exact + minhash, text features, ANN).
HEADLINE = [
    "q01_pricing_summary",
    "q02_flagship_range",
    "q03_latest_n_per_key",
    "q09_shipping_priority",
    "q10_local_supplier_volume",
    "q20_window_change",
    "q22_rsi",
    "q23_ema",
    "q24_daily_bars",
    "q25_asof_view_before_purchase",
    "q38_sessionization",
    "q46_range_join",
    "q50_decimal_money",
    "q28_doc_text_stats",
    "q30_exact_dedup",
    "q32_minhash_pairs",
    "q34_ann_bruteforce",
    # round-2 TPC-H sweep: nation-pair residual filter, OR-residual join,
    # double-correlated semi/anti, scan-speed regex redaction
    "q74_nation_trade_volume",
    "q82_discount_or_predicates",
    "q83_waiting_orders",
    "q85_pii_redaction",
    # round-3 additions: Gopher text-quality folds, winnowing fingerprints,
    # dataloader sequence packing, vocab coverage, funnel, robust outliers,
    # drawdown/Sharpe
    "q65_gopher_quality",
    "q67_winnow_overlap",
    "q104_sequence_packing",
    "q105_vocab_coverage",
    "q106_funnel_conversion",
    "q107_robust_outliers",
    "q108_drawdown_sharpe",
    "q109_embedding_quantization",
    "q110_holt_linear",
    "q111_fixed_k_sample",
    "q112_equidepth_histogram",
    # round-4 additions: benchmark decontamination, sliding-window chunking,
    # blocked fuzzy dictionary match, within-doc dedup, dup-graph PageRank
    "q113_decontamination",
    "q114_doc_chunking",
    "q115_fuzzy_dictionary_match",
    "q116_within_doc_dedup",
    "q117_pagerank_dup_graph",
    "q118_pps_sample",
    "q119_leakage_free_split",
    "q120_cdc_chunking",
    "q121_temperature_rebalance",
    "q122_bm25",
    "q123_vshape_patterns",
    "q124_grid_interpolate",
    # round-4 late additions: corpus curation + graph + PQ
    "q126_dsir_importance",
    "q127_semdedup",
    "q128_perplexity_lm",
    "q129_pmi_cooccurrence",
    "q130_triangle_counts",
    "q131_pq_adc",
    "q132_windowed_pmi",
    "q133_ivfpq",
    "q135_rake_keywords",
    "q143_assoc_rules",
    "q149_zipf_fit",
    # round-5 additions: ExactSubstr span dedup (inverted-index join +
    # per-diagonal islands), IVF cell-balance monitor (Lloyd + argmin)
    "q184_longest_common_run",
    "q185_ivf_cell_balance",
    # round-6 additions: BPE merge training, paragraph dedup + reassembly,
    # CCNet perplexity buckets, distributed-ECDF KS test, Dunning LLR,
    # HITS iterations, minhash estimator calibration
    "q188_bpe_merges",
    "q190_paragraph_dedup",
    "q192_ccnet_buckets",
    "q195_ks_test",
    "q198_llr_collocations",
    "q208_hits_scores",
    "q213_minhash_estimate_error",
    # round-7 window entrants (VERDICT r6 task 6: every query entering the
    # driver window gets a perf baseline the round it first appears) —
    # the r7 backlog q216-q225 and the r7 additions q226-q232
    "q216_vocab_coverage_curve",
    "q217_js_divergence",
    "q218_spearman_trend",
    "q219_kaplan_meier",
    "q220_wasserstein",
    "q221_acf",
    "q222_conditional_entropy",
    "q223_source_vocab_overlap",
    "q224_overnight_gaps",
    "q225_calendar_heatmap",
    "q226_domain_bpb",
    "q227_memorization_spans",
    "q228_hll_partition_union",
    "q229_source_overlap_attribution",
    "q230_minhash_hot_bands",
    "q231_tfidf_cosine_pairs",
    "q232_weekly_bars",
    # r8 backlog (authored r7): baseline them the round they are written
    # so their first driver round has a perf history
    "q233_cms_partition_union",
    "q234_good_turing",
    "q235_vocab_growth",
    "q236_candle_patterns",
    "q237_amihud_illiquidity",
    "q238_source_unigram_kl",
    "q239_burrows_delta",
    "q240_interarrival_percentiles",
    "q241_daily_dup_rate",
    "q242_ann_ranking_metrics",
    "q243_flow_imbalance",
    "q244_seasonal_naive_backtest",
    "q245_changepoint",
    "q246_ship_lag_percentiles",
    "q247_bloom_fpr",
    "q248_bootstrap_ci",
    "q249_lsh_threshold_sweep",
    "q250_psi_drift",
    # r8 rebuild without a bench row (r8 VERDICT nit 3): the token-budget
    # mixture's cumsum moved to the distributed prefix sum — measure it
    "q153_token_budget_mixture",
    # r9 additions: baseline them the round they enter the driver window
    "q251_store_dedup_attribution",
    "q252_bernoulli_sample_store",
    "q253_doremi_curriculum_mixer",
    "q254_neardup_precision_eval",
    "q255_minhash_store_novelty",
    # r9 rebuilds (tightened enum-window linter): re-baseline
    "q179_heaps_fit",
    "q194_quantile_normalize",
    # r10 backlog authored r9: baseline on entry so the r10 window
    # promotion ships with a perf history
    "q256_kmv_distinct",
    "q257_flesch_readability",
    "q258_parkinson_volatility",
    "q259_kyle_lambda",
    "q260_drawdown_duration",
    "q261_charclass_drift",
    "q262_garman_klass",
    "q263_variance_ratio",
    "q264_downside_risk",
    "q265_centroid_drift",
    "q266_leadlag_market",
    "q267_hill_diversity",
    "q268_vpin",
    "q269_rfm_migration",
    "q270_loo_source_value",
    "q271_weighted_reservoir",
    "q272_triple_barrier",
    "q273_purged_kfold",
    "q274_label_uniqueness",
    "q275_runs_test",
    "q276_corwin_schultz",
    "q277_cointegration_hedge",
    "q278_embedding_shift",
    "q279_word_burstiness",
    "q280_woe_iv",
    "q281_hurst_rs",
    "q282_event_study_car",
    "q283_hard_negatives",
    "q284_momentum_deciles",
    "q285_embedding_anisotropy",
    "q286_activity_gini",
    "q287_tail_index",
    "q288_kanonymity_audit",
    "q289_behavior_markov",
    "q290_price_staleness",
    "q291_template_detection",
    "q292_packing_efficiency",
    "q293_market_dispersion",
    "q294_avg_correlation",
    "q295_intraday_vol_signature",
    "q296_bigram_oov",
    "q297_return_moments",
    "q298_ams_f2",
    "q299_degree_assortativity",
    "q300_adamic_adar",
    "q301_fracdiff",
    "q302_brier_calibration",
    "q303_pca_power_iteration",
    "q304_mi_lang_source",
    "q305_ljung_box",
    "q306_rich_club",
    "q307_roc_auc",
    "q308_embedding_outliers",
    "q309_pairs_trading_ssd",
    "q310_anova_dow",
    "q311_newey_west",
    "q312_theil_sen",
    "q313_realized_corr_matrix",
    "q314_permutation_entropy",
    "q315_rank_persistence",
    "q316_filter_attrition",
    "q317_dedup_savings",
    "q318_mann_kendall",
    "q319_behavior_entropy",
    "q320_downside_beta",
    "q321_activity_half_life",
    "q322_ochiai_collocations",
    "q323_nearest_centroid_eval",
    "q324_spectral_pair",
    # r10 additions (streaming batch twins): baseline on authoring so
    # their r11 window promotion ships with a perf history
    "q325_interval_join_counts",
    "q326_running_user_stats",
    "q327_out_of_order_audit",
    "q328_minute_bar_gaps",
    "q329_native_session_window",
    "q330_join_state_audit",
    "q331_dedup_watermark_catch",
    "q332_kmv_intersection",
    "q333_weighted_sample_es",
    # r12 additions (DP releases): baseline on authoring so their r13
    # window promotion ships with a perf history
    "q334_dp_noisy_counts",
    "q335_dp_noisy_char_sums",
    "q336_dp_gumbel_topk",
    # r13 addition (ingest-QA dirt panel): baseline on authoring
    "q337_event_dirt_audit",
    # r14 additions (embedding QA panel + kNN label eval): baseline on
    # authoring so their r15 window promotion ships with a perf history
    "q338_embedding_dirt_audit",
    "q339_knn_label_consistency",
    # late-r14 additions (eval metrics + TwoNN ID + MATTR): baseline on
    # authoring
    "q340_average_precision",
    "q341_twonn_intrinsic_dim",
    "q342_mcc_kappa",
    "q343_mattr_diversity",
    "q344_participation_ratio",
]

# The compact final stdout line (driver keeps only a 2000-char tail) reports
# this r1-era subset — one per core capability family — so round-over-round
# comparisons stay apples-to-apples; the full per-query detail (all ~60
# entries + variance) is printed on the PRECEDING line and in BENCH_DETAIL.
COMPACT = HEADLINE[:17]  # through q34_ann_bruteforce

# Frozen longitudinal subset (r12 VERDICT task 5): the r1 headline set,
# summed as "headline_fixed" in both JSON lines. The full total grows
# with every round's new entries and the whole-run JVM tide scales with
# headline count, so cross-round totals are only comparable at equal
# n_benched — this frozen 17-query sum is the longitudinally stable
# signal. NEVER add or remove entries; r12 backfill from the archived
# BENCH_DETAIL (git HEAD@r12): headline_fixed = 7.674 s.
# Hardcoded literal (r13 ADVICE): a HEADLINE[:17] slice would silently
# re-define the "frozen" metric if anything were ever inserted near the
# head of HEADLINE; the assert below keeps the set benched.
FIXED_SUBSET = (
    "q01_pricing_summary", "q02_flagship_range", "q03_latest_n_per_key",
    "q09_shipping_priority", "q10_local_supplier_volume",
    "q20_window_change", "q22_rsi", "q23_ema", "q24_daily_bars",
    "q25_asof_view_before_purchase", "q38_sessionization",
    "q46_range_join", "q50_decimal_money", "q28_doc_text_stats",
    "q30_exact_dedup", "q32_minhash_pairs", "q34_ann_bruteforce",
)
assert set(FIXED_SUBSET) <= set(HEADLINE), sorted(
    set(FIXED_SUBSET) - set(HEADLINE)
)
assert len(set(HEADLINE)) == len(HEADLINE), sorted(
    n for n in set(HEADLINE) if HEADLINE.count(n) > 1
)

# Frozen absolute probe reference for the detrended longitudinal metric
# (r13 VERDICT task 3b): the r13 builder archive's q01 tide-probe median
# (probes 1..7, excluding the JIT-ramp probe 0) in seconds. A flight's
# machine speed = its own contemporaneous probe median / this constant;
# dividing the steady-state fixed-subset sum by that factor yields
# "headline_fixed_detrended" — seconds on the frozen r13-builder machine
# scale, comparable across flights and rounds. NEVER change this
# constant (it is the unit definition, like the 17-query set itself).
PROBE_REF_SEC = 0.399

# Iterative multi-job queries (5-15 chained Spark jobs each): their first
# run pays JVM codegen/JIT for the whole chain, which dominated r4 stdev
# (q117: 1.45s stdev on a 3.0s median). One untimed warm run before the
# timed reps measures steady state — same policy as the global warmup.
ITERATIVE = {"q117_pagerank_dup_graph", "q119_leakage_free_split",
             "q127_semdedup", "q133_ivfpq",
             "q188_bpe_merges", "q208_hits_scores",
             # 3-stage applyInPandas chain: first run pays Python-worker
             # spin-up for its synthetic frame (5.8s cold vs 1.8s warm)
             "ema_segmented_1m_8key"}

# Drift watch: queries whose round-over-round movement exceeded the
# whole-run tide get 5 reps instead of 3 until classified. Currently
# EMPTY — the r10 watch (q127_semdedup, q250_psi_drift) closed as NOISE
# with 4 matched-condition runs each (SCALE.md table); earlier watches
# (r9: q46/q82/q74/q133; r5-era set) all classified noise too.
# EMPTY — the r12 closure (q306/q82/q235/q233/q234, the five r11 movers)
# ruled all five NOISE with 4 matched runs + isolation probes; see
# SCALE.md "Round-12 drift closure".
# R14 re-open + same-session closure: q306/q322/q235 rose 1.4-1.6x vs
# the r13 archive across all three r14 validation flights WHILE the
# 193-query median ratio was 0.87 (machine faster). Fresh-session
# isolation probes (SCALE.md "Round-14 drift closure") ruled all three
# NOISE: q322 0.779 / q235 0.589 reproduce their r13 archive values;
# q306 settles to 1.766 (within 7% of the 1.649 archive, code+plan
# git-verified unchanged since creation). Kept at 5 reps for the r14
# driver flight; emptied in r15 per the r14 VERDICT (task 6) — every
# entry is back on uniform min-of-3.
DRIFT_WATCH: set[str] = set()


def sentinel_polluted(
    min_sec: float, steady_sec: float | None, final_sec: float
) -> bool:
    """True when the load sentinel's three timings of one query disagree
    by more than 1.5x: final vs min in either direction, and final vs the
    steady tail re-measure whenever there is one (floors at 50 ms)."""
    return (
        final_sec > 1.5 * max(min_sec, 0.05)
        or min_sec > 1.5 * max(final_sec, 0.05)
        or (steady_sec is not None and final_sec > 1.5 * max(steady_sec, 0.05))
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = get_spark("spark-finplat-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # JVM/codegen + Python-worker warmup only — no testdata touched, all IO
    # stays timed. The pandas roundtrip spins up the Arrow Python workers so
    # the one pandas-backed query (EMA) measures steady-state, not fork cost.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    import pandas as _pd

    (
        spark.range(1000)
        .withColumn("g", F.col("id") % 8)
        .groupBy("g")
        .applyInPandas(lambda p: p, schema="id long, g long")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )

    # Three runs per query: "queries" reports the min (achievable steady
    # state); median + stdev land in "variance" so a contention-polluted run
    # self-identifies instead of being archived as a regression (the round-2
    # record showed a 7x swing on an unchanged plan).
    import statistics

    timings: dict[str, float] = {}
    variance: dict[str, dict[str, float]] = {}

    def _timed(name: str, run, reps: int = 3) -> None:
        samples = []
        if name in ITERATIVE:
            run()  # untimed warm run: JIT the 5-15-job chain (see ITERATIVE)
        for _ in range(reps):
            t0 = time.time()
            run()
            samples.append(time.time() - t0)
        timings[name] = round(min(samples), 3)
        variance[name] = {
            "median": round(statistics.median(samples), 3),
            "stdev": round(statistics.pstdev(samples), 3),
        }

    def _query_runner(fn):
        return lambda: fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    # JVM-aging tide correction (r9 VERDICT task 3): runs with 177 headline
    # entries shifted medians ~15% vs 100-entry runs, making totals and
    # late-order entries incomparable across rounds as the set grows. Fix:
    # interleave the q01 load sentinel every TIDE_EVERY entries and record
    # its drift as a per-block factor = probe / MEDIAN(all probes);
    # "queries_detrended" divides each query's min by its block's factor so
    # cross-round comparisons survive headline-set growth. The MEDIAN
    # baseline is deliberate: the first r10 flight baselined on probe 0 and
    # learned that (a) an unwarmed probe 0 reads ~2x slow (first-ever scan
    # of its table — hence the untimed warm run below) and (b) even warmed,
    # probe 0 is still JIT-settling while probes 1+ sit in a noisy-flat
    # band — the run does not age monotonically, so an endpoint baseline
    # inverts every factor, while the median centers them on 1.0.
    TIDE_EVERY = 30
    tide_probes: list[dict] = []
    _query_runner(QUERIES[HEADLINE[0]])()  # warm the probe's scan + plan

    def _tide_probe(after_n: int) -> None:
        spark.catalog.clearCache()
        samples = []
        for _ in range(3):  # min-of-3: min-of-2 probes swung ±20% (r10)
            t0 = time.time()
            _query_runner(QUERIES[HEADLINE[0]])()
            samples.append(time.time() - t0)
        tide_probes.append(
            {"after_n": after_n, "q01_sec": round(min(samples), 3)}
        )

    block_of: dict[str, int] = {}
    for i, name in enumerate(HEADLINE):
        if i % TIDE_EVERY == 0:
            _tide_probe(i)
        block_of[name] = i // TIDE_EVERY
        # drop the PREVIOUS queries' persisted frames before this block:
        # library persist()s accumulate across ~60 headline entries and the
        # resulting executor-memory pressure taxed late entries ~3x (q127
        # measured 1.1s in isolation, 3.3-4.3s late in the bench order).
        # Within the block nothing is cleared — min-of-3 still measures the
        # query's own warm plan including its own caching behavior.
        spark.catalog.clearCache()
        _timed(name, _query_runner(QUERIES[name]),
               reps=5 if name in DRIFT_WATCH else 3)
    _tide_probe(len(HEADLINE))

    # ---- steady-state re-measure of the frozen subset (r13 VERDICT
    # task 3b). headline_fixed (block-0, kept for continuity) proved
    # structurally unfixable across flights: the r13 judge flight showed
    # a DECAYING RUN-START BURST (q01-q03 at 2.3-3.2x, probe0 11.8x,
    # while the all-query median ratio vs the builder flight was 1.016)
    # — no after-the-fact factor can correct measurements taken inside
    # such a burst, and block 0 is exactly where the fixed subset lives.
    # So the longitudinal metric re-times the 17 queries HERE, after the
    # full sweep (JIT settled, any start burst long past), bracketed by
    # contemporaneous probes; dividing by (probe_median / PROBE_REF_SEC)
    # converts to the frozen r13-builder machine scale. Cost: ~35 s.
    fixed_tail: dict[str, float] = {}
    spark.catalog.clearCache()
    for name in FIXED_SUBSET:
        samples = []
        for _ in range(3):
            t0 = time.time()
            _query_runner(QUERIES[name])()
            samples.append(time.time() - t0)
        fixed_tail[name] = round(min(samples), 3)
    _tide_probe(-1)  # closing bracket probe (after_n=-1 marks the tail)
    tail_probes = [p["q01_sec"] for p in tide_probes
                   if p["after_n"] in (len(HEADLINE), -1)]
    tail_speed = max(statistics.median(tail_probes), 1e-9) / PROBE_REF_SEC
    headline_fixed_steady = round(sum(fixed_tail.values()), 3)
    headline_fixed_detrended = round(headline_fixed_steady / tail_speed, 3)

    base_probe = max(
        statistics.median(p["q01_sec"] for p in tide_probes), 1e-9
    )
    tide_factors = [
        round(max(p["q01_sec"], 1e-9) / base_probe, 4) for p in tide_probes
    ]
    # Block 0 is published RAW-ONLY (r10 VERDICT task 5): its probe runs
    # while the JVM is still JIT-settling (q01's own min measured ~1.3x its
    # end-of-run sentinel), so dividing block-0 queries by that inflated
    # factor OVERCORRECTS them and a future round would misread the JIT
    # ramp as a regression. Compare block-0 entries via the raw "queries"
    # map; detrending starts with block 1.
    queries_detrended = {
        name: round(t / tide_factors[min(block_of[name],
                                         len(tide_factors) - 1)], 3)
        for name, t in timings.items()
        if name in block_of and block_of[name] > 0
    }

    # Reference-workload regression target (SURVEY §6 / BASELINE.md): the
    # full 23,820-row indicator backfill (10 symbols x 2,382 daily bars,
    # messy strings -> typed -> change/SMA/RSI/EMA -> symbol-partitioned
    # parquet). The reference's collect+per-row-INSERT strawman is minutes;
    # target is well under 60 s.
    import random
    import shutil
    import tempfile

    from pyspark.sql import Row

    from soict20221_bigdata_financialplatform_spark.api import backfill

    rng = random.Random(42)
    rows = []
    for s in range(10):
        sym = f"SYM{s}"
        px = 50.0 + s
        d0 = 1357776000  # 2013-01-10 UTC, epoch seconds
        for i in range(2382):
            px = max(1.0, px + rng.uniform(-1, 1))
            day = time.strftime("%d/%m/%Y", time.gmtime(d0 + i * 86400))
            rows.append(Row(
                symbol=sym, date=day,
                open=f"{px:,.2f} ", high=f"{px + 0.5:,.2f} ",
                low=f"{px - 0.5:,.2f} ", close=f"{px + 0.1:,.2f} ",
                volume=f"{rng.randint(1, 999) * 1000:,} ",
                value=f"{rng.randint(1, 999) * 1000000:,} ",
            ))
    raw = spark.createDataFrame(_pd.DataFrame([r.asDict() for r in rows]))

    def _run_backfill():
        out_dir = tempfile.mkdtemp(prefix="backfill_bench_")
        try:
            backfill(raw, out_dir)
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)

    _timed("backfill_ref_workload", _run_backfill)

    # Scale escape hatches (r10 VERDICT task 6): ema_segmented and
    # salted_join are the documented 100-TB fallbacks (unbounded-key EMA,
    # skew-resilient join). Both are equivalence-TESTED but until r11 had
    # no bench row — their constant factors must be known before someone
    # reaches for them at 100x. Synthetic frames, deterministic, JVM-built:
    # 1M rows / 8 keys spanning ~14 year-segments for the EMA; 1M rows with
    # a 90%-hot key against a 1k-row dim for the join (salt=16 spreads the
    # hot key over 16 reducers; the plain join is timed alongside so the
    # salting overhead/win stays measured).
    from soict20221_bigdata_financialplatform_spark.functions.indicators import (
        ema_segmented,
    )
    from soict20221_bigdata_financialplatform_spark.operators.skew import (
        salted_join,
    )
    from tools.bench_fixtures import SALT, no_auto_broadcast, skew_dim, skew_fact

    # persist (not localCheckpoint): unpersist() only releases
    # CacheManager entries, so these must be cached to actually free the
    # executor memory before the streaming benchmark below.
    n_keys = 8
    ema_base = spark.range(1_000_000).select(
        F.concat(F.lit("K"), (F.col("id") % n_keys).cast("string")).alias(
            "symbol"
        ),
        (
            F.lit("1995-01-01 00:00:00").cast("timestamp")
            + F.make_interval(hours=(F.col("id") / n_keys).cast("int"))
        ).alias("date"),
        (F.lit(50.0) + F.pmod(F.col("id"), F.lit(997)) / F.lit(10.0)).alias(
            "close"
        ),
    ).persist()
    ema_base.count()  # materialize: time the operator, not the generator
    _timed(
        "ema_segmented_1m_8key",
        lambda: ema_segmented(ema_base, 25)
        .write.format("noop").mode("overwrite").save(),
    )
    ema_base.unpersist()

    # 10M rows, not 1M: the r12 crossover sweep (SCALE.md "skew-salting
    # crossover") showed the 1M fixture is overhead-dominated — all four
    # variants tie at ~0.7-0.9s, demonstrating nothing — while at 10M the
    # hot reducer is the measured bottleneck and salting wins 2.3-2.5x
    # (1.4s vs 3.1-3.6s), WITH or WITHOUT AQE's skew-join mitigation
    # enabled. These two rows time the regime the hatch exists for.
    skew_big = skew_fact(spark, 10_000_000).persist()
    dim = skew_dim(spark).persist()
    skew_big.count(); dim.count()
    # the shared fixture + broadcast-disable protocol (tools/
    # bench_fixtures.py) keeps this measurement in the same regime as
    # scale_smoke's exponent row — SCALE.md pairs the two numbers.
    with no_auto_broadcast(spark):
        _timed(
            "salted_join_skew10m",
            lambda: salted_join(skew_big, dim, on="k", salt=SALT)
            .write.format("noop").mode("overwrite").save(),
        )
        _timed(
            "plain_join_skew10m",
            lambda: skew_big.join(dim, on="k", how="inner")
            .write.format("noop").mode("overwrite").save(),
        )
    skew_big.unpersist(); dim.unpersist()

    # Streaming throughput: the full tick pipeline (JSON decode → comma-parse
    # normalization → watermark dedup → tumbling OHLC bars, two state stores)
    # fed by a DETERMINISTIC rate-micro-batch source (fixed rows per
    # trigger), sunk to noop. Throughput = steady-state rows/sec over the
    # post-warmup batches (batch 1 pays plan compile + state init). Same
    # contract as the batch numbers: 3 reps, headline = best rep,
    # median/stdev recorded so a contention-polluted run self-identifies.
    def _stream_rows_per_sec(rows_per_batch: int = 1_000_000, batches: int = 4) -> float:
        from soict20221_bigdata_financialplatform_spark.streaming import ticks as tk

        raw = (
            spark.readStream.format("rate-micro-batch")
            .option("rowsPerBatch", rows_per_batch)
            .option("numPartitions", spark.sparkContext.defaultParallelism)
            .load()
        )
        syms = [f"SYM{i}" for i in range(50)]
        sym = F.element_at(
            F.array(*[F.lit(s) for s in syms]),
            (F.col("value") % len(syms) + 1).cast("int"),
        )
        px = F.format_number(
            50.0 + F.pmod(F.col("value"), F.lit(1000)) / 100.0, 2
        )
        ts = F.col("timestamp") + F.make_interval(
            secs=(F.col("value") % 60).cast("int")
        )
        msg = raw.select(
            F.to_json(
                F.struct(
                    sym.alias("symbol"),
                    ts.alias("time"),
                    px.alias("open"), px.alias("high"),
                    px.alias("low"), px.alias("close"),
                    (F.col("value") * 100).cast("string").alias("volume"),
                    px.alias("previous_close"), px.alias("ref"),
                    px.alias("ceil"), px.alias("floor"),
                )
            ).alias("value")
        )
        bars = tk.bar_aggregate(
            tk.dedup_ticks(tk.decode_ticks(msg)), watermark=None
        )
        ckpt = tempfile.mkdtemp(prefix="stream_bench_ckpt_")
        q = (
            bars.writeStream.format("noop")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            t0 = time.time()
            while time.time() - t0 < 180:
                prog = [p for p in q.recentProgress if p["numInputRows"] > 0]
                if len(prog) >= batches:
                    break
                time.sleep(0.2)
            prog = [p for p in q.recentProgress if p["numInputRows"] > 0][:batches]
        finally:
            q.stop()
            shutil.rmtree(ckpt, ignore_errors=True)
        steady = prog[1:]
        rows = sum(p["numInputRows"] for p in steady)
        secs = sum(p["durationMs"]["triggerExecution"] for p in steady) / 1000.0
        return rows / secs if secs else 0.0

    stream_samples = [_stream_rows_per_sec() for _ in range(3)]
    streaming = {
        "metric": "tick_pipeline_rows_per_sec",
        "value": round(max(stream_samples)),
        "unit": "rows/sec",
        "variance": {
            "median": round(statistics.median(stream_samples)),
            "stdev": round(statistics.pstdev(stream_samples)),
        },
    }

    # Machine-load sentinel: re-time the first query after everything else.
    # On an idle machine it reproduces its own min. TWO-SIDED since r15
    # (r14 VERDICT task 1): final >> min means END-of-run contention;
    # min >> final means the block-0 sweep ran inside a decaying
    # RUN-START BURST (the r14 driver flight: min 2.285 vs final 0.586,
    # tide_factor_max 7.04 — every block-0 reading was an artifact).
    # Either way the block-0 values should not be trusted; the steady
    # fixed-tail re-measures (emitted as "queries" in the compact line)
    # are the comparison channel — so final > 1.5x steady flags the flight
    # too, even when a slow block-0 min hides end-of-run contention.
    t0 = time.time()
    _query_runner(QUERIES[HEADLINE[0]])()
    sentinel = round(time.time() - t0, 3)
    steady = fixed_tail.get(HEADLINE[0])
    polluted = sentinel_polluted(timings[HEADLINE[0]], steady, sentinel)

    total = round(sum(timings.values()), 3)
    headline_fixed = round(
        sum(timings[k] for k in FIXED_SUBSET if k in timings), 3
    )
    load_sentinel = {
        "query": HEADLINE[0],
        "min_sec": timings[HEADLINE[0]],
        "steady_sec": steady,
        "final_sec": sentinel,
        "polluted": polluted,
    }
    # Full detail record first (per-query min + variance for every entry) —
    # printed AND persisted to BENCH_DETAIL.json so the per-query history
    # survives even though the driver keeps only a 2000-char stdout tail.
    detail = json.dumps(
        {
            "metric": "headline_queries_total_detail",
            "value": total,
            "headline_fixed": headline_fixed,
            "headline_fixed_steady": headline_fixed_steady,
            "headline_fixed_detrended": headline_fixed_detrended,
            "fixed_tail": fixed_tail,
            "unit": "sec",
            "queries": timings,
            "variance": variance,
            "streaming": streaming,
            "load_sentinel": load_sentinel,
            "tide": {
                "every": TIDE_EVERY,
                "probes": tide_probes,
                "factors": tide_factors,
                "probe_ref_sec": PROBE_REF_SEC,
            },
            "queries_detrended": queries_detrended,
            "sf": sf,
        }
    )
    print(detail)
    # Archiving is OPT-IN (r13 VERDICT task 3a): an unconditional write
    # let a diagnostic flight clobber the round's committed record (the
    # r13 judge flight destroyed the driver's detail file). Default
    # writes BENCH_DETAIL_last.json (ephemeral scratch, gitignored);
    # `python bench.py --archive` refreshes the committed archive — the
    # builder passes it deliberately before a round snapshot.
    out_name = (
        "BENCH_DETAIL.json" if "--archive" in sys.argv
        else "BENCH_DETAIL_last.json"
    )
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         out_name), "w"
        ) as f:
            f.write(detail + "\n")
    except OSError:
        pass  # read-only checkout: stdout still carries the detail line
    # LAST stdout line: compact (<2000 chars) so the driver's 2000-char tail
    # capture parses — BENCH_r03/r04 were `parsed: null` because the single
    # detail line grew past the capture window. Keep this line small forever.
    # Truncate defensively rather than assert: an AssertionError here would
    # discard the final stdout line after the full ~10-min run — the exact
    # parsed-null failure this line exists to prevent. Drop trailing entries
    # until the JSON fits the driver's 2000-char tail capture.
    #
    # Since r15 (r14 VERDICT task 1) "queries" carries the STEADY-STATE
    # tail re-measures (fixed_tail): the r14 driver flight proved block-0
    # measurements sit inside an uncorrectable run-start burst (q01 2.285
    # block-0 vs 0.586 steady, 15/17 phantom "regressions"), so the
    # per-query PERF comparison channel must be the post-sweep steady
    # values. The block-0 sweep mins stay available as "queries_block0"
    # here (measurement-methodology continuity: r14 and earlier rounds'
    # "queries" were block-0 mins) and as "queries" in the detail line.
    keep = [k for k in COMPACT if k in timings and k in fixed_tail]
    keep0 = [k for k in COMPACT if k in timings]
    while True:
        compact = json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "headline_fixed": headline_fixed,
                "headline_fixed_steady": headline_fixed_steady,
                "headline_fixed_detrended": headline_fixed_detrended,
                "unit": "sec",
                "sf": sf,
                "queries": {k: fixed_tail[k] for k in keep},
                "queries_block0": {k: timings[k] for k in keep0},
                "backfill_sec": timings.get("backfill_ref_workload"),
                "n_benched": len(timings),
                "streaming_rows_per_sec": streaming["value"],
                "load_sentinel": load_sentinel,
                "tide_factor_max": max(tide_factors),
            }
        )
        if len(compact) < 1900 or not (keep or keep0):
            break
        if keep0:
            keep0.pop()
        else:
            keep.pop()
    print(compact)


if __name__ == "__main__":
    main()
