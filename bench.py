#!/usr/bin/env python
"""Benchmark loop — headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE compact JSON line: {"metric", "value", "unit", "sf",
"n_queries"}.  Per-query medians/mins live in bench_detail_c{N}.json,
one file per core count N = $SPARK_GRAFT_CPUS, so a run at one width
never overwrites another's record.  The driver's tail capture is ~2000
chars, and a stdout line carrying the full per-query map overflowed it
(78 queries → "parsed": null), so the map stays OUT of stdout;
tests/test_bench_contract.py pins the line under 1500 chars.  Each
query executes fully via the noop sink (no driver-side collect — the
100 TB-honest way to measure).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: one per operator family that matters at scale.
BENCH_QUERIES = [
    "flagship_revenue_by_nation",
    "b01_scan_filter_project",
    "tpch_q5",
    "tpch_q6",
    "tpch_q18",
    "tpch_q21",
    "b03_join_inner",
    "b04_join_broadcast",
    "b08_join_asof",
    "b09_agg_q1",
    "b10_distinct",
    "b12_window_rank",
    "b13_window_frames",
    "b14_topk_per_group",
    "b15_setops",
    "b21_tumbling_window",
    "b22_session_window",
    "b25_pandas_udf",
    "b28_exact_dedup",
    "b29_minhash_near_dedup",
    "b29_ngram_jaccard",
    "b30_cosine_topk",
    "b30_ann_lsh",
    "b31_term_freq",
    "b31_bpe_token_count",
    "b32_frame_sample",
    "b34_hash_sample",
    "b35_sequence_pack",
    "tpch_q9",
    "tpch_q13",
    "tpch_q19",
    # b33_http_ingest deliberately NOT here: a 12-row connector demo
    # whose runtime is fixed Python-worker startup, not data-path
    # throughput (covered by tests/test_sources.py instead)
    "wildweb_pipeline",
    # newer operator families, so the bench can catch a regression
    # outside the relational core
    "b38_merge_upsert",
    "b38_merge_upsert_broadcast",
    "b41_scd2_history",
    "b43_tfidf_rank",
    "b45_quality_deciles",
    "b47_funnel",
    "b52_sequence_match",
    "b29_cc_bigstar",
    "b59_salted_join",
    "b63_quantile_bands",
    "b32_ppm_decode",
    "b68_cep_kleene",
    "b69_line_dedup",
    "b73_salted_agg",
    "b74_rolling_features",
    # heaviest per family (the tiny connector/layout demos stay in
    # pytest, where their runtime is fixture cost, not data-path
    # throughput)
    "b75_merge_full",
    "b76_snapshot_diff",
    "b77_interval_union",
    "b80_attribution",
    "b82_incremental_neardup",
    "b84_pagerank",
    "b87_skyline",
    "b97_kmeans_update",
    # mining / prefilter families
    "b102_markov_transitions",
    "b103_basket_pairs",
    "b104_zscore_outliers",
    "b107_sliding_distinct",
    "b109_heavy_hitters",
    "b110_bloom_prefilter_join",
    # analytics / time-series families
    "b112_cohort_ltv",
    "b116_bounce_rate",
    "b119_clamped_balance",
    "b121_linear_interpolate",
    # the three ops rewritten off interpreted Catalyst HOFs
    # (27x / 9x / 60x measured) — benched to lock the wins
    "b31_repetition_filters",
    "b37_contamination",
    "b29_simhash",
    # iterative closures, blocked linkage and the pairwise
    # slice-overlap matrix — the heaviest of their families, so a
    # regression there is visible
    "b120_record_linkage",
    "b128_slice_overlap",
    "b129_hierarchy_closure",
    "b131_dag_path_count",
    # vocab coverage (corpus-wide explode+broadcast),
    # epoch shuffle (per-shard rank windows), PQ encode (Arrow map)
    "b132_vocab_oov",
    "b133_epoch_shuffle",
    "b134_pq_encode",
    "b136_dynamic_partition_pruning",
    "b137_pq_adc_search",
    # substring dedup (sliding K-gram corpus frequency —
    # the heaviest text-family explode; benched so regressions show),
    # sketch rollups (KLL + theta set algebra), concat-chunk layout
    # (token-volume shuffle into fixed context windows)
    "b139_substring_dedup",
    "b140_kll_quantile_rollup",
    "b141_theta_retention_sketch",
    "b142_concat_chunk",
    "b143_cms_rollup",
    "b144_leakage_safe_split",
    "b145_zorder_layout",
    "b147_mad_outliers",
    "b149_semdedup",
    "b150_bm25_rank",
    "b151_dsir_weights",
    "b152_triangle_count",
    "b153_freq_items_rollup",
    "b154_jl_projection",
    "b155_perplexity_filter",
    "b156_bpe_train",
    "b157_inverted_index",
    "b158_pmi_assoc",
    "b159_containment_dedup",
    "b160_bpe_apply",
    "b161_source_novelty",
    "b162_maxsim_late_interaction",
    "b163_grouped_trend",
    "b164_ab_test",
    "b165_markov_attribution",
    "b166_spatial_cell_join",
    "b167_geo_knn",
    "b168_geofence_rollup",
    "b169_tile_pyramid",
    "b170_trajectory_segments",
    "b171_kaplan_meier",
    "b172_knn_label_vote",
    "b173_dbscan_complexes",
    "b174_polygon_geofence",
    "b175_ivfpq_search",
    # tokenizer decode round-trip (vocab-distinct decode +
    # position-ordered reassembly — NOTE: like b160, re-trains b156's
    # merge table internally, so its bench time is train + decode
    # end-to-end), and the stream-stream LEFT SEMI interval join
    "b176_bpe_decode",
    "b177_stream_semi_join",
    # linear quality classifier (gram explode + broadcast
    # weight dim + one doc groupBy)
    "b178_quality_classifier",
    # b180 gets its own bench row: it shares b177's fixed stream-stream
    # machinery, but the FULL-OUTER eviction-time null emission is the one
    # cost b177 can't represent, and a dedicated row makes it visible
    # driver-to-driver.  Like b177 it tracks scheduler latency, not CPU
    # (the md5 calibration can't normalize it).
    "b180_stream_stream_full_outer",
    # suffix-array-quality exact-substring dedup — the
    # char-granularity sliding-window corpus frequency is the heaviest
    # per-character explode in the engine (one 8-byte hash per corpus
    # char); benched so regressions show
    "b181_exact_substring",
    # stream-stream RIGHT OUTER interval join — same
    # fixed-machinery scheduler-latency class as b177/b180; a
    # dedicated row so the one-sided eviction cost is visible
    # driver-to-driver (read it through calib like b177/b180)
    "b182_stream_stream_right_outer",
    # (b179_stream_late_audit is not benched separately: its cost is
    # the same fixed multi-micro-batch scheduling machinery b177
    # already represents — the audit itself is free, observe() rides
    # the pass and state metrics are engine-emitted regardless; its
    # 16x scaling note lives in SCALE.md)
]

#: Fixed pure-CPU microbenchmark for in-band host-speed calibration, so a
#: shared VM's documented ~3x slow-mode can be told apart from a real
#: regression without cross-referencing SCALE.md prose.  md5 over a fixed
#: buffer is single-threaded, allocation-free and I/O-free, so its wall
#: time tracks exactly the resource the slow-mode steals (CPU) and nothing
#: a Spark regression could touch.
CALIB_LOOPS = 2_000_000
#: Quiet-host reference for CALIB_LOOPS (4 runs within ±1%:
#: 0.245-0.247 s).  calib_ratio = measured/ref; SCALE.md
#: documents the reading: ratio > ~1.3 means the suite ran in a slow
#: window and per-query regressions need a quiet-host re-measure
#: before they are believed; ratio ~1.0 means the numbers are real.
CALIB_REF_SEC = 0.245


def host_calibration_sec() -> float:
    """Min-of-3 wall time of the fixed md5 loop — min, because the
    question is 'how fast CAN this host run right now', and scheduler
    preemption only ever adds time."""
    import hashlib

    buf = b"etl-wildweb-spark-host-calibration-block-0123456789abcdef"
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        h = hashlib.md5()
        for _ in range(CALIB_LOOPS):
            h.update(buf)
        h.hexdigest()
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0)

    from etl_wildweb_spark import registry
    from etl_wildweb_spark.session import get_spark

    registry.load_all()
    unregistered = [n for n in BENCH_QUERIES if n not in registry.QUERIES]
    if unregistered:
        raise SystemExit(f"bench queries not registered: {unregistered}")
    spark = get_spark("etl-wildweb-spark-bench")

    # Per-query: one untimed warmup pass, then the MEDIAN of 3 timed
    # passes.  The warmup absorbs whole-stage-codegen compilation + JIT
    # of the query's generated classes (measured: 13.8 s cold vs 3.2 s
    # steady for the heaviest pipeline) — the benchmark records
    # STEADY-STATE throughput, the regime that scales to 100 TB where
    # compile-once is amortized over thousands of tasks.  The median
    # defends against host noise: this VM shows up to 3× run-to-run
    # variance (BASELINE.md), which produced phantom per-query outliers
    # in single-pass benches.  Caches built inside a query are dropped
    # between passes so every pass re-executes the full dataflow.
    PASSES = 3
    times: dict[str, float] = {}
    mins: dict[str, float] = {}

    def measure(fn, warm: bool) -> list[float]:
        if warm:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()
        samples = []
        for _ in range(PASSES):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
            spark.catalog.clearCache()
        return samples

    # Mid-suite calibration series: the before/after samples can MISS
    # a slow window that starts and stops inside the suite — observed
    # once as a contiguous b165–b172 stretch at
    # uniform ~2x with median≈min (so the outlier-rerun tripwire,
    # which keys on median≫min, stayed silent), while both endpoint
    # calibrations read ~1.0.  One md5 sample every CALIB_EVERY
    # queries (~0.25 s each, ~3 s over the suite) localizes such a
    # window to the query range it covered.
    # The series' qi==0 sample (taken before the first query runs) IS
    # the before-suite endpoint — a separate calib_before immediately
    # preceding it double-sampled the same instant and double-entered
    # the worst-of max.
    CALIB_EVERY = 10
    calib_series: list[dict] = []
    for qi, name in enumerate(BENCH_QUERIES):
        if qi % CALIB_EVERY == 0:
            calib_series.append(
                {"at_query": name, "sec": round(host_calibration_sec(), 4)}
            )
        samples = measure(registry.QUERIES[name], warm=True)
        times[name] = round(sorted(samples)[len(samples) // 2], 3)
        mins[name] = round(min(samples), 3)

    # Outlier re-run: a median well above its own min is
    # the shared-VM-noise signature (the work can't have grown if one
    # pass finished at min — this host shows 3× bimodal pass times on
    # identical code+data), so those queries get one fresh 3-pass
    # measurement and keep the better median — a real regression
    # inflates min too and survives the re-run; noise doesn't.  The
    # 0.2 s floor keeps sub-second JVM jitter from triggering re-runs.
    # The REPORTED time is the fresh rerun median, not min(med, med2):
    # min-of-medians is a data-dependent downward reselection that can
    # mask a high-variance real slowdown.  Both medians are
    # recorded in bench_detail_c{N}.json; selection is the consumer's call.
    reruns: dict[str, dict] = {}
    for name, med in list(times.items()):
        if med > 1.5 * mins[name] and med - mins[name] > 0.2:
            samples = measure(registry.QUERIES[name], warm=False)
            med2 = round(sorted(samples)[len(samples) // 2], 3)
            reruns[name] = {"first_median": med, "rerun_median": med2}
            times[name] = med2
            mins[name] = min(mins[name], round(min(samples), 3))

    total = round(sum(times.values()), 3)
    # min-of-3 per query, alongside the median: a busy host inflates
    # median but rarely min, so median≫min flags environment noise,
    # median≈min≫baseline flags a real regression — separable without a
    # re-run.  BOTH per-query maps live in the side file, NEVER the
    # stdout line: a line carrying the map overflowed the driver's
    # ~2000-char tail capture twice (both maps at 66 queries, the
    # median map alone at 78) — the head truncates away and the
    # driver records "parsed": null.
    # in-band host-speed calibration: the same
    # fixed CPU work before the suite, every CALIB_EVERY queries, and
    # after; the WORST sample (vs the quiet reference) labels the run,
    # since slow-mode can start or stop mid-suite — and the series
    # localizes WHERE it was active
    calib_after = host_calibration_sec()
    calib_worst = max([calib_after] + [s["sec"] for s in calib_series])
    calib_ratio = round(calib_worst / CALIB_REF_SEC, 3)
    detail = {
        "sf": sf,
        "queries_median": times,
        "queries_min": mins,
        "outlier_reruns": reruns,
        "passes": PASSES,
        "host_calibration": {
            "loops": CALIB_LOOPS,
            "quiet_ref_sec": CALIB_REF_SEC,
            "before_sec": calib_series[0]["sec"] if calib_series else None,
            "after_sec": round(calib_after, 4),
            "series": calib_series,
            "slow_ratio": calib_ratio,
        },
    }
    # one record per core count: the session runs local[$SPARK_GRAFT_CPUS]
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     f"bench_detail_c{cpus}.json"),
        "w",
    ) as f:
        json.dump(detail, f, indent=1)
    print(summary_line(total, sf, len(times), calib_ratio), flush=True)


def summary_line(
    total: float, sf: float, n_queries: int, calib_ratio: float | None = None
) -> str:
    """The ONE stdout line the driver parses.  Compact by contract:
    ~140 chars regardless of how many queries are benched, so query
    growth can never overflow the driver's tail capture again
    (regression-pinned by tests/test_bench_contract.py).  calib_ratio
    rides along so the recorded line is self-describing:
    a reader can tell a slow-window run (ratio >> 1) from a real
    regression without cross-referencing SCALE.md."""
    line = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": n_queries,
    }
    if calib_ratio is not None:
        line["calib_ratio"] = calib_ratio
    return json.dumps(line)


if __name__ == "__main__":
    main()
