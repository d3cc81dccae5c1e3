"""Benchmark harness: runs the headline query set at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Timing is end-to-end per query: build the plan, execute it, and write
every row to Spark's benchmarking sink (``write.format("noop")``,
SPARK-26550), after a one-time warmup pass to amortize JVM/codegen
startup. A bare row count would let Catalyst prune every output
expression (and read parquet row-count metadata for a narrow query),
timing part of the work; the noop write computes every column and keeps
none. ``run_noop`` and ``release`` below are the one timed action and the
one release sweep; ``tools/isolate.py`` imports both. Both output lines
carry ``"timed_action": "noop"``; older records timed a row count and
have no such field.

Measurement discipline (round-5 rework — VERDICT_r4 item 1): this box is
shared and the same query can measure 2-3x apart run-to-run under
contention, which made the per-round BENCH files useless as a regression
signal.  The harness now:

  * QUIESCE GUARD — samples /proc/loadavg before timing; if the 1-min load
    exceeds half the allotted CPUs it waits (up to ~2 min) for the box to
    settle and records ``contended: true`` plus the observed load if it
    never does, so a noisy run is machine-readably marked instead of
    silently poisoning the history.
  * REPEATS — every query runs ``$SPARK_GRAFT_BENCH_REPEATS`` times
    (default 3).  ``queries`` carries the per-query MIN (the least
    contention-biased estimate of the plan's true cost and the number to
    compare across rounds).  Per-query spreads are summarized in
    ``spread_median``/``spread_max`` (relative, (max-min)/median), with
    ``noisy`` listing any query whose spread exceeded 0.5 so a reader
    still sees exactly which numbers to distrust.
  * ``value`` is the sum of per-query minimums.  Back-to-back totals on a
    quiet box agree within a few percent under this scheme (vs 40%+ for
    single-shot walls).

KEY ORDER MATTERS (round-6 fix): consumers that archive only the TAIL of
the emitted line used to capture the per-query SPREAD dict — dimensionless
ratios that read exactly like seconds — while the real ``queries`` minima
sat truncated in the middle (the round-5 archive records 0.03 "s" for a
query that takes ~7 s; those were spreads).  The line now ends with
``slowest`` (top-25 min-seconds, descending) followed by unit/sf metadata,
so any tail window captures real, labeled seconds; the full ``queries``
dict rides earlier in the line for whole-line consumers.

TWO LINES since round 7 (VERDICT_r6 item 2): the full line above outgrew
the archiver's 2000-char tail window four rounds running, so the headline
``value``/``contended``/``noisy`` fields were truncated away and
BENCH_r3..r6 archived with ``parsed: null``.  A SECOND, short summary line
(same ``metric``, ``summary_of: "headline_queries_total"`` marker, total,
flags, top-5 slowest) is printed LAST: it is complete well inside any tail
window, so a consumer that keeps only the end of stdout — or parses the
final line — always gets a machine-readable total.  Whole-line consumers
should prefer the FIRST line (it carries the full ``queries`` dict).

FULL RECORD ON DISK since round 8 (VERDICT_r7 item 2): the archiver's
tail window keeps only ~48 of the per-query minima, so cross-round
regression hunts on older queries needed a re-run.  The full first-line
record now ALSO writes to ``BENCH_LOCAL_r{N}.json`` beside this script
(N = 1 + the highest archived BENCH_r*.json round, i.e. the round in
progress; override the path with $SPARK_GRAFT_BENCH_OUT, disable with
SPARK_GRAFT_BENCH_OUT=none) — commit it each round and
``tools/compare_bench.py`` diffs any two rounds per query.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hbase_packet_inspector_spark import plans
from hbase_packet_inspector_spark.session import get_spark
from perfbench import probes

# Headline set: one per operator family (agg, percentile, topk, window,
# as-of correlation, star join, rollup, setop, anti join, dedup/similarity
# once they land).
HEADLINE = [
    "traffic_per_method",
    "latency_percentiles",
    "top_hot_users",
    "events_per_minute",
    "sessionize",
    "asof_correlate",
    "scanner_enrich",
    "rolling_avg_per_user",
    "pricing_summary",
    "top_revenue_orders",
    "nation_revenue",
    "customer_geo_rollup",
    "priority_top_orders",
    "parts_never_returned",
    "brand_supplier_volume",
    "order_lineitem_counts",
    "rpc_correlate",
    "rpc_scanner_state",
    "rpc_finalize",
    "skew_salted_join",
    "hbase_pcap_decode",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "doc_fingerprint",
    "lang_id",
    "token_count",
    "cosine_topk",
    "srp_bucket_topk",
    "ivf_topk_by_label",
    "embedding_norms",
    "dedup_embedding",
    "quantity_outliers",
    "user_event_pivot",
    "approx_distinct_users",
    "multimodal_byte_features",
    "rolling_fingerprint",
    "dedup_word_ngram",
    "asof_last_click",
    "conversion_funnel",
    "ivf_quantized_topk",
    "ivf_kmeans_topk",
    "repetition_ratio",
    "term_zipf",
    "tfidf_top_terms",
    "dedup_containment",
    "stratified_sample",
    "source_token_mix",
    "ann_recall",
    "ivf_kmeans2_topk",
    "curation_funnel",
    "range_join_counts",
    "pii_scrub",
    "pack_sequences",
    "decontaminate",
    "logreg2",
    "pq_adc_topk",
    "ivfpq_topk",
    "pq_recall",
    "top_event_paths",
    "doc_chunks",
    "chunk_dedup",
    "cohort_retention",
    "winnow_fingerprints",
    "winnow_pairs",
    "error_analysis",
    "hbase_pcap_tables",
    "dedup_keep_best",
    "cdc_chunks",
    "cdc_dedup",
    "bm25_topk",
    "unigram_surprise",
    "dedup_keep_best_lsh",
    "corpus_topics",
    "curation_by_source",
    "top_bigrams",
    "semdedup",
    "dedup_cluster_sizes",
    "multimodal_frame_sample",
    "multimodal_resize_plan",
    "multimodal_ppm_decode",
    "multimodal_wav_decode",
    "multimodal_video_frames",
    "scalar_functions",
    "embedding_pca",
    "embedding_pca_wide",
    "data_profile",
    "source_mixture_weights",
    "global_shuffle",
    "lsh_recall",
    "embedding_decontaminate",
    "curation_pipeline",
    "key_skew_report",
    "bigram_surprise",
    "dup_span_fraction",
    "dsir_weights",
    "logreg_score",
    "source_overlap",
    "pq_rerank_topk",
    "dedup_span_clean",
    "bpe_merges",
    "bpe_token_count",
    "span_dsir_pipeline",
    "source_length_quartiles",
    "srp_recall",
    "dedup_incremental",
    "lsh_bucket_stats",
    "split_leakage_audit",
    "label_centroid_sim",
    "label_outliers",
    "dsir_resample",
    "token_budget_select",
    "classifier_pr_curve",
    "simhash_pairs",
    "simhash_pairs_wide",
    "ingest_gate",
    "corpus_card",
    "url_dedup",
    "boilerplate_lines",
    "boilerplate_strip",
    "knn_graph",
    "knn_outliers",
    "bpe_source_fit",
    "source_diversity",
    "knn_label_prop",
    "corpus_diff",
    "multimodal_ppm_resize",
    "multimodal_wav_resample",
    "sq8_topk",
    "sq8_recall",
    "quality_drift",
    "zorder_layout",
    "gate_cutoffs",
    "gate_cutoffs_binned",
    "layout_skip_rates",
    "knn_graph_wide",
    "web_curation_pipeline",
    "hard_negatives",
    "image_ahash_pairs",
    "host_reputation",
    "contrastive_triplets",
    "video_frame_dedup",
    "wav_silence_trim",
    "image_dedup_keep_best",
    "media_ingest_gate",
    "ann_ndcg",
    "host_drift",
    "media_corpus_card",
    "warc_source_stats",
    "warc_crawl_curation",
    "warc_media_extract",
    "host_pagerank",
    "crawl_frontier",
    "link_graph",
    "mixture_sample",
    "curriculum_order",
    "html_text_extract",
    "leakage_safe_split",
    "pagerank_convergence",
    "matryoshka_recall",
    "hybrid_rrf",
    "anchor_text_summary",
    "robots_gate",
    "crawl_cycle",
    "hybrid_rrf_pruned",
    "crawl_schedule",
    "crawl_frontier_anchors",
    "robots_gate_rfc",
    "sitemap_discovery",
    "url_templates",
    "crawl_budget",
    "score_calibration",
    "gopher_quality",
    "c4_quality",
    "crawl_plan",
    "retrieval_ndcg",
    "robots_gate_wildcards",
    "recrawl_schedule",
    "retrieval_ndcg_pruned",
    "stack_code_quality",
    "license_mix",
    "heavy_hitters_cms",
    "bloom_join_prune",
    "hits_hubs_authorities",
    "readability",
    "k_anonymity",
    "triangle_count",
    "scd2_build",
    "approx_quantile_audit",
    "retrieval_mrr",
    "scd2_interval_events",
    "rate_zscore",
    "l_diversity",
    "feature_hashing",
    "score_lift",
    "score_lift_binned",
    "host_components",
    "attribution_linear",
    "ewma_smooth",
    "mad_outliers",
    "link_reciprocity",
    "window_funnel",
    "important_stock",
    "bloom_pruned_join",
    "revenue_rollup",
    "value_corr",
    "frequent_pairs",
    "jaccard_prefix_pairs",
    "edit_distance_pairs",
    "event_unpivot",
    "interarrival_stats",
    "monthly_growth",
    "t_closeness",
    "cusum_alerts",
    "k_core",
    "rfm_segments",
    "rfm_segments_binned",
    "acctbal_deciles_binned",
    "basket_affinity",
    "mmr_select",
    "markov_transitions",
    "q22_idle_customers",
    "degree_distribution",
    "ship_delay_profile",
    "minute_autocorr",
    "dau_wau_stickiness",
    "hhi_market_share",
    "vocab_growth_binned",
    "spend_lorenz_binned",
    "degree_assortativity",
    "vocab_growth",
    "min_cost_supplier",
    "entity_clusters",
    "entity_representatives",
    "time_to_convert",
    "open_orders_timeline",
    "seasonal_residuals",
    "clustering_coeff",
    "session_concurrency",
    "pareto_frontier",
    "supplier_ship_intervals",
    "bootstrap_price_ci",
    "weighted_sample_tokens",
    "dp_noisy_counts",
    "quantile_normalize_binned",
    "retrieval_rbo",
    "isotonic_calibration_binned",
    "cuped_adjusted_lift",
    "psi_drift_binned",
    "km_repurchase_survival",
    "rank_sum_test",
    "theil_decomposition",
    "benford_digit_audit",
    "median_of_means",
    "chisq_independence",
]


def _loadavg() -> float:
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except (OSError, ValueError, IndexError):
        return 0.0


def _quiesce(cpus: int, max_wait_sec: float = 300.0) -> tuple[bool, float]:
    """Wait for the box to settle; return (contended, observed_load).

    "Settled" = 1-min loadavg below a QUARTER of the CPUs we were
    allotted (the r8 record started at load 11.94/32 under the old
    half-CPUs threshold and shipped ``contended: false`` while every
    overlapping query drifted ~1.06x — a threshold loose enough to pass
    real contention is no threshold).  The 1-min average decays slowly,
    so we poll rather than sleep once.  If the load never drops within
    ``max_wait_sec`` we proceed anyway but stamp the run ``contended:
    true`` — a loudly-marked noisy number beats no number, and the
    cross-round comparator (tools/compare_bench.py) can then discount
    the record instead of silently folding it into per-query history.
    """
    threshold = max(2.0, cpus / 4.0)
    deadline = time.monotonic() + max_wait_sec
    load = _loadavg()
    while load > threshold and time.monotonic() < deadline:
        print(f"# quiesce: load {load:.1f} > {threshold:.1f}, waiting...", file=sys.stderr)
        time.sleep(10)
        load = _loadavg()
    if load > threshold:
        print(f"# quiesce: giving up at load {load:.1f} > {threshold:.1f}"
              " — record will be stamped contended: true", file=sys.stderr)
    return load > threshold, load


_EXT_THRESHOLD = 0.125  # foreign processes holding >1/8 of the box


class _JvmMeter:
    """Session-degradation instrumentation (the r10 verdict's one open
    question: late-session queries ran 4-10x their idle time on ALL
    repeats with ~0 foreign CPU — something session-CUMULATIVE, not the
    box). Reads the three JVM counters that distinguish the candidate
    causes directly from the local-mode JVM's management beans:

    - ``gc_ms``: total stop-the-world collection time (all GC beans).
      A query whose window shows big deltas is paying heap pressure.
    - ``heap_mb``: used heap after the query — monotone growth across
      the session means accumulated references (py4j's lazy deletion
      queue, codegen cache, block manager entries).
    - ``rdds``: persistent-RDD count. ``spark.catalog.clearCache()``
      clears SQL-cached plans but NOT localCheckpoint()'s cached RDD
      blocks — the iterative queries (components / k_core / HITS /
      logreg) each leave several behind, so at 238 registrations the
      block manager accumulates hundreds of orphaned block sets unless
      they are explicitly unpersisted (see release)."""

    def __init__(self, spark) -> None:
        jvm = spark.sparkContext._jvm
        self._mf = jvm.java.lang.management.ManagementFactory
        self._sc = spark.sparkContext

    def sample(self) -> tuple[int, int, int]:
        try:
            gc_ms = 0
            it = self._mf.getGarbageCollectorMXBeans().iterator()
            while it.hasNext():
                t = it.next().getCollectionTime()
                if t > 0:
                    gc_ms += t
            heap = self._mf.getMemoryMXBean().getHeapMemoryUsage().getUsed()
            rdds = self._sc._jsc.sc().getPersistentRDDs().size()
            return gc_ms, int(heap // (1024 * 1024)), rdds
        except Exception:  # metering must never fail the record
            return 0, 0, 0


def run_noop(spark, q, sf_dir: str, label: str) -> float:
    """One timed run of registered query ``q`` at ``sf_dir``: build it and
    write every row to the noop sink. Its jobs carry ``label`` as their
    description, so ``perfbench.probes.stages(spark, label)`` finds its
    stages afterwards. Returns wall seconds."""
    sc = spark.sparkContext
    sc.setJobDescription(label)
    try:
        t0 = time.perf_counter()
        q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0
    finally:
        sc.setJobDescription(None)


def release(spark) -> int:
    """The sweep between runs: drop cached plans, then unpersist every
    persistent RDD, the localCheckpoint residue that
    spark.catalog.clearCache() does not touch. A DataFrame built on a
    localCheckpointed plan is invalidated by this, but between runs
    nothing is reused, and every run then starts from the same cache
    state. Returns the number of RDDs released."""
    spark.catalog.clearCache()
    m = spark.sparkContext._jsc.sc().getPersistentRDDs()
    n = 0
    it = m.valuesIterator()
    while it.hasNext():
        it.next().unpersist(False)
        n += 1
    return n


def _write_local_record(record: dict) -> None:
    """Persist the FULL bench record beside this script so per-query
    history survives the driver's 2000-char tail archive.  Default name
    is BENCH_LOCAL_r{N}.json with N = 1 + the highest BENCH_r*.json round
    already archived (the round currently in progress); a re-run within
    the same round overwrites — the committed file is the round's latest
    measurement.  Only the canonical sf0.1 run earns the round name: a
    verification run at another SF would silently clobber the committed
    per-query history with incomparable numbers (it did, once), so those
    land in BENCH_LOCAL_last_sf{sf}.json instead.  Never fatal: the
    printed lines remain the contract."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    out = os.environ.get("SPARK_GRAFT_BENCH_OUT", "")
    if out.lower() == "none":
        return
    if not out and record.get("sf") != 0.1:
        out = os.path.join(
            here, f"BENCH_LOCAL_last_sf{record.get('sf')}.json")
    if not out:
        rounds = [
            int(m.group(1))
            for p in glob.glob(os.path.join(here, "BENCH_r*.json"))
            if (m := re.search(r"BENCH_r(\d+)\.json$", p))
        ]
        out = os.path.join(
            here, f"BENCH_LOCAL_r{max(rounds, default=0) + 1}.json")
    try:
        with open(out, "w") as f:
            json.dump(record, f)
            f.write("\n")
        print(f"# full record -> {out}", file=sys.stderr)
    except OSError as e:
        print(f"# could not write {out}: {e}", file=sys.stderr)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    contended, load0 = _quiesce(cpus)
    spark = get_spark("hpi-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warmup: JVM, whole-stage codegen compilation, parquet footer caches.
    # Each query runs once at the smallest sf first — generated code is
    # cached per expression tree, so the timed sf runs measure execution,
    # not janino compilation (which dominates cold runs of the wide
    # hash-expression pipelines by several seconds).
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    for name in HEADLINE:
        q = plans.QUERIES.get(name)
        if q is None:
            continue
        try:
            run_noop(spark, q, warm_dir, f"warmup {name}")
        except Exception:
            pass
        release(spark)

    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    spread: dict[str, float] = {}
    ext_share: dict[str, float] = {}
    gc_ms: dict[str, int] = {}
    heap_mb: dict[str, int] = {}
    tree = probes.ProcTree()
    jmeter = _JvmMeter(spark)
    rdd_peak = 0
    import gc as _pygc

    for qi, name in enumerate(HEADLINE):
        q = plans.QUERIES.get(name)
        if q is None:
            continue
        runs: list[float] = []
        window = probes.CpuWindow(tree)
        j0 = jmeter.sample()
        for i in range(repeats):
            runs.append(run_noop(spark, q, sf_dir, f"{name} run {i}"))
            # drop persisted frames and localCheckpoint residue between
            # runs so earlier work's executor memory doesn't tax later
            # ones, every repeat pays the same cache state, and the block
            # manager never accumulates orphaned block sets across the
            # registry (the r11 fix for long-session degradation)
            rdd_peak = max(rdd_peak, release(spark))
        if (qi + 1) % 25 == 0:
            # flush py4j's lazy JVM-object deletion queue (it drains on
            # PYTHON gc), then hint a full collection so heap_mb tracks
            # live data, not float garbage
            _pygc.collect()
            try:
                spark.sparkContext._jvm.System.gc()
            except Exception:
                pass
        j1 = jmeter.sample()
        # a share above the box's whole capacity is a metering artifact
        ext_share[name] = round(min(1.0, window.close()[1]), 3)
        gc_ms[name] = j1[0] - j0[0]
        heap_mb[name] = j1[1]
        med = statistics.median(runs)
        timings[name] = round(min(runs), 3)
        medians[name] = round(med, 3)
        spread[name] = round((max(runs) - min(runs)) / med, 3) if med > 0 else 0.0
        print(
            f"# {name}: min {timings[name]:.3f}s med {medians[name]:.3f}s "
            f"spread {spread[name]:.2f} ext {ext_share[name]:.2f} "
            f"gc {gc_ms[name]}ms heap {heap_mb[name]}MB",
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 3)
    spreads = sorted(spread.values())
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:25])
    record = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "repeats": repeats,
        "timed_action": "noop",
        "contended": contended,
        "load_at_start": load0,
        # mid-run contention (r10): per-query share of the box's CPU
        # held by FOREIGN processes while that query was being timed
        "ext_cpu_max": max(ext_share.values()) if ext_share else 0.0,
        "ext_contended": sorted(
            n for n, s in ext_share.items() if s > _EXT_THRESHOLD),
        "ext_cpu_share": ext_share,
        # session-degradation forensics (r11): per-query JVM GC delta,
        # heap after the query, and the peak persistent-RDD count seen
        # before each run's release — the counters that adjudicate
        # "code regression" vs "session-cumulative JVM state"
        "gc_total_ms": sum(gc_ms.values()),
        "heap_peak_mb": max(heap_mb.values()) if heap_mb else 0,
        "rdd_peak": rdd_peak,
        "gc_ms": gc_ms,
        "heap_mb": heap_mb,
        "queries_median_total": round(sum(medians.values()), 3),
        "spread_median": spreads[len(spreads) // 2] if spreads else 0.0,
        "spread_max": spreads[-1] if spreads else 0.0,
        "noisy": sorted(n for n, s in spread.items() if s > 0.5),
        "queries": timings,
        # tail-visible summary: real seconds, worst first — any
        # consumer that archives only the end of this line sees
        # labeled per-query minima, not dimensionless spreads
        "slowest_unit": "sec(min of repeats)",
        "slowest": slowest,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    print(json.dumps(record))
    _write_local_record(record)
    # Short summary line, printed LAST: complete inside any tail window
    # (~400 chars), so the archived record of "total seconds this round"
    # survives even when the full line above is truncated.
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "summary_of": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "n_queries": len(timings),
                "repeats": repeats,
                "timed_action": "noop",
                "contended": contended,
                "load_at_start": load0,
                "ext_cpu_max": max(ext_share.values()) if ext_share else 0.0,
                "n_ext_contended": sum(
                    1 for s in ext_share.values() if s > _EXT_THRESHOLD),
                "gc_total_ms": sum(gc_ms.values()),
                "heap_peak_mb": max(heap_mb.values()) if heap_mb else 0,
                "rdd_peak": rdd_peak,
                "spread_median": spreads[len(spreads) // 2] if spreads else 0.0,
                "spread_max": spreads[-1] if spreads else 0.0,
                "n_noisy": sum(1 for s in spread.values() if s > 0.5),
                "slowest_unit": "sec(min of repeats)",
                "slowest": dict(list(slowest.items())[:5]),
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
