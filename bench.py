#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Warm-up: each query shape runs once at sf0.001 first (pays JVM/codegen
/ file-index warm-up on miniature data), then the timed pass runs at the
target SF. Results are fully materialized via count() on a
cached-nothing plan — representative of a write-or-collect consumer
without driver-collect overhead dominating.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from turbine_maintenance_etl_spark import get_spark
from turbine_maintenance_etl_spark.queries import load_registry

REGISTRY = load_registry()

BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_regional_revenue",
    "cmapss_feature_engine",
    "w_sessionization",
    "a9_two_level_agg",
    "a12_a14_quantile_corr",
    "agg_rollup_cube",
    "dedup_exact_groups",
    "dedup_minhash_lsh",
    "text_quality_signals",
    "sim_brute_force_topk",
    "sim_lsh_topk",
    "sim_ivf_topk",
    "events_tumbling_window",
    "w_analytic_suite",
    "pipeline_corpus_curation",
    "text_repetition_signals",
    "text_decontamination",
    "pipeline_sequence_packing",
    "j_asof_join",
    "j_range_join",
    "q18_large_orders",
    "text_tfidf_top_terms",
    "curation_temperature_mix",
    "quality_lm_perplexity",
    "dedup_incremental_lsh",
    "events_session_window",
    "dedup_semantic_survivors",
    "pipeline_curation_v2",
    "dedup_span_coverage",
    "dedup_span_rewrite",
    "quality_sb3_perplexity",
    "corpus_datacard",
    # round-5 additions: the promoted flagships + the new image dedup
    "dedup_normalized_exact",
    "dedup_image_phash",
    "sim_ivfpq_topk",
    "pipeline_curation_v3",
    "dedup_audio_fingerprint",
    "dedup_video_frames",
    "dedup_graph_suite",
    "sim_topk_suite",
    # session-2 additions: fuzzy decontamination + acid change data feed
    "text_decontamination_fuzzy",
    "s_acid_table_changes",
    # round-6 additions: the compaction suites + promoted window entries.
    # streaming_curation_capstone and s_acid_cdf_incremental_agg are
    # deliberately NOT benched: their wall time is fixed multi-commit
    # acid/streaming lifecycle overhead, flat at 8x data (PLANS.md
    # round-6 scale probe) — benching them would add ~35s of protocol
    # noise per driver run without measuring any plan.
    "agg_grouping_suite",
    "s_acid_table_roundtrip",
    "a_stats_suite",
    "split_cluster_aware",
    # round-7 addition: the real-JPEG codec path (encode -> decode ->
    # phash -> dedup). s_acid_stream_rollup stays unbenched for the
    # same reason as the other acid/streaming lifecycle capstones.
    "dedup_image_phash_jpeg",
    # round-7 addition: the exactly-SQL-checkable IVF member (hash-
    # sampled quantizer) — watched next to its Lloyd-trained siblings
    "sim_ivf_sampled_topk",
    # round-8 additions: the composed sampled IVF-PQ (full-oracle ANN
    # composition), the frozen-weights classifier scoring map, and the
    # at-scale approx-percentile variant next to its exact sibling
    "sim_ivfpq_sampled_topk",
    "quality_classifier_scoring",
    "a12_approx_quantiles",
    # round-8 session-2 additions: BM25 lexical retrieval, the
    # encoder-value-checked chunk->embed->inverted-index chain, and the
    # exact per-stratum quota sample
    "text_bm25_topk",
    "pipeline_chunk_embed_retrieval",
    "sample_stratified_exact",
    # round-8: the progressive-JPEG proof entry (format-mixed corpus)
    "dedup_image_phash_jpeg_progressive",
    # round-8: the GROUPED_AGG pandas-UDF surface
    "ud_grouped_agg_wavg",
    # round-8 session 3: the arithmetic-JPEG proof entry (SOF0/2/9/10 mix)
    "dedup_image_phash_jpeg_arith",
    # round-8 session 3: cross-format audio dedup (G.711 + PCM16 mix)
    "dedup_audio_fingerprint_g711",
    # round-8 session 3: full-PNG-surface proof (palette/16-bit/Adam7 mix)
    "dedup_image_phash_png_formats",
    # round-8 session 3: lossless-JPEG proof (SOF3, predictor-cycled)
    "dedup_image_phash_jpeg_lossless",
    # round-8 session 3: ADPCM container proof (constant-block IMA/MS mix)
    "dedup_audio_fingerprint_adpcm",
    # round-8 session 3: MJPEG-AVI container demux (lossless-JPEG frames)
    "dedup_video_avi",
    # round-8 session 3: GIF proof (LZW, gray palette, interlace mix)
    "dedup_image_phash_gif",
    # round-9: the ML scoring surface — the frozen-weight LR chain
    # (impute/scale stats + narrow map) and the MLP pandas-UDF forward
    # pass (one ArrowEvalPython, zero shuffles)
    "ml_linear_scoring",
    "ml_mlp_forward_scoring",
]

# Round-8 (r7 verdict item 3): every benched entry gets one untimed
# pass at the TARGET SF before its timed reps (the warm call sits
# inside the timing loop below). The sf0.001 warm-up
# covers JVM/codegen for the miniature plan shapes, but the first
# target-SF run of an entry still pays (a) per-corpus state builds —
# generated multimodal tables, memoized ANN index fits, acid
# scaffolding — and (b) AQE-specific codegen: adaptive execution
# re-plans on runtime shuffle stats, so the big chains compile NEW
# generated code the first time they run at each data scale (measured:
# pipeline_curation_v3 22.5s first run at sf0.1, ~7s after; phash_jpeg
# 3.8 -> 1.4). Driver medians should measure steady state, which is
# what a deployed pipeline pays.
#
# Round-9 (r8 verdict item 4): the warm run happens IMMEDIATELY BEFORE
# each entry's timed reps rather than as one big pass up front. Same
# total work, better placement: with the up-front pass, ~60 other
# entries ran between an entry's warm run and its first timed rep, so
# rep 1 still paid GC/python-worker churn left by its neighbors —
# measured r8 spreads dedup_image_phash [0.83, 2.07] and
# dedup_video_avi [1.65, 3.27] under the old placement vs [0.89, 1.16]
# / [1.82, 2.20] when the same entries run back-to-back.

# Loud-fail on registry drift (round-5 verdict #5): bench must break at
# import when an entry is renamed/unregistered or left out of
# PRIORITY_ORDER, not silently keep benching a stale hand-kept list.
from turbine_maintenance_etl_spark.queries import PRIORITY_ORDER  # noqa: E402

_drift = [n for n in BENCH_QUERIES if n not in REGISTRY or n not in PRIORITY_ORDER]
if _drift:
    raise RuntimeError(
        f"bench.py drifted from the registry/order: {_drift} — fix BENCH_QUERIES "
        "or register/order the entries"
    )


def _materialize(df) -> None:
    """Force FULL evaluation of every output row and column via the
    noop sink (distributed consume, no driver transfer). Round-7 bench
    fix: the old ``df.count()`` let Catalyst eliminate cardinality-
    preserving left joins and prune every computed column — e.g.
    quality_sb3_perplexity's count() collapsed to a bare parquet count
    and 'measured' 0.6s for a ~6s scoring chain. A benchmark must time
    what a consumer reading the result would pay; rounds <= 6 timings
    are count-mode and 2-6x lower on projection/window/left-join-shaped
    entries (PLANS.md round-7 records the dual-mode totals)."""
    df.write.format("noop").mode("overwrite").save()


WARM_DIR = "/root/testdata/sf0.001"


def time_entry(spark, fn, sf_dir: str, max_runs: int = 7) -> list[float]:
    """Sorted wall times of ``fn(spark, sf_dir)`` + noop materialization:
    the one timing protocol every measurement in the repo shares (the
    caller warms first).

    MEDIAN protocol: three genuinely-cold runs (round-4 verdict #5:
    best-of-N made the ±10-14% shared-VM noise band indistinguishable
    from real regressions), clearCache() before each so operator-
    internal persists never carry between runs (no cache-assisted fast
    repeats). If the three runs still disagree badly (max > 1.5x min)
    the host was noisy — take up to ``max_runs`` in total before the
    median, so the reported number is steady-state cold execution.
    The median is ``runs[len(runs) // 2]``; min/max ride along so a
    verdict can tell noise from regression."""
    runs: list[float] = []
    for _ in range(max_runs):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        _materialize(fn(spark, sf_dir))
        runs.append(time.perf_counter() - t0)
        if len(runs) >= 3 and max(runs) <= 1.5 * min(runs):
            break
    runs.sort()
    return runs


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = get_spark(app_name="bench")
    # warm-up: run every query shape once on the miniature SF so timed
    # runs measure execution, not JVM codegen / file-listing warm-up
    if os.path.isdir(WARM_DIR) and WARM_DIR != sf_dir:
        for name in BENCH_QUERIES:
            _materialize(REGISTRY[name].fn(spark, WARM_DIR))
    timings: dict[str, float] = {}
    minmax: dict[str, list[float]] = {}
    for name in BENCH_QUERIES:
        fn = REGISTRY[name].fn
        # adjacent target-SF warm run (see the round-9 note above)
        _materialize(fn(spark, sf_dir))
        runs = time_entry(spark, fn, sf_dir)
        timings[name] = round(runs[len(runs) // 2], 4)
        minmax[name] = [round(runs[0], 4), round(runs[-1], 4)]
    total = round(sum(timings.values()), 4)
    print(
        json.dumps(
            {
                "metric": "headline_query_wall_time",
                "value": total,
                "unit": "sec",
                "measure": "noop-materialize (r7 fix: count() pruned "
                "computed columns; r<=6 numbers are 2-6x lower on "
                "projection-shaped entries — PLANS.md round 7)",
                "queries": timings,
                "queries_minmax": minmax,
                "sf": float(sf),
            }
        )
    )
    # Round-8 fix (r7 verdict item 1): the full dict above is >4 KB and
    # the driver keeps only the LAST 2000 chars of stdout, so the head
    # (metric/value/unit) was cut and every BENCH_r*.json since round 1
    # recorded parsed:null. Print a compact summary LAST so the tail
    # always contains one complete parseable JSON line.
    #
    # Round-11 fix (r10 verdict item 2): the driver's per-query PERF
    # comparator was blind (`PERF_r10.json per_query: {}`) because the
    # scalar per-query map only appeared in the LONG line above, whose
    # head falls outside the 2000-char tail window. The compact summary
    # line now ALSO carries the scalar per-query seconds (2 dp — the
    # full 4-dp medians and min/max stay in the long line, unchanged),
    # compact-serialized and length-guarded so the complete line always
    # fits the tail window. Additive only: no timing-path change, no
    # entry renamed/removed; the headline value is computed exactly as
    # before.
    summary = {
        "metric": "headline_query_wall_time",
        "value": total,
        "unit": "sec",
        "n": len(timings),
        "sf": float(sf),
        "queries": {
            n: (round(t, 2) if t < 10 else round(t, 1))
            for n, t in timings.items()
        },
    }
    line = json.dumps(summary, separators=(",", ":"))
    if len(line) > 1990:  # keep the whole line inside the 2000-char tail
        summary["queries"] = {n: round(t, 1) for n, t in timings.items()}
        line = json.dumps(summary, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
