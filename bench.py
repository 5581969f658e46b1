"""Benchmark harness: runs the headline catalog queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...},
 "codegen_compilations": {...}, "sf": ...}

Each query is drained with the noop writer (full computation, no
driver-side collect, no disk I/O in the measurement).
"""

from __future__ import annotations

import json
import os
import sys
import time

from mapreduce_itwiki_spark.plans import catalog
from mapreduce_itwiki_spark.session import codegen_compilations, get_spark

HEADLINE = [
    "wiki_incoming_refs",
    "q1_pricing_summary",
    "join_orders_lineitem",
    "join_broadcast_dims",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "window_topk_per_group",
    "two_stage_agg",
    "sessionize",
    "session_window_agg",
    "dedup_minhash_lsh",
    "simhash_signature",
    "ann_cosine_topk",
    "embedding_neardup_lsh",
    "text_quality",
    # round 3 additions (existing keys above keep their definitions so
    # round-over-round deltas stay comparable)
    "neardup_apply_keep",
    "repetition_quality",
    "chunk_documents_overlap",
    # round 4 additions
    "ann_ivf_topk",
    "knn_graph_lsh",
    # round 5 additions
    "q6_forecast_revenue",
    "q18_large_volume_customer",
    "duplicate_span_extents",
    # round 6 additions (TPC-H battery completion)
    "q9_product_type_profit",
    "q21_waiting_suppliers",
    # round 7 additions
    "embedding_pca_project",
    # round 8 additions
    "ann_pq_topk",
    # round 9 additions (feature-engineering / model-fitting family)
    "naive_bayes_langid",
    "allpairs_prefix_jaccard",
    "classifier_auc_eval",
    # round 10 additions (retrieval scoring + GBDT split finding +
    # zero-shuffle JL projection + convergence-checked k-core)
    "bm25_topk",
    "tree_split_histogram",
    "embedding_random_projection",
    "kcore_membership",
    # round 11 additions: the namesake XML pipeline (serialize->scan->
    # parse->linkcount) gets a recorded wall-time trend, not just
    # correctness artifacts
    "wiki_xml_roundtrip",
    # round 12 additions (driver round 6): the persisted-index lookup
    # (includes the index write — the amortized-read story lives in the
    # plan gate), perceptual image dedup, and AA link prediction
    "ann_index_topk",
    "multimodal_dedup_phash",
    "adamic_adar_link_prediction",
    # round 13 additions (driver round 7): the persisted near-dup index
    # — build cost (always rebuilds) and the incremental batch probe
    # (reuses the keyed index after pass 1, so its row measures the
    # amortized daily-ingest cost, which is the story)
    "minhash_index_build",
    "neardup_incremental_index",
    # round 14 additions (driver round 7, second half): the vector twin
    # of the incremental near-dup story — corpus index + batch append +
    # a fresh-vector probe (amortized after pass 1, like
    # neardup_incremental_index) — and cluster-scoped semantic dedup
    "ann_incremental_topk",
    "semdedup_prune",
    # the lifecycle's third verb: build -> append -> compact at the
    # demo cap (hot-bucket re-rank + dynamic partition overwrite)
    "ann_index_compact",
    # the production composite: IVF pruning x PQ compression + rerank
    "ann_ivfpq_topk",
    # round 15 additions (driver round 8): the persisted IVFPQ code
    # table — build cost (always rebuilds: both quantizer trainings +
    # the full-corpus encode) and the pruned byte-code ADC query
    # (amortized after pass 1 behind the index manifest); the
    # non-default-geometry index lookup; the IVF lifecycle
    # (build→append→retrain); and the per-batch probe-budget monitor
    "ann_ivfpq_index_build",
    "ann_ivfpq_index_topk",
    "ann_index_tuned_topk",
    "ann_ivf_index_retrain",
    "ann_probe_coverage_report",
    # round 16 additions (driver round 9): the occupancy-measured
    # geometry plan (one grid pass), the Hamming-1 multi-probe lookup
    # (amortized index), the sampled probe-budget monitor (the
    # monitoring row whose full mode was the costliest scale row), the
    # IVFPQ retrain lifecycle (always rebuilds: the honest full pass),
    # and the report→verb policy table (three in-DAG metric chains)
    "ann_geometry_occupancy_plan",
    "ann_index_multiprobe_topk",
    "ann_probe_coverage_sampled",
    "ann_ivfpq_index_retrain",
    "index_maintenance_policy",
    # round 17 additions (driver round 10): the IVF occupancy plan
    # (grid-trained in one sample pass), the retrain-at-measured-nlist
    # lifecycle (always rebuilds twice: undersized build + remeasured
    # retrain — the honest verb cost), the end-to-end LSH policy loop
    # (report → rebuild-at-measured → re-measured report; amortized
    # index), the wide-cap ingest screening (the recall ladder's third
    # dial), and the budget-targeted monitor (worst-case-bounded mod)
    "ann_ivf_occupancy_plan",
    "ann_ivf_index_retrain_measured",
    "ann_policy_retune_loop",
    "ann_ingest_capped_verdicts",
    "ann_probe_coverage_budget",
    # round 10 second batch: the corpus-pass curation signal, the
    # all-integer changepoint window, and the weighted-quantile window
    "doc_ngram_novelty",
    "cusum_changepoint",
    "weighted_median_price",
    # the production-scale twin: range-bucketed two-phase rule, no
    # per-flag total sort (sf5tab 18.3 -> 3.7 s)
    "weighted_median_price_sharded",
    # round 10 third batch: dense-grid regularization and the
    # grid-bucketed spatial nearest-neighbor join
    "timeseries_gap_fill",
    "grid_nearest_supplier",
    # round 10 fourth batch: SCD2 derivation and the SHARDED sweep-line
    # (the unsharded twin stays out of the bench on purpose — its
    # |types|-partition sort is the documented anti-cost)
    "scd2_user_segments",
    "max_concurrent_sessions_sharded",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")
    qs = catalog.queries()
    timings: dict[str, float] = {}
    spread: dict[str, dict[str, float]] = {}
    # Interleaved passes, min per query across passes. Two reasons this
    # beats per-query best-of-N batches:
    # * the virtualization host shows multi-second CPU-steal BURSTS — a
    #   query sampled 3× back-to-back can land every sample in one
    #   burst, while samples a full pass apart are decorrelated in time;
    # * the md5-heavy codegen plans keep JIT-improving for ~6
    #   executions — the r8 fresh-JVM A/B (TUNING.md) showed the r7
    #   "+6% drift" was exactly this: bm25_topk's knee sits at its 6th
    #   execution, one past what 1 warm-up + 4 passes sampled, so the
    #   recorded min rode the JIT tail. Two untimed warm-up passes put
    #   every plan past the knee before sampling starts. Re-checked
    #   against the compile counts (sf0.01, local[4]): at Spark's old
    #   100-entry class cache every pass recompiled ~2,700 classes, so
    #   each execution ran fresh, un-JITted code; with the cache
    #   holding the headline (tens of compiles per pass) the warm passes
    #   settle by the third execution (33.4, 31.1, 30.4, 30.2, 30.1 s).
    n_passes = 4
    samples: dict[str, list[float]] = {n: [] for n in HEADLINE}
    for _ in range(2):
        for name in HEADLINE:
            qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
    # Janino compiles per query over the sampled passes: 0 when the
    # codegen cache holds the headline's generated classes
    compiles = {n: 0 for n in HEADLINE}
    for _ in range(n_passes):
        for name in HEADLINE:
            c0 = codegen_compilations(spark)
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
            samples[name].append(time.perf_counter() - t0)
            compiles[name] += codegen_compilations(spark) - c0
    for name in HEADLINE:
        s = sorted(samples[name])
        timings[name] = round(s[0], 3)
        # min/median spread so round-over-round deltas under ~10% can be
        # classified as noise vs real movement
        spread[name] = {
            "min": round(s[0], 3),
            "med": round(s[len(s) // 2], 3),
            "n": len(s),
        }
    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "spread": spread,
                "codegen_compilations": compiles,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
