#!/usr/bin/env python
"""Session-cache memory-pressure A/B (round-13 VERDICT item 3).

Hypothesis to rule in/out: the session caches the r12 optimizations
leave resident (4 media signature relations + hashed shingles + ANN
ranked bases + IVF/LSH indexes + BPE/kmeans artifacts, all pinned as
InMemoryRelations/checkpoint blocks in ONE 267-query session) evict or
GC-drag UNRELATED queries — the proposed cause of the r12 bench's
median-1.15 tail drift on untouched code.

Design (one controlled variable):
  * every run is a FRESH process that (1) warms the JVM, (2) builds the
    FULL resident cache set by executing one representative query per
    cached family, (3) either KEEPS the caches resident or CLEARS them
    (memo_clear() + unpersist of every persistent RDD), then (4) times
    a TAIL of cache-independent queries (three passes per query, the
    first one cold; the best of the three is kept).
  * the tail contains ONLY queries that consume no session cache/memo,
    so mode B never rebuilds what it cleared — the only difference
    between modes is whether the resident set occupies storage memory
    while the tail runs.
  * runs ALTERNATE modes (resident, cleared, resident, cleared) so host
    drift hits both sides equally; per-query min across same-mode runs.

If the cleared tail is materially faster (median ratio well below 1.0)
the pressure is real and the registry should unpersist family caches
after their last consumer; if the ratio is ~1.0 the r12 host-bimodality
adjudication stands with direct evidence.

Usage:
    python tools/cache_pressure_ab.py run MODE      # one fresh run
    python tools/cache_pressure_ab.py ab [ROUNDS]   # alternated driver
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.path.join(REPO, "tools", "CACHE_PRESSURE_AB.json")

# One representative per session-shared family: executing these
# materializes every cache the full bench leaves resident (media sigs
# x4, text sigs, hashed shingles, catalog memo relations, ANN ranked
# bases + IVF cells + LSH buckets + PQ codes, BPE induction, kmeans
# fit, admission faces' checkpoints).
CACHE_BUILDERS = [
    "video_fingerprints",
    "media_perceptual_hashes",
    "mixed_media_fingerprints",
    "audio_fingerprints",
    "dedup_simhash",
    "dedup_minhash_lsh",
    "column_stats_catalog",
    "column_stats_catalog_hll_prod",
    "similarity_topk",
    "similarity_ivf_ann",
    "similarity_lsh_ann",
    "semantic_dedup",
    "pq_ann",
    "bpe_merges",
    "kmeans_prototypes",
    "text_admission_decisions",
    "media_admission_decisions",
]

# Cache-independent tail: relational/window/sketch/stats/text queries
# that touch no session cache or memo (includes every query the r12
# VERDICT named as tail-drift examples).  48 queries.
TAIL = [
    "session_stats",
    "routing_fanout",
    "winsorized_prices",
    "acf_profile",
    "supplier_running_total",
    "token_cooccurrence",
    "sessionization",
    "server_stats",
    "subsystem_counts",
    "subsystem_stats",
    "envelope_validate",
    "flagship_filter_dsl",
    "filter_dsl_conjunction",
    "hourly_event_rollup",
    "tumbling_window_counts",
    "sliding_window_counts",
    "rolling_active_users",
    "weekly_retention_cohorts",
    "interarrival_stats",
    "order_gaps",
    "ewma_user_score",
    "cusum_shift_detection",
    "value_trend_regression",
    "ks_drift_test",
    "mannwhitney_auc",
    "rater_agreement_kappa",
    "robust_outliers",
    "price_deciles",
    "price_histogram",
    "quantity_quantiles",
    "approx_quantity_quantiles",
    "hll_distinct_by_type",
    "kmv_distinct",
    "cms_heavy_hitters",
    "heavy_hitter_users",
    "salted_topk_values",
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q8_market_share",
    "q11_major_nations",
    "q14_promo_revenue",
    "topk_orders_per_customer",
    "token_counts",
    "text_metrics",
    "tfidf_top_terms",
    "pii_redaction",
]


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def storage_snapshot(spark) -> dict:
    """Resident persistent-RDD blocks (localCheckpoints + SQL cache)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    mem = sum(i.memSize() for i in infos)
    disk = sum(i.diskSize() for i in infos)
    return {
        "n_persistent_rdds": len(infos),
        "mem_bytes": int(mem),
        "disk_bytes": int(disk),
    }


def clear_all_caches(spark) -> None:
    """The one reset: drop the session memo and free every persistent
    RDD block (memo relations and operator-local checkpoints)."""
    from eventstreamd_spark.plans.memo import memo_clear

    memo_clear()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for jrdd in jmap.values():
        jrdd.unpersist()


def run_once(mode: str) -> dict:
    from eventstreamd_spark import queries_registry as reg
    from eventstreamd_spark.session import get_spark, load_table

    spark = get_spark(
        "cache-pressure-ab", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    )
    spark.sparkContext.setLogLevel("ERROR")
    _force(load_table(spark, SF_DIR, "lineitem"))  # JVM warm-up

    t0 = time.perf_counter()
    for name in CACHE_BUILDERS:
        _force(reg.QUERIES[name](spark, SF_DIR))
    build_sec = time.perf_counter() - t0
    resident = storage_snapshot(spark)

    if mode == "cleared":
        clear_all_caches(spark)
    after = storage_snapshot(spark)

    timings: dict[str, float] = {}
    for name in TAIL:
        fn = reg.QUERIES[name]
        best = float("inf")
        for _ in range(3):  # pass 1 = cold, best-of-3 overall
            t0 = time.perf_counter()
            _force(fn(spark, SF_DIR))
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 4)
    out = {
        "mode": mode,
        "build_sec": round(build_sec, 2),
        "resident_before_tail": after,
        "resident_at_full_set": resident,
        "tail_total_sec": round(sum(timings.values()), 4),
        "tail": timings,
    }
    spark.stop()
    return out


def ab(rounds: int) -> None:
    runs: list[dict] = []
    for i in range(rounds):
        for mode in ("resident", "cleared"):
            r = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "run", mode],
                capture_output=True,
                text=True,
                cwd=REPO,
            )
            try:
                rec = json.loads(r.stdout.strip().splitlines()[-1])
            except Exception:
                print(r.stdout[-2000:], file=sys.stderr)
                print(r.stderr[-2000:], file=sys.stderr)
                raise
            rec["round"] = i
            runs.append(rec)
            print(
                f"[{i}] {mode}: tail={rec['tail_total_sec']}s "
                f"resident={rec['resident_before_tail']['mem_bytes']/1e6:.0f}MB",
                file=sys.stderr,
            )
    best = {"resident": {}, "cleared": {}}
    for rec in runs:
        for q, t in rec["tail"].items():
            cur = best[rec["mode"]].get(q)
            best[rec["mode"]][q] = t if cur is None else min(cur, t)
    ratios = [
        best["cleared"][q] / best["resident"][q]
        for q in TAIL
        if best["resident"].get(q)
    ]
    summary = {
        "per_query_best": best,
        "median_cleared_over_resident": round(statistics.median(ratios), 4),
        "tail_total_resident": round(sum(best["resident"].values()), 3),
        "tail_total_cleared": round(sum(best["cleared"].values()), 3),
        "runs": runs,
    }
    with open(OUT, "w") as fh:
        json.dump(summary, fh, indent=1, sort_keys=True)
    print(
        json.dumps(
            {
                k: summary[k]
                for k in (
                    "median_cleared_over_resident",
                    "tail_total_resident",
                    "tail_total_cleared",
                )
            }
        )
    )


if __name__ == "__main__":
    if sys.argv[1] == "run":
        print(json.dumps(run_once(sys.argv[2])))
    else:
        ab(int(sys.argv[2]) if len(sys.argv) > 2 else 2)
