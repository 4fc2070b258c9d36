"""Batch suites: registered queries run in registry order in one fresh
Spark session over seeded tables.

Run by ``perfbench/run.py`` as ``python -m perfbench.batch SPEC``, where
SPEC is a JSON file naming the workload, seed, seconds, trace flag and
the run directory; the result is written to ``result.json`` there.

Passes, in order:

1. first pass: every query once in the fresh session (``first_pass_s``);
2. check: each first-pass DataFrame runs again, its result fetched to
   the driver (``replay_s``) and, once Spark has stopped, compared with
   its DuckDB oracle; it is also the warm-up;
3. steady passes until ``seconds`` have been measured (``suite_s``).

A query's time is building its DataFrame (the registry call) plus a
``noop`` write of the full result.
"""

from __future__ import annotations

import json
import os
import sys
import time

from perfbench import gen, ledger
from perfbench.procs import PeakRss
from perfbench.stats import median, percentile

# Queries that share session relations, in registry order: the MinHash
# pair tier (_doc_shingles/_doc_pairs through the session caches), the
# memo-checkpointed LSH corpus, and the image-signature view over the
# blob fixture.  Session caches and plan construction carry the time.
SUITES = {
    "dedup_session": [
        "dedup_minhash_lsh",
        "similarity_lsh_ann",
        "media_split_leakage",
    ],
}
# Blob fixtures (write-once parquet under .scratch) the suite reads; they
# are made before timing starts, as a real pipeline's blobs are on disk.
FIXTURES = {"dedup_session": ["scene_image"]}


class Spans:
    """Wall-clock spans around each call into the program, kept in
    memory and written at exit.  With tracing on, each span also sets
    the Spark job group, so the event log attributes its jobs."""

    def __init__(self, sc, trace: bool) -> None:
        self.sc = sc
        self.trace = trace
        self.rows: list[tuple[str, float, float]] = []
        self.tracer_s = 0.0

    def run(self, group: str, fn):
        if self.trace:
            t = time.perf_counter()
            self.sc.setJobGroup(group, group)
            self.tracer_s += time.perf_counter() - t
        t0 = time.time()
        out = fn()
        self.rows.append((group, t0, time.time()))
        return out


def _fixture_dirs(root: str) -> list[str]:
    """Blob fixtures on disk that were made from this run's tables."""
    base = os.path.join(root, ".scratch", "media_fixture")
    return sorted(
        os.path.relpath(os.path.join(d, n), base)
        for d, dirs, _ in os.walk(base)
        for n in dirs
        if n.endswith(".parquet") and "perfbench-data-" in d
    )


def _spark_result(name: str, df, manifest):
    """What the check compares: the (rows, fingerprint) digest where the
    digest manifest covers the query, else the canonical frame."""
    from eventstreamd_spark.digest import digest_frame

    if name in manifest:
        row = digest_frame(df, name, manifest[name]).collect()[0]
        return ("digest", int(row["n_rows"]), row["fp"])
    return ("frame", df.toPandas())


def _oracle_check(name: str, got, con, manifest, oracles) -> str | None:
    """None when the Spark result equals the oracle's, else why not."""
    import pandas as pd

    from eventstreamd_spark.digest import sql_digest_arm
    from tools.check_correctness import canonicalize

    if got[0] == "digest":
        row = con.execute(sql_digest_arm(name, oracles[name], manifest[name])).fetchone()
        want = (int(row[1]), row[2])
        return None if got[1:] == want else f"digest {got[1:]} != oracle {want}"
    sp, du = got[1], con.execute(oracles[name]).df()
    if sorted(sp.columns) != sorted(du.columns):
        return f"columns {sorted(sp.columns)} != {sorted(du.columns)}"
    if len(sp) != len(du):
        return f"rows {len(sp)} != {len(du)}"
    try:
        pd.testing.assert_frame_equal(
            canonicalize(sp), canonicalize(du), check_dtype=False, check_exact=True
        )
    except AssertionError as exc:
        return f"values differ: {str(exc).splitlines()[0]}"
    return None


def run(spec: dict) -> dict:
    workload, root, run_dir = spec["workload"], spec["root"], spec["run_dir"]
    suite = SUITES[workload]
    cores = spec["cores"]
    sf = os.path.join(run_dir, "perfbench-data")
    rows = gen.write_tables(sf, spec["seed"])

    with PeakRss([os.getpid()]) as rss:
        t0 = time.perf_counter()
        from eventstreamd_spark import queries_registry
        from eventstreamd_spark.plans import memo
        from eventstreamd_spark.session import get_spark, load_table

        spark = get_spark(f"perfbench-{workload}", cpus=cores)
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()

        load_table(spark, sf, "lineitem").write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        spark_start_s, warm_scan_s = t1 - t0, t2 - t1

        from eventstreamd_spark.operators import multimodal

        for kind in FIXTURES[workload]:
            multimodal.cached_media(spark, sf, kind)
        fixtures_before = _fixture_dirs(root)

        spans = Spans(spark.sparkContext, spec["trace"])
        errors: dict[str, str] = {}
        built: dict = {}  # query -> the DataFrame its last pass built

        def one_pass(tag: str) -> list[float]:
            walls = []
            for name in suite:
                fn = queries_registry.QUERIES[name]
                try:
                    a = time.perf_counter()
                    df = built[name] = spans.run(
                        f"{workload}:{name}:build:{tag}", lambda: fn(spark, sf)
                    )
                    spans.run(
                        f"{workload}:{name}:action:{tag}",
                        lambda: df.write.format("noop").mode("overwrite").save(),
                    )
                    walls.append(time.perf_counter() - a)
                except Exception as exc:  # one broken query must not end the run
                    errors.setdefault(name, f"{tag}: {type(exc).__name__}: {exc}"[:300])
            return walls

        from eventstreamd_spark.digest_manifest import DIGEST_MANIFEST as manifest

        first = one_pass("first")
        # the check runs each first-pass DataFrame again and fetches its
        # result to the driver; it is also the warm-up for the steady passes
        results: dict = {}
        t = time.perf_counter()
        for name, df in built.items():
            try:
                results[name] = spans.run(
                    f"{workload}:{name}:action:check",
                    lambda: _spark_result(name, df, manifest),
                )
            except Exception as exc:  # one broken query must not end the run
                errors.setdefault(name, f"check: {type(exc).__name__}: {exc}"[:300])
        check_s = time.perf_counter() - t
        hits0 = memo.HITS
        steady_t0, steady_start = time.perf_counter(), time.time()
        steady = [one_pass("steady0")]
        hits_steady, steady_end = memo.HITS - hits0, time.time()
        while time.perf_counter() - steady_t0 < spec["seconds"]:
            steady.append(one_pass(f"steady{len(steady)}"))
        session_relations = sum(
            1 for tbl in spark.catalog.listTables()
            if tbl.isTemporary and spark.catalog.isCached(tbl.name)
        )
        spark.stop()
    fixtures_after = _fixture_dirs(root)

    from tools.check_correctness import duck_connection

    con = duck_connection(sf)
    mismatches = {}
    for name, got in results.items():
        why = _oracle_check(name, got, con, manifest, queries_registry.ORACLES)
        if why:
            mismatches[name] = why
    con.close()

    failed = set(errors) | set(mismatches)
    lat = [w for p in steady for w in p]
    suite_times = [sum(p) for p in steady]
    n_q = len(suite)
    metrics = {
        "setup_s": spark_start_s + warm_scan_s,
        "peak_rss_mb": rss.peak_mb,
        "latency_p50_s": percentile(lat, 50).value,
        "latency_p99_s": percentile(lat, 99).value,
        "sustained_events_per_s": n_q / median(suite_times),
        "burst_events_per_s": n_q / sum(first),
        "replay_s": check_s,
        "first_pass_s": sum(first),
        "suite_s": median(suite_times),
    }
    samples = {
        "setup_s": 1, "peak_rss_mb": 1,
        "latency_p50_s": len(lat), "latency_p99_s": len(lat),
        "sustained_events_per_s": len(suite_times), "burst_events_per_s": 1,
        "replay_s": 1, "first_pass_s": 1, "suite_s": len(suite_times),
    }
    detail = {
        "queries": suite,
        "table_rows": rows,
        "steady_passes": len(steady),
        "per_query_first_s": dict(zip(suite, first)) if len(first) == n_q else {},
        "per_query_steady_s": [dict(zip(suite, p)) for p in steady if len(p) == n_q],
        "latency_p99": vars(percentile(lat, 99)),
        "fixtures_ready_before_timing": fixtures_before,
        "fixtures_built_during_timing": sorted(set(fixtures_after) - set(fixtures_before)),
        "errors": errors,
        "oracle_mismatches": mismatches,
        "oracle_checked": len(results),
    }
    out = {
        "correct": not failed and len(results) == n_q,
        "attempted": n_q,
        "failed": len(failed),
        "metrics": metrics,
        "samples": samples,
        "detail": detail,
    }
    with open(os.path.join(run_dir, "spans.json"), "w") as f:
        json.dump(spans.rows, f)
    if spec["trace"]:
        out["layers"] = _layers(spec, spans, spark_start_s, warm_scan_s,
                                hits_steady, session_relations,
                                steady_start, steady_end, cores)
    return out


def _layers(spec, spans, spark_start_s, warm_scan_s, hits, session_relations,
            steady_start, steady_end, cores) -> dict:
    log = ledger.read(os.path.join(spec["run_dir"], "eventlog"))
    tag = "steady0"
    jobs = [j for j in log.jobs.values() if j.group.endswith(f":{tag}")]
    build_spans = [(g, a, b) for g, a, b in spans.rows if g.endswith(f":build:{tag}")]
    action_spans = [(g, a, b) for g, a, b in spans.rows if g.endswith(f":action:{tag}")]
    build_driver = 0.0
    for group, a, b in build_spans:
        covered = ledger.union_s(
            (max(a, j.start_ms / 1000), min(b, j.end_ms / 1000))
            for j in jobs if j.group == group and j.end_ms / 1000 > a and j.start_ms / 1000 < b
        )
        build_driver += (b - a) - covered
    rows = {
        "session.spark_start_s": spark_start_s,
        "session.warm_scan_s": warm_scan_s,
        "queries_registry.build_s": sum(b - a for _, a, b in build_spans),
        "queries_registry.build_jobs": sum(1 for j in jobs if ":build:" in j.group),
        "queries_registry.build_driver_s": build_driver,
        "plans.memo.hits": hits,
        "operators.multimodal.session_relations": session_relations,
        "operators.action_s": sum(b - a for _, a, b in action_spans),
    }
    rows.update(ledger.operator_rows(log, jobs, steady_end - steady_start, cores))
    rows["trace.tracer_s"] = spans.tracer_s
    return rows


def main() -> int:
    with open(sys.argv[1]) as f:
        spec = json.load(f)
    out = run(spec)
    with open(os.path.join(spec["run_dir"], "result.json"), "w") as f:
        json.dump(out, f, default=str)
    return 0


if __name__ == "__main__":
    sys.exit(main())
