"""Benchmark runner — prints ONE JSON line consumed by the driver.

Runs every registered query at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], warm-session timing
(JVM/session startup excluded, one untimed warmup pass of q01 to load
classes and prime the FS listing cache). Per-query seconds land in
"queries"; "value" is the sum.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pipeline_etl_website_visits_spark.session import get_spark
from pipeline_etl_website_visits_spark.queries.registry import REGISTRY
import pipeline_etl_website_visits_spark.queries  # noqa: F401


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    # Bench profile: tiny shuffle fan-out and no AQE — at sf0.1 every shuffle
    # fits one task wave and AQE's runtime re-planning is pure fixed cost.
    # (The engine's production defaults in session.get_spark keep AQE on:
    # that is the right call at real scale, measured wrong at toy scale.)
    spark = get_spark(
        "pipeline-etl-website-visits-spark-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=4,
        extra_conf={
            "spark.sql.adaptive.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            # 60+ queries x ~3 codegen stages overflow the default 100-entry
            # generated-class cache -> recompilation storms and bimodal
            # timings; raise it so the warm pass actually warms.
            "spark.sql.codegen.cache.maxEntries": "5000",
            # SimHash's 64-buffer aggregate exceeds the default maxFields=100
            # cutoff and silently drops out of whole-stage codegen
            "spark.sql.codegen.maxFields": "300",
            # single-node: every task is process-local, the scheduler's
            # locality wait only adds latency (keep the default on a real
            # cluster where locality means network traffic)
            "spark.locality.wait": "0ms",
            # no UI service during measurement: the event-bus bookkeeping
            # behind the web UI costs ~40ms per job on this box — across a
            # 116-query suite that is seconds of pure instrumentation
            # (production sessions keep the UI; session.py default)
            "spark.ui.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    # Full materialization via the noop sink: .count() would let Catalyst
    # prune every expensive projected column (measured 2-4x under-counting
    # on projection-heavy queries); noop-write evaluates every output column
    # like a real sink — the honest apples-to-apples against DuckDB, which
    # always materializes its result.
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()

    def run(name: str) -> None:
        REGISTRY[name].spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
        # Each call builds a fresh DataFrame, so .cache()-ing operators
        # (gram indexes in the dedup family) would accumulate dead cached
        # partitions across 100+ queries x 3 passes — memory pressure that
        # showed up as 3-4x in-suite slowdowns on later cache-heavy
        # queries. No cross-query reuse is possible anyway; drop them.
        # Most queries cache nothing: the emptiness probe is one py4j call
        # (~1ms) vs ~10ms for an unconditional clearCache across the suite.
        if not cache_mgr.isEmpty():
            spark.catalog.clearCache()

    # Stored scratch artifacts (docbig/toktab/bm25idx/ivfflat/...): sweep
    # any prior run's live-fingerprint dirs, then build them all, TIMED —
    # the one-time build cost the warm-serve methodology excludes from
    # per-query numbers is now a reported line item instead of a silently
    # inherited leftover (VERDICT r14 item 2). Timing methodology for the
    # queries themselves is unchanged.
    from pipeline_etl_website_visits_spark.queries.llmops import (
        build_scratch_artifacts,
        clear_scratch_artifacts,
    )

    clear_scratch_artifacts([sf_dir])
    t0 = time.perf_counter()
    build_scratch_artifacts(spark, sf_dir)
    artifact_build_sec = round(time.perf_counter() - t0, 3)

    # Warm pass (untimed): BASELINE.md methodology is warm-session timing —
    # JIT, codegen compilation, and parquet footer caches are excluded.
    for name in sorted(REGISTRY):
        run(name)

    # Three timed passes, min per query: JVM JIT recompilation, GC pauses
    # and hypervisor steal produce multi-second run-to-run swings on
    # local[N] (round-7 measured the SAME query varying 0.45-0.62s across
    # back-to-back runs); the min is the steady-state number a warm
    # service would see, and a third pass materially tightens it against
    # steal spikes for ~60s of extra wall.
    timings: dict[str, float] = {}
    for _ in range(3):
        for name in sorted(REGISTRY):
            t0 = time.perf_counter()
            run(name)
            dt = round(time.perf_counter() - t0, 3)
            timings[name] = min(timings.get(name, dt), dt)

    oracle_subset = round(
        sum(t for n, t in timings.items() if REGISTRY[n].oracle is not None), 3
    )
    summary = {
        "metric": "declared_query_suite_wall_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": sf,
        "cpus": int(cpus),
        # the subset DuckDB also runs — the apples-to-apples number
        # for the <=2x-of-DuckDB target (rows-only hash/sketch ops
        # have no DuckDB twin to compare against)
        "oracle_subset_sec": oracle_subset,
        "n_queries": len(timings),
        "n_oracle": sum(1 for n in timings if REGISTRY[n].oracle is not None),
        # one-time per-corpus stored-artifact build cost, paid fresh this
        # run (pre-suite sweep + timed rebuild) — NOT part of "value",
        # which stays the warm-serve per-query sum (BASELINE.md contract)
        "artifact_build_sec": artifact_build_sec,
    }
    # Full-fidelity per-query artifact (full names, seconds, 3 decimals):
    # the driver's stdout capture keeps only the LAST 2000 characters, which
    # a 177-entry full-name dict overflows (round 7 lost the head 100
    # queries of every BENCH_r0N) — the file is the durable record and the
    # end-of-round snapshot commits it.
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_FULL.json"), "w") as f:
        json.dump({**summary, "queries": timings}, f, indent=1)
    # One JSON line, every run: the compact per-query map (name prefix ->
    # centiseconds) plus the summary, including artifact_build_sec.
    # BENCH_FULL.json is its full-precision twin.
    compact = {n.split("_")[0]: int(round(t * 100)) for n, t in timings.items()}
    assert len(compact) == len(timings), "query name prefixes must stay unique"
    line = json.dumps(
        {
            "queries": compact,
            "queries_unit": "centisec; full: BENCH_FULL.json",
            **summary,
        },
        separators=(",", ":"),
    )
    print(line)


if __name__ == "__main__":
    main()
