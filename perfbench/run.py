"""Benchmark of the visits engine: one workload, one run, one JSON line.

Usage (from the repository root):

    python3 perfbench/run.py --workload etl_day --seed 1 --seconds 10 --trace 0

Workloads are listed in ``BENCHMARK.json`` and explained in
``perfbench/METRICS.md``. With ``--trace 0`` the run reports the end-to-end
metrics; with ``--trace 1`` it alternates untraced and traced rounds and
reports the per-layer metrics plus the tracing overhead. Every metric is
printed as ``name value unit (base)``; the last stdout line is the JSON
result. Per-operation and per-span records go to ``.perfbench_runs/records``.
The command fails when any output differs from the generated ground truth.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {
    "setup_s": "s",
    "op_cpu_s.gmean": "s",
    "round_cpu_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "queries.construct_s": "s",
    "queries.construct_jobs": "count",
    "queries.construct_py4j_calls": "count",
    "queries.plan_s": "s",
    "queries.execute_s": "s",
    "queries.execute_jobs": "count",
    "queries.stages": "count",
    "queries.tasks": "count",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.jvm_gc_ms": "ms",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "pipeline.read_header_s": "s",
    "pipeline.process_file_self_s": "s",
    "pipeline.jobs_per_file": "count",
    "transform.construct_s": "s",
    "load.append_s": "s",
    "load.append_jobs": "count",
    "load.merge_s": "s",
    "load.merge_jobs": "count",
    "load.marker_write_s": "s",
    "load.marker_read_s": "s",
    "load.bytes_written_per_input_byte": "ratio",
    "load.files_written": "count",
    "backup.archive_s": "s",
    "stream.batch_s": "s",
    "stream.trigger_overhead_s": "s",
    "stream.rows_read_per_input_row": "ratio",
    "stream.jobs_per_batch": "count",
    "artifacts.build_s": "s",
    "artifacts.jobs": "count",
    "artifacts.bytes_written": "bytes",
    "trace.overhead_s": "s",
}


def isolate(run_dir: str) -> None:
    """Per-run temp, Spark local and worker import paths: scratch artifacts
    go to ``tempfile.gettempdir()`` and are swept without a lock, and Python
    workers must import the engine wherever the run starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tempfile.tempdir = None


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of this process plus the JVM it drives."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    with open(f"/proc/{jvm_pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (py_kb + jvm_kb) / 1024


def percentile(values: list[float], q: float) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[int(q) - 1]


def phase(name: str, seconds: float) -> None:
    print(f"perfbench: {name} {seconds:.2f} s", file=sys.stderr)


def spark_layers(spans, n_rounds: int) -> dict[str, float]:
    n = max(n_rounds, 1)
    keys = {"spark.executor_run_ms": "run_ms", "spark.executor_cpu_ms": "cpu_ms",
            "spark.jvm_gc_ms": "gc_ms", "spark.shuffle_bytes": "shuffle_bytes",
            "spark.spill_bytes": "spill_bytes"}
    return {m: sum(s.attrs.get(k, 0) for s in spans) / n for m, k in keys.items()}


def measure(w, args, records: str) -> tuple[dict, int, int, list[str]]:
    from pyspark import SparkContext

    import workloads as W
    from spans import Tracer

    # One start, which launches the JVM (5-8 s on a 4-core VM): a
    # second start would either reuse the JVM, and so leave its launch
    # out, or launch another and add that much to every run.
    t0 = time.perf_counter()
    spark = W.start_session(w, os.path.join(w.run_dir, "tmp"))
    start = time.perf_counter() - t0
    phase("session start", start)
    gateway = SparkContext._gateway
    w.jvm_pid = gateway.proc.pid
    try:
        tracer = Tracer(spark.sparkContext) if args.trace else None
        setups = []
        for _ in range(w.setup_repeats):
            t0 = time.perf_counter()
            w.setup(spark, tracer)
            setups.append(time.perf_counter() - t0)
            phase("set-up", setups[-1])
        if w.warm_up:
            phase("warm-up round", w.round(spark, 0, None).wall)
        rounds = []
        # --seconds sets how many whole rounds a run measures, from the
        # round's length on a 4-core machine, so every run with the same
        # --seconds does the same work; a traced run alternates untraced,
        # traced and untraced rounds, so warm-up drift does not read as
        # tracing overhead
        n_rounds = 3 if args.trace else max(1, round(args.seconds / w.nominal_round_s))
        while len(rounds) < n_rounds:
            traced = tracer is not None and len(rounds) % 2 == 1
            if traced:
                W.install_spans(tracer)
                tracer.count_py4j()
            try:
                rounds.append(w.round(spark, len(rounds) + 1, tracer if traced else None))
            finally:
                if traced:
                    tracer.uninstall()
            phase(f"round {len(rounds)}{' traced' if traced else ''}", rounds[-1].wall)
        if tracer is not None:
            tracer.stage_stats(spark)
            tracer.dump(records + ".spans.jsonl")
        t0 = time.perf_counter()
        attempted, failed, problems = w.check(spark)
        phase("output check", time.perf_counter() - t0)
        rss = peak_rss_mb(w.jvm_pid)
    finally:
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)

    plain = [r for r in rounds if not r.traced]
    ops = [x for r in plain for x in r.ops]
    setup = statistics.median(setups)
    with open(records + ".ops.jsonl", "w") as f:
        for i, r in enumerate(rounds):
            f.write(json.dumps({"round": i + 1, "traced": r.traced, "wall_s": r.wall,
                                "cpu_s": r.cpu, "ops": r.ops, "rows": r.rows}) + "\n")
        for rec in getattr(w, "records", []):
            f.write(json.dumps(rec) + "\n")
    if args.trace:
        traced = [r for r in rounds if r.traced]
        spans = tracer.spans
        metrics = {m: 0.0 for m in PER_LAYER}
        metrics["session.start_s"] = start
        metrics.update(spark_layers([s for s in spans if s.name != "artifacts.build"],
                                    len(traced)))
        metrics.update(w.layers(spans, rounds))
        metrics["trace.overhead_s"] = (statistics.mean(r.wall for r in traced)
                                       - statistics.mean(r.wall for r in plain))
        units = PER_LAYER
        bases = {m: f"per traced round, {len(traced)} traced and {len(plain)} untraced rounds"
                 for m in PER_LAYER}
        bases["session.start_s"] = "one session start, JVM launch included"
        for m in ("artifacts.build_s", "artifacts.jobs", "artifacts.bytes_written"):
            bases[m] = "one cleared build in set-up"
    else:
        metrics = {
            "setup_s": start + setup,
            "op_cpu_s.gmean": statistics.geometric_mean(max(cpu, 1e-3) for _, cpu in ops),
            "round_cpu_s": statistics.median(r.cpu for r in plain),
            "peak_rss_mb": rss,
        }
        units = END_TO_END
        bases = {
            "setup_s": f"session start with JVM launch ({start:.3f} s) + median of "
                       f"{len(setups)} workload set-ups ({setup:.3f} s)",
            "op_cpu_s.gmean": f"{len(ops)} {w.op_kind}; driver python + JVM + python workers",
            "round_cpu_s": f"median of {len(plain)} rounds",
            "peak_rss_mb": "driver python + JVM",
        }
        # Printed only. Wall time on this class of VM drifts by tens of
        # percent between minutes, more than any bound allows; the median of
        # a mixed query set falls between query groups and swings with them.
        walls = [wall for wall, _ in ops]
        print(f"op_cpu_s.p50 {statistics.median(cpu for _, cpu in ops):.4f} s "
              f"({len(ops)} {w.op_kind})")
        print(f"op_s.p50 {statistics.median(walls):.4f} s ({len(ops)} {w.op_kind})")
        if len(ops) >= 20:
            q = 100 - 1000 / len(ops)
            print(f"op_s.p{int(q)} {percentile(walls, q):.4f} s ({len(ops)} {w.op_kind}, "
                  f"10 beyond)")
        print(f"round_s {statistics.median(r.wall for r in plain):.4f} s "
              f"(median of {len(plain)} rounds)")
        rows = sum(r.rows for r in plain)
        if rows:
            print(f"rows_per_s {rows / sum(r.wall for r in plain):.1f} 1/s ({rows} rows)")
    for m, v in metrics.items():
        print(f"{m} {v:.6g} {units[m]} ({bases[m]})")
    print(f"failed_ratio {failed / max(attempted, 1):.4f} ratio ({failed} of {attempted} "
          f"{w.unit_kind})")
    for p in problems:
        print(f"problem: {p}")
    return ({m: {"value": v, "unit": units[m]} for m, v in metrics.items()},
            attempted, failed, problems)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import workloads as W
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(W.WORKLOADS)}",
              file=sys.stderr)
        return 2

    runs = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(os.path.join(runs, "records"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=runs)
    records = os.path.join(runs, "records", f"{args.workload}-{args.seed}-trace{args.trace}")
    try:
        isolate(run_dir)
        w = W.WORKLOADS[args.workload](run_dir, args.seed)
        w.inputs()
        metrics, attempted, failed, problems = measure(w, args, records)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": not problems and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if not problems and failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
