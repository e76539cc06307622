"""Tests of the benchmark itself: seeded inputs, ground truth, span arithmetic
and metric names. Run with ``python3 -m pytest perfbench``."""

from __future__ import annotations

import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [os.path.dirname(os.path.abspath(__file__)), ROOT]

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from spans import Span, self_times  # noqa: E402

MIXED = [None] * 70 + [(True, 0)] * 10 + [(False, 1)] * 10 + [(True, 2)] * 10


def _day(out_dir: str, seed: int) -> dict[str, bytes]:
    reports = gen.Reports(seed, pool=500, seeded=gen.snapshot(seed, 500, 50))
    reports.stream_backlog(os.path.join(out_dir, "s"), "report_s", 3, 200, 2)
    reports.batch_day(os.path.join(out_dir, "b"), "report_b", 2, 200, planted=True)
    gen.write_visitors(os.path.join(out_dir, "v.parquet"), reports.truth.visitors)
    out = {}
    for d, _, files in os.walk(out_dir):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), out_dir)] = fh.read()
    return out


def test_generator_is_deterministic_per_seed(tmp_path):
    a, b, c = _day(str(tmp_path / "a"), 7), _day(str(tmp_path / "b"), 7), _day(str(tmp_path / "c"), 8)
    assert a == b
    assert len(a) == 8
    assert a != c


def test_truth_reproduces_fixture_mixed_counts(tmp_path):
    reports = gen.Reports(1, pool=1000)
    reports.write(str(tmp_path), "report_mixed.txt", kinds=MIXED)
    ft = reports.truth.files["report_mixed.txt"]
    assert (ft.rows, ft.valid, ft.invalid, ft.errores) == (100, 70, 30, 50)
    assert ft.status == "Completado con errores"


def test_engine_agrees_with_mixed_truth(tmp_path):
    """The engine's validation classifies the generated rows as the truth says."""
    from pipeline_etl_website_visits_spark.etl import pipeline, transform
    from pipeline_etl_website_visits_spark.session import get_spark

    reports = gen.Reports(2, pool=1000)
    reports.write(str(tmp_path), "report_mixed.txt", kinds=MIXED)
    spark = get_spark("perfbench-test", master="local[1]", shuffle_partitions=1)
    raw = pipeline.read_report(spark, str(tmp_path / "report_mixed.txt"))
    stats, _, errores = transform.transform_file(raw, "report_mixed.txt")
    assert (stats.count(), errores.count()) == (70, 50)


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(1, "root", 1, None, 0.0, 10.0),
        Span(2, "a", 1, 1, 1.0, 3.0),
        Span(3, "b", 1, 1, 2.0, 4.0),   # overlaps a
        Span(4, "c", 1, 1, 8.0, 12.0),  # runs past its parent's end
        Span(5, "a.1", 1, 2, 1.5, 2.5),  # grandchild: only a's self time
    ]
    own = self_times(spans)
    assert own[1] == 10.0 - (3.0 + 2.0)
    assert own[2] == 2.0 - 1.0
    assert own[3] == 2.0
    assert own[5] == 1.0


def test_thread_ticks_leave_out_children_time():
    # pid (comm) state ppid ... utime stime cutime cstime ...; the comm may
    # hold spaces and parentheses
    stat = "4242 (C2 Compiler (x)) S 1 " + " ".join(["0"] * 9) + " 100 20 7000 300 20 0 40\n"
    assert workloads._ticks(stat) == 100 + 20 + 7000 + 300
    assert workloads._ticks(stat, children=False) == 100 + 20


def test_metric_names_and_benchmark_file_agree():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.PER_LAYER
    for name in [*e2e, *layer, *(w["name"] for w in bench["workloads"])]:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", name), name
