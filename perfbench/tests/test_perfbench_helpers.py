"""Tests of the benchmark's pure helpers (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import subprocess
import sys

import pytest

from spark_probe import plan_shape
from stats import (
    METRIC_NAME_RE,
    Span,
    check_metric_names,
    error_rate,
    parse_size_total,
    percentile,
    self_times,
    tail_percentile,
    uniform_points,
    weighted_percentile,
)
from workloads import CpuMeter, _proc_stat, expected_distinct

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_percentile_interpolates_like_numpy():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 100) == 5.0
    assert percentile(xs, 90) == pytest.approx(4.6)
    assert percentile([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


@pytest.mark.parametrize("n, p", [
    (1, 50.0), (19, 50.0), (20, 50.0), (25, 60.0), (40, 75.0), (50, 80.0),
    (100, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0), (10_000, 99.9),
])
def test_tail_percentile_leaves_ten_samples_beyond(n, p):
    got = tail_percentile(n)
    assert got == p
    if got > 50.0:
        assert round(n * (100 - got) / 100, 6) >= 10


def test_tail_percentile_on_a_custom_ladder():
    assert tail_percentile(500, ladder=(50.0, 90.0, 99.0)) == 90.0
    assert tail_percentile(5000, ladder=(50.0, 90.0, 99.0)) == 99.0


def test_weighted_percentile_of_uniform_batches():
    # one batch of 100 rows aged 0..1 s and one of 300 rows aged 2..3 s
    pts = uniform_points(0.0, 1.0, 100) + uniform_points(2.0, 3.0, 300)
    assert sum(w for _, w in pts) == pytest.approx(400)
    assert weighted_percentile(pts, 20) == pytest.approx(0.795, abs=0.01)
    assert weighted_percentile(pts, 50) == pytest.approx(2.335, abs=0.01)
    assert weighted_percentile(pts, 99) == pytest.approx(2.985, abs=0.01)


def test_self_time_subtracts_covered_children_once():
    spans = [
        Span("op", 0.0, 10.0),
        Span("build", 0.0, 4.0, parent=0),
        Span("plan", 3.0, 5.0, parent=0),   # overlaps build by 1 s
        Span("exec", 6.0, 12.0, parent=0),  # runs 2 s past its parent
        Span("job", 7.0, 8.0, parent=3),
    ]
    got = self_times(spans)
    assert got[0] == pytest.approx(10.0 - 5.0 - 4.0)  # covered: 0-5, 6-10
    assert got[1] == pytest.approx(4.0)
    assert got[2] == pytest.approx(2.0)
    assert got[3] == pytest.approx(5.0)
    assert got[4] == pytest.approx(1.0)


def test_error_rate_counts_failed_over_attempted():
    assert error_rate(40, 0) == 0.0
    assert error_rate(8, 2) == 0.25
    with pytest.raises(ValueError):
        error_rate(0, 0)
    with pytest.raises(ValueError):
        error_rate(3, 4)


def test_every_benchmark_metric_name_is_valid():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert METRIC_NAME_RE.fullmatch(n), n
    check_metric_names(names)
    for bad in ("", "has space", "slash/ed", "x" * 65):
        with pytest.raises(ValueError):
            check_metric_names([bad])


def test_proc_stat_keeps_a_command_name_with_parentheses(tmp_path):
    stat = tmp_path / "stat"
    stat.write_text("42 (C2 (x) y) S 7 42 42 0 -1 0 0 0 0 0 11 5 3 1 20\n")
    f = _proc_stat(str(stat))
    assert f[0] == "C2 (x) y"
    assert f[2] == "7"  # ppid
    assert [int(x) for x in f[12:16]] == [11, 5, 3, 1]
    assert _proc_stat(str(tmp_path / "gone")) is None


def test_cpu_meter_counts_a_reaped_child():
    meter = CpuMeter(os.getpid())  # no JIT threads in a Python process
    cpu0, jit0 = meter.read()
    spin = ("import time\nt = time.process_time()\n"
            "while time.process_time() - t < 0.3: pass")
    subprocess.run([sys.executable, "-c", spin], check=True)
    cpu1, jit1 = meter.read()
    assert cpu1 - cpu0 >= 0.25
    assert jit0 == jit1 == 0


def test_stream_oracle_matches_a_brute_force_dedup():
    dup_every = 10

    def contact(v):
        return v - 1 if v % dup_every == 0 and v > 0 else v

    for lo, hi in [(0, 1), (0, 25), (10, 20), (11, 31), (9, 10), (7, 7)]:
        seen = {contact(v) for v in range(lo)}
        kept = {contact(v) for v in range(lo, hi)} - seen
        assert expected_distinct(lo, hi, dup_every) == len(kept), (lo, hi)


def test_parse_size_total_reads_the_first_size():
    task_metric = ("total (min, med, max (stageId: taskId))\n"
                   "93.8 KiB (44.3 KiB, 49.5 KiB, 49.5 KiB (stage 12.0: task 11))")
    assert parse_size_total(task_metric) == int(93.8 * 1024)
    assert parse_size_total("1027.9 KiB") == int(1027.9 * 1024)
    assert parse_size_total("2.0 MiB") == 2 << 20
    assert parse_size_total("12 B") == 12
    assert parse_size_total("") == 0


def test_plan_shape_skips_wrappers_and_reused_exchanges():
    tree = """ResultQueryStage 4
+- *(9) Sort [a#1 ASC NULLS FIRST], true, 0
   +- AQEShuffleRead coalesced
      +- ShuffleQueryStage 3
         +- Exchange rangepartitioning(a#1 ASC NULLS FIRST, 4)
            +- *(7) BroadcastHashJoin [a#1], [b#2], Inner, BuildRight
               :- *(7) Project [a#1]
               :  +- FileScan parquet [a#1]
               +- BroadcastQueryStage 2
                  +- BroadcastExchange HashedRelationBroadcastMode
                     +- ReusedExchange [b#2], Exchange hashpartitioning(b#2, 4)
"""
    shape = plan_shape(tree)
    # Sort, AQEShuffleRead, Exchange, BroadcastHashJoin, Project, FileScan,
    # BroadcastExchange, ReusedExchange
    assert shape.nodes == 8
    assert shape.exchanges == 2
    assert shape.broadcasts == 1
