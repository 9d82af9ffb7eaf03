"""Tests of the benchmark's own metric math (no Spark needed).

    python3 -m pytest perfbench/test_metrics.py -q
"""

from __future__ import annotations

import json
import math
import os

import pytest

from perfbench import metrics as M
from perfbench.trace import PER_LAYER, Tracer, layer_metrics
from perfbench import workloads as W
from perfbench.workloads import frame_truth

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_tail_needs_ten_samples_beyond():
    vals = list(range(1, 101))  # 100 samples
    t = M.tail(vals)
    # p99 leaves 1 beyond, p95 leaves 5: the first rung with >=10 is p90.
    assert t == {"value": 90, "pct": 90.0, "n": 100, "beyond": 10}


def test_tail_walks_down_the_ladder():
    assert M.tail(list(range(40)))["pct"] == 75.0
    assert M.tail(list(range(39)))["pct"] == 50.0
    assert M.tail(list(range(1000)))["pct"] == 99.0
    assert M.tail(list(range(10000)))["pct"] == 99.9


def test_tail_falls_back_to_max_below_twenty_samples():
    t = M.tail([3.0, 1.0, 2.0])
    assert (t["value"], t["pct"], t["n"], t["beyond"]) == (3.0, 100.0, 3, 0)


def test_union_length_merges_overlaps():
    assert M.union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == pytest.approx(4.0)
    assert M.union_length([]) == 0.0


def test_self_time_subtracts_union_of_children():
    # Two overlapping children cover [1, 4]; one spills past the end and
    # counts only up to it: 10 - 3 - 1.
    assert M.self_time((0, 10), [(1, 3), (2, 4), (9, 12)]) == pytest.approx(6.0)
    assert M.self_time((0, 10), []) == pytest.approx(10.0)
    assert M.self_time((0, 10), [(-5, 20)]) == pytest.approx(0.0)


def test_epoch_latencies_from_due_range_and_commit():
    # 100 msg/s from t0=1000: message i is due at 1000 + i/100.
    due = lambda i: 1000.0 + i / 100.0  # noqa: E731
    lat = M.epoch_latencies(first_idx=50, count=3, commit=1001.0, due=due)
    assert lat == pytest.approx([0.5, 0.49, 0.48])


def test_a_stall_counts_against_every_queued_message():
    due = lambda i: i / 10.0  # noqa: E731
    on_time = M.epoch_latencies(0, 10, 1.0, due)
    stalled = M.epoch_latencies(0, 10, 3.0, due)
    assert all(s - o == pytest.approx(2.0) for s, o in zip(stalled, on_time))


def test_rate_schedule_due_count_and_time_are_inverse():
    sched = [(200.0, 2.0), (2000.0, 3.0)]  # 400 low, then 6000 high
    assert M.due_count(sched, -1.0) == 0
    assert M.due_count(sched, 1.0) == 200
    assert M.due_count(sched, 2.5) == 1400
    assert M.due_count(sched, 99.0) == 6400
    assert M.due_time(sched, 0) == pytest.approx(1 / 200.0)
    assert M.due_time(sched, 399) == pytest.approx(2.0)
    assert M.due_time(sched, 400) == pytest.approx(2.0 + 1 / 2000.0)
    assert M.due_time(sched, 1400) == pytest.approx(2.5005)
    for i in (0, 1, 399, 400, 401, 6399):
        assert M.due_count(sched, M.due_time(sched, i) + 1e-9) == i + 1
    with pytest.raises(ValueError):
        M.due_time(sched, 6400)


def test_due_count_of_a_whole_schedule_ignores_float_drift():
    # 0.3 * 4 + 0.4 * 4 sums to 2.8000000000000003, and 2000 * (that - 1.2)
    # falls just short of 3200: the total must come from math.inf instead.
    sched = [(200.0, 0.3 * 4), (2000.0, 0.4 * 4)]
    assert M.due_count(sched, math.inf) == 3440
    assert M.due_count(sched, 1e9) == 3440


def test_jobs_attributed_to_innermost_span_by_submission_time():
    spans = [
        {"id": 0, "start": 0.0, "end": 10.0},
        {"id": 1, "start": 1.0, "end": 5.0},
        {"id": 2, "start": 2.0, "end": 3.0},
    ]
    jobs = [
        {"id": 7, "submit": 2.5},   # inside all three -> innermost
        {"id": 8, "submit": 4.0},   # inside 0 and 1
        {"id": 9, "submit": 11.0},  # outside everything
    ]
    assert M.attribute_jobs(jobs, spans) == {7: 2, 8: 1, 9: None}


def test_layer_metrics_roll_jobs_up_per_module():
    tr = Tracer()
    tr.add("pass0", "pass", 0.0, 10.0, None)
    tr.add("q", "query", 0.0, 4.0, 0, module="dedup")
    tr.add("build", "build", 0.0, 3.0, 1, module="dedup", phase="build")
    tr.add("exec", "exec", 3.0, 4.0, 1, module="dedup", phase="exec")
    log = {
        "jobs": [
            {"id": 0, "submit": 1.0, "end": 2.0},   # build job
            {"id": 1, "submit": 3.5, "end": 3.9},   # exec job
            {"id": 2, "submit": 6.0, "end": 7.0},   # in the pass, no query
        ],
        "stage_job": {0: 0, 1: 1, 2: 2},
        "stages_done": [0, 1, 2],
        "tasks": [
            {"stage": 0, "run_s": 1.0, "gc_s": 0.0, "shuffle_b": 2e6, "spill_b": 0, "input_b": 1e6},
            {"stage": 1, "run_s": 0.5, "gc_s": 0.1, "shuffle_b": 0, "spill_b": 0, "input_b": 0},
        ],
    }
    out = layer_metrics(tr, log, [], cores=1)
    assert out["dedup.build_s"] == pytest.approx(3.0)
    assert out["dedup.exec_s"] == pytest.approx(1.0)
    # build: 3 s minus 1 s of job; exec: 1 s minus 0.4 s of job.
    assert out["dedup.driver_s"] == pytest.approx(2.6)
    assert out["dedup.jobs"] == 2 and out["dedup.tasks"] == 2
    assert out["dedup.shuffle_mb"] == pytest.approx(2.0)
    assert out["spark.jobs"] == 3 and out["spark.unattributed_jobs"] == 1
    assert out["spark.busy_frac"] == pytest.approx(1.5 / 10.0)
    assert out["session.first_build_jobs"] == 1
    assert out["trace.cover_frac"] == pytest.approx(0.4)


def test_first_build_jobs_counts_the_first_build_on_a_fresh_session():
    tr = Tracer()
    tr.add("pass0", "pass", 0.0, 10.0, None)
    tr.add("build", "build", 0.0, 1.0, 0, module="relational", phase="build")
    tr.add("build", "build", 2.0, 5.0, 0, module="dedup", phase="build", fresh=True)
    log = {
        "jobs": [{"id": i, "submit": t, "end": t + 0.1} for i, t in enumerate((2.5, 3.0, 4.0, 6.0))],
        "stage_job": {},
        "stages_done": [],
        "tasks": [],
    }
    assert layer_metrics(tr, log, [], cores=1)["session.first_build_jobs"] == 3


def test_frame_truth_draws_every_channel_and_about_ten_percent_malformed():
    draws = [frame_truth(i, 7) for i in range(20000)]
    assert {c for c, _ in draws} == {f"ch{i}" for i in range(7)}
    bad = sum(b for _, b in draws) / len(draws)
    assert 0.08 < bad < 0.12


@pytest.mark.parametrize("seed", [0, 2147, 2148, 123456, 2**40 + 3, -5])
def test_seed_term_is_folded_into_32_bits(seed):
    # The frame SQL adds the seed term as a literal: it must be the seed's
    # share of the hash, already reduced, whatever the seed.
    term = W._seed_term(seed)
    assert 0 <= term < 2**32
    for i in (0, 1, 999):
        h = (i * W.KNUTH + seed * 1000003) % 2**32
        assert frame_truth(i, seed) == (f"ch{(h >> 8) % W.N_CHANNELS}", (h >> 20) % 10 == 0)


def test_benchmark_json_lists_every_per_layer_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == list(PER_LAYER)
