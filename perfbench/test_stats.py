"""Tests of the benchmark's own arithmetic: ``python -m pytest perfbench``."""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import oracles  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
from stats import Span  # noqa: E402


@pytest.mark.parametrize("n, want", [(30, 66), (40, 75), (100, 90), (20, 50), (11, 9)])
def test_tail_percentile_leaves_ten_beyond(n, want):
    p = stats.tail_percentile(n)
    assert p == want
    xs = list(range(n))
    assert sum(x > stats.percentile(xs, p) for x in xs) >= 10
    assert sum(x > stats.percentile(xs, p + 1) for x in xs) < 10


def test_tail_percentile_needs_eleven_samples():
    assert stats.tail_percentile(10) is None


def test_steal_adjusted_removes_the_stolen_share():
    assert stats.steal_adjusted(10.0, busy=30.0, steal=10.0) == pytest.approx(7.5)
    assert stats.steal_adjusted(10.0, busy=30.0, steal=0.0) == 10.0
    assert stats.steal_adjusted(0.5, busy=0.0, steal=0.0) == 0.5


def test_percentile_is_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 60) == 3.0
    assert stats.percentile(xs, 61) == 4.0
    assert stats.percentile(xs, 100) == 5.0
    assert stats.percentile(xs, 0) == 1.0


def test_union_length_merges_overlaps():
    assert stats.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert stats.union_length([(0, 10), (2, 3), (4, 5)]) == 10
    assert stats.union_length([(1, 1), (3, 2)]) == 0
    assert stats.union_length([(0, 1), (1, 2)]) == 2
    assert stats.union_length([]) == 0


def test_driver_gap_is_wall_minus_job_busy_time():
    # two overlapping jobs busy for [1, 4]; one more for [6, 7]
    assert stats.driver_gap(10.0, [(1, 3), (2, 4), (6, 7)]) == 6.0
    assert stats.driver_gap(2.0, [(0, 5)]) == 0.0


def test_self_time_subtracts_children_once():
    spans = [
        Span(0, "op", 0.0, 10.0),
        Span(1, "operators.build", 1.0, 5.0, parent=0),
        Span(2, "catalog.load", 2.0, 3.0, parent=1),
        Span(3, "spark.job", 2.5, 4.0, parent=1),  # overlaps the load
        Span(4, "spark.exec", 4.5, 12.0, parent=0),  # overlaps build, runs past the end
    ]
    got = stats.self_times(spans)
    assert got[0] == pytest.approx(10.0 - (10.0 - 1.0))
    assert got[1] == pytest.approx(4.0 - 2.0)
    assert got[2] == pytest.approx(1.0)
    assert got[3] == pytest.approx(1.5)
    assert got[4] == pytest.approx(7.5)


def _two_job_op():
    """An operation that builds (job 7) and then executes (job 8); job 9 was
    started by a streaming thread after both child spans closed."""
    op = Span(0, "op", 100.0, 104.0, job_lo=7, job_hi=10)
    build = Span(1, "operators.build", 100.0, 101.5, parent=0, op=0, job_lo=7, job_hi=8)
    exec_ = Span(2, "spark.exec", 101.5, 103.0, parent=0, op=0, job_lo=8, job_hi=9)
    op.op = 0
    return [op, build, exec_]


def test_jobs_attributed_by_watermark():
    spans = _two_job_op()
    assert stats.innermost_by_watermark(spans, 7).name == "operators.build"
    assert stats.innermost_by_watermark(spans, 8).name == "spark.exec"
    assert stats.innermost_by_watermark(spans, 9).name == "op"
    assert stats.innermost_by_watermark(spans, 10) is None
    assert stats.innermost_by_watermark(spans, 6) is None


def test_pass_trace_folds_a_two_job_operation():
    spans = _two_job_op()
    root = spans[0]
    jobs = []
    for jid, (start, end) in zip((7, 8, 9), ((100.2, 101.2), (101.6, 102.6), (103.0, 103.5))):
        parent = stats.innermost_by_watermark(spans, jid)
        jobs.append(Span(10 + jid, "spark.job", start, end, parent=parent.id, op=0,
                         job_lo=jid, job_hi=jid + 1))
    totals = {"executor_run_s": 6.0, "tasks": 12.0}
    pt = tracing.PassTrace(cores=4)
    pt.fold_op(root, spans, jobs, totals, (100, 50), 2, [(0.0, 0.25)])
    m = pt.metrics(runs=[], published_bytes=25)
    assert m["spark.jobs"] == 3
    assert m["operators.build_jobs"] == 1
    assert m["operators.build_s"] == pytest.approx(1.5)
    assert m["spark.exec_s"] == pytest.approx(1.5)
    assert m["spark.job_busy_s"] == pytest.approx(2.5)
    assert m["spark.driver_gap_s"] == pytest.approx(4.0 - 2.5)
    assert m["spark.slot_util"] == pytest.approx(6.0 / (4 * 2.5))
    assert m["self.op_s"] == pytest.approx(4.0 - 1.5 - 1.5 - 0.5)
    assert m["self.operators.build_s"] == pytest.approx(0.5)
    assert m["self.spark.job_s"] == pytest.approx(2.5)
    assert m["proc.write_per_output_byte"] == pytest.approx(2.0)
    assert m["streaming.batches"] == 1
    assert m["pyworker.spawned"] == 2


def test_tail_percentile_leaves_ten_of_the_fewest_warm_samples_beyond():
    n = min(len(run.workloads.operations(w, 1)) for w in run.workloads.WORKLOADS)
    assert stats.tail_percentile(run.MIN_WARM * n) == run.TAIL_PCT


def test_job_oracle_substitutes_the_day_once():
    sql = {"pipeline_account_statement":
           "ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-15'"}
    got = oracles.job_oracle_sql(sql, "account_statement", "2024-01-15")
    assert got == "ts >= TIMESTAMP '2024-01-15' AND ts < TIMESTAMP '2024-01-16'"


def test_benchmark_json_lists_exactly_the_reported_metrics():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    want = [(n, u, b) for n, u, b in tracing.per_layer_specs()]
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == want
    assert [w["name"] for w in spec["workloads"]] == list(run.workloads.WORKLOADS)
