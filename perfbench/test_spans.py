"""Unit tests of the trace arithmetic: interval unions, self time, the
per-op layer split and the Spark split of an op's wall time.

    python3 -m pytest perfbench/test_spans.py -q
"""

from __future__ import annotations

import os
import sys
import types

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spans import Span, Tracer, op_layers, spark_layer, union_length  # noqa: E402


def _span(layer, name, start, end, parent=None, flag=None):
    s = Span(layer, name, parent)
    s.start, s.end, s.flag = start, end, flag
    return s


def test_union_length_merges_overlaps_and_clips():
    assert union_length([], 0.0, 10.0) == 0.0
    assert union_length([(1, 3), (2, 5), (7, 8)], 0.0, 10.0) == 5.0
    assert union_length([(-2, 1), (9, 12)], 0.0, 10.0) == 2.0


def test_self_time_subtracts_covered_part_of_children():
    root = _span("op", "q", 0.0, 10.0)
    path = _span("path", "owl", 1.0, 9.0, root, flag=4)
    _span("backends", "eval", 2.0, 4.0, path)
    _span("backends", "eval", 3.0, 5.0, path)  # overlaps: another thread
    kkt = _span("screening", "kkt_check", 6.0, 7.0, path, flag=True)
    _span("prox", "prox_sorted_l1", 6.5, 6.75, kkt)
    m = op_layers(root)
    assert m["path.self_s"] == pytest.approx(8.0 - 3.0 - 1.0)
    assert m["backends.calls"] == 2.0
    assert m["backends.busy_s"] == pytest.approx(3.0)
    assert m["backends.self_s"] == pytest.approx(4.0)
    assert m["screening.self_s"] == pytest.approx(0.75)
    assert m["path.points"] == 4.0 and m["path.backend_calls"] == 2.0
    assert m["screening.kkt_violations"] == 1.0
    # two overlapping backend spans: their self times add past the wall
    assert m["trace.residual_s"] == pytest.approx(10.0 - 4.0 - 4.0 - 0.75 - 0.25)


def test_spark_split_adds_up_to_wall():
    jobs = [{"start_ms": 1000, "end_ms": 1400},
            {"start_ms": 1300, "end_ms": 1600},
            {"start_ms": 5000, "end_ms": 5100}]  # another op's job
    stages = [{"start_ms": 1001, "tasks": 4, "failed_tasks": 0,
               "run_ms": 800, "cpu_ns": 5e8, "input_bytes": 10,
               "shuffle_read_bytes": 0, "shuffle_write_bytes": 7,
               "spill_bytes": 0}]
    m = spark_layer(900, 2000, 1.1, jobs, stages)
    assert m["spark.jobs"] == 2.0 and m["spark.stages"] == 1.0
    assert m["spark.job_busy_s"] == pytest.approx(0.6)
    assert m["spark.job_busy_s"] + m["spark.driver_gap_s"] == pytest.approx(1.1)
    assert m["spark.scans"] == 1.0 and m["spark.executor_cpu_s"] == 0.5


def test_install_wraps_bound_names_and_uninstall_restores():
    pytest.importorskip("pyspark")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    from golem_spark import path, prox, solvers

    before = (prox.prox_sorted_l1, solvers.prox_sorted_l1, path.owl)
    tracer = Tracer()
    tracer.install()
    try:
        assert solvers.prox_sorted_l1 is not before[1]
        assert not isinstance(solvers.prox_sorted_l1, types.FunctionType)
        op = tracer.open("op", "probe")
        prox.sorted_l1_norm(__import__("numpy").ones(3),
                            __import__("numpy").ones(3))
        tracer.close(op)
        assert [c.layer for c in op.children] == ["prox"]
    finally:
        tracer.uninstall()
    assert (prox.prox_sorted_l1, solvers.prox_sorted_l1, path.owl) == before
