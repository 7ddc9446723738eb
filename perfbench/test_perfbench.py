"""The benchmark's own checks; run with ``python3 -m pytest perfbench -q``
from the repository root. No Spark session is started."""

from __future__ import annotations

import json
import os

import pytest

from perfbench import layers, run, sparkmetrics, workloads
from perfbench.tracing import Tracer

# captured from a PySpark 4.1.2 status store (MapInPandas + Exchange nodes)
CAPTURED = [
    ("MapInPandas", "time to run Python workers",
     "total (min, med, max (stageId: taskId))\n"
     "11.4 s (2.8 s, 2.9 s, 3.0 s (stage 2.0: task 6))"),
    ("MapInPandas", "time to start Python workers",
     "total (min, med, max (stageId: taskId))\n"
     "6.9 s (1.7 s, 1.7 s, 1.7 s (stage 2.0: task 6))"),
    ("MapInPandas", "time to initialize Python workers",
     "total (min, med, max (stageId: taskId))\n"
     "3.0 s (672 ms, 740 ms, 827 ms (stage 2.0: task 6))"),
    ("MapInPandas", "data sent to Python workers",
     "total (min, med, max (stageId: taskId))\n"
     "160.9 KiB (39.5 KiB, 40.2 KiB, 41.2 KiB (stage 2.0: task 7))"),
    ("Exchange", "shuffle bytes written",
     "total (min, med, max (stageId: taskId))\n"
     "52.7 KiB (13.0 KiB, 13.1 KiB, 13.5 KiB (stage 2.0: task 7))"),
    ("HashAggregate", "spill size", "0.0 B"),
    ("HashAggregate", "number of output rows", "10,000"),
]


def test_parse_metric_forms():
    py_run = sparkmetrics.parse_metric(CAPTURED[0][2])
    assert py_run == {"total": 11.4, "min": 2.8, "med": 2.9, "max": 3.0,
                   "unit": "s"}
    init = sparkmetrics.parse_metric(CAPTURED[2][2])
    assert init["min"] == pytest.approx(0.672)
    sent = sparkmetrics.parse_metric(CAPTURED[3][2])
    assert sent["total"] == pytest.approx(160.9 * 1024)
    assert sent["unit"] == "bytes"
    assert sparkmetrics.parse_metric("10,000") == {"total": 10000.0,
                                                  "unit": None}
    assert sparkmetrics.parse_metric("0.0 B")["total"] == 0.0
    assert sparkmetrics.parse_metric("1.5 m")["total"] == 90.0
    with pytest.raises(ValueError):
        sparkmetrics.parse_metric("12 parsecs")


def test_map_metrics_sums_and_reports_missing():
    nodes = [(n, m, sparkmetrics.parse_metric(v)) for n, m, v in CAPTURED]
    got = sparkmetrics.map_metrics(nodes)
    assert got["spark.python_run_s"] == pytest.approx(11.4)
    assert got["spark.python_boot_s"] == pytest.approx(6.9)
    assert got["spark.python_sent_mb"] == pytest.approx(160.9 / 1024)
    assert got["spark.shuffle_write_mb"] == pytest.approx(52.7 / 1024)
    assert got["spark.spill_mb"] == 0.0
    assert got["spark.python_task_skew"] == pytest.approx(3.0 / 2.9)
    # no node carries it: missing, not 0
    assert got["spark.python_returned_mb"] is None
    assert sparkmetrics.map_metrics([])["spark.python_task_skew"] is None


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_seed_fixes_inputs(workload):
    a = workloads.generate(workload, 1)
    b = workloads.generate(workload, 1)
    c = workloads.generate(workload, 2)
    assert a.digest == b.digest
    assert a.digest != c.digest
    assert a.rows == c.rows > 0


def test_self_time_subtracts_children():
    t = Tracer("r")
    with t.span("outer"):
        with t.span("inner"):
            pass
        with t.span("inner"):
            pass
    spans = t.spans
    own = t.self_times()
    inner = sum(s.end - s.start for s in spans if s.name == "inner")
    assert own["inner"] == pytest.approx(inner)
    assert own["outer"] == pytest.approx(
        spans[0].end - spans[0].start - inner)
    assert [s.parent for s in spans] == [None, 0, 0]


def test_wrap_counts_and_restores():
    class K:
        def f(self, x):
            return x + 1

    t = Tracer("r")
    original = K.f
    t.wrap(K, "f", "k.f")
    assert K().f(1) == 2
    t.restore()
    assert K.f is original
    assert t.counts == {"k.f.calls": 1}
    assert [s.name for s in t.spans] == ["k.f"]


def test_benchmark_json_matches_the_metrics_printed():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} \
        == {k: v[:2] for k, v in layers.LAYER_METRICS.items()}
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)


def test_trip_rows_allow_one_row_for_a_trip_not_matched():
    import pandas as pd

    points = pd.DataFrame({"trip_id": ["a", "a", "a", "b", "b"],
                           "seq": [0, 1, 2, 0, 1]})
    ok = {"a": (3, ["matched"]), "b": (1, ["unanchored"])}
    assert workloads.trip_row_errors(ok, points) == (
        [], {"matched": 1, "unanchored": 1, "disconnected": 0,
             "unreachable": 0})
    short = {"a": (2, ["matched"]), "b": (2, ["unreachable"])}
    assert len(workloads.trip_row_errors(short, points)[0]) == 2
    missing = {"a": (3, ["matched"])}
    assert workloads.trip_row_errors(missing, points)[0]
