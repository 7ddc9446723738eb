"""Spark SQL per-node metrics of the executions a pass ran, read from the
session's SQL status store (works with ``spark.ui.enabled=false``).

The status store renders every metric as a string: a plain sum
(``"10,000"``), a size or time (``"0.0 B"``, ``"0 ms"``), or a per-task
summary::

    total (min, med, max (stageId: taskId))
    11.4 s (2.8 s, 2.9 s, 3.0 s (stage 2.0: task 6))

``parse_metric`` turns each form into numbers; ``pass_metrics`` maps the
node metrics of a set of executions onto the benchmark's ``spark.*`` names.
A name with no matching node metric is reported missing (``None``), never 0.
"""

from __future__ import annotations

import re

# the units Spark renders durations and byte sizes in
_TIME_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE_B = {"B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30,
           "TiB": 2.0**40, "PiB": 2.0**50, "EiB": 2.0**60}
_UNIT = {**{k: ("s", v) for k, v in _TIME_S.items()},
         **{k: ("bytes", v) for k, v in _SIZE_B.items()}}
_QUANTITY = re.compile(r"(-?[\d,]*\.?\d+)\s*([A-Za-z]+)?")

_PY_RUN = "time to run Python workers"
# benchmark name -> (status-store metric name, scale from seconds or bytes)
_SUMS = {
    "spark.python_boot_s": ("time to start Python workers", 1.0),
    "spark.python_init_s": ("time to initialize Python workers", 1.0),
    "spark.python_run_s": (_PY_RUN, 1.0),
    "spark.python_sent_mb": ("data sent to Python workers", 2.0**-20),
    "spark.python_returned_mb": ("data returned from Python workers",
                                 2.0**-20),
    "spark.shuffle_write_mb": ("shuffle bytes written", 2.0**-20),
    "spark.spill_mb": ("spill size", 2.0**-20),
}
_NEEDED = {metric for metric, _ in _SUMS.values()}


def _quantity(text: str) -> tuple[float, str | None]:
    m = _QUANTITY.fullmatch(text.strip())
    if m is None:
        raise ValueError(f"not a metric quantity: {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit is None:
        return value, None
    if unit not in _UNIT:
        raise ValueError(f"unknown metric unit {unit!r} in {text!r}")
    kind, scale = _UNIT[unit]
    return value * scale, kind


def parse_metric(text: str) -> dict:
    """One status-store sum, size or timing string -> ``{"total": x, "min":
    .., "med": .., "max": .., "unit": "s" | "bytes" | None}``; times in
    seconds, sizes in bytes. Plain values carry only ``total``."""
    lines = text.strip().split("\n")
    if len(lines) == 1:
        total, unit = _quantity(lines[0])
        return {"total": total, "unit": unit}
    if len(lines) != 2 or not lines[0].startswith("total"):
        raise ValueError(f"not a per-task summary: {text!r}")
    total_text, _, rest = lines[1].partition("(")
    total, unit = _quantity(total_text)
    stats = rest.split("(")[0].split(",")[:3]
    mn, med, mx = (_quantity(p)[0] for p in stats)
    return {"total": total, "min": mn, "med": med, "max": mx, "unit": unit}


def _scala_list(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def last_execution_id(spark) -> int:
    """Highest SQL execution id recorded so far (-1 before the first)."""
    store = spark._jsparkSession.sharedState().statusStore()
    ids = [e.executionId() for e in _scala_list(store.executionsList())]
    return max(ids, default=-1)


def node_metrics(spark, after_id: int, until_id: int | None = None
                 ) -> tuple[list[tuple[str, str, dict]], list[int]]:
    """Every (node name, metric name, parsed value) of the metrics
    ``map_metrics`` reads, over the executions with ``after_id`` < id <=
    ``until_id``, plus the ids of the jobs they ran."""
    store = spark._jsparkSession.sharedState().statusStore()
    out, jobs = [], []
    for e in _scala_list(store.executionsList()):
        eid = e.executionId()
        if eid <= after_id or (until_id is not None and eid > until_id):
            continue
        values = store.executionMetrics(eid)
        for node in _scala_list(store.planGraph(eid).allNodes()):
            for m in _scala_list(node.metrics()):
                if m.name() not in _NEEDED:
                    continue
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    out.append((node.name(), m.name(), parse_metric(v.get())))
        jobs.extend(int(j) for j in _scala_list(e.jobs().keys().toSeq()))
    return out, jobs


def map_metrics(nodes: list[tuple[str, str, dict]]) -> dict[str, float | None]:
    """Sum node metrics onto the ``spark.*`` names. ``python_task_skew`` is
    max / median per-task Python run time of the Python node with the
    largest total run time."""
    out: dict[str, float | None] = {}
    for name, (metric, scale) in _SUMS.items():
        vals = [p["total"] for _, m, p in nodes if m == metric]
        out[name] = sum(vals) * scale if vals else None
    runs = [p for _, m, p in nodes if m == _PY_RUN and "med" in p]
    if runs:
        top = max(runs, key=lambda p: p["total"])
        out["spark.python_task_skew"] = (top["max"] / top["med"]
                                         if top["med"] > 0 else None)
    else:
        out["spark.python_task_skew"] = None
    return out


def pass_metrics(spark, after_id: int, until_id: int | None = None
                 ) -> dict[str, float | None]:
    """``spark.*`` metrics of the executions in (``after_id``,
    ``until_id``], including the number of tasks their jobs ran."""
    nodes, jobs = node_metrics(spark, after_id, until_id)
    out = map_metrics(nodes)
    tracker = spark.sparkContext.statusTracker()
    stages = set()
    for job in jobs:
        info = tracker.getJobInfo(job)
        stages.update(info.stageIds if info else ())
    tasks = 0
    for stage in stages:
        s = tracker.getStageInfo(stage)
        tasks += s.numCompletedTasks if s else 0  # skipped stages ran none
    out["spark.tasks"] = float(tasks) if jobs else None
    return out
