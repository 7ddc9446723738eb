"""Seeded end-to-end benchmark of the map-matching engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload match_hot --seed 1 --seconds 6 --trace 0

Runs one workload (``match_hot`` or ``match_celljoin``; see
``perfbench/workloads.py``) in one driver process, in a ``local[nproc]``
session with nproc shuffle partitions:

1. set-up: ``SESSION_STARTS`` session starts (one when traced), each a
   fresh JVM (the last one stays up), then input generation from
   ``--seed`` and caching in Spark;
2. the first pass (cold: plan build + execution in a fresh process), then
   warm passes for ``--seconds`` (at least ``MIN_WARM_PASSES``);
3. the output check, outside the timed section: it re-runs the plan of the
   last warm pass and compares its output with the inputs and an
   in-process reference;
4. with ``--trace 1``, one traced pass (Spark SQL node metrics read from the
   status store) and the per-layer sweep of ``perfbench/layers.py``.

End-to-end metrics (untraced):

- ``setup_s``: median session start plus generate-and-cache;
- ``first_pass_s``: wall time of the first pass, the cost a one-shot job pays;
- ``rows_per_s``: input GPS points / median warm pass;
- ``peak_rss_mb``: peak RSS (VmHWM) of this process plus the PySpark Python
  daemon and workers, sampled after the passes; the JVM is left out because
  its heap follows GC timing under ``-Xmx``.

``failed_frac`` (passes that raised or failed the output check, over all
passes) is printed and recorded; it is 0 on a correct run. With
``--trace 0`` the last stdout line carries the end-to-end metrics, with
``--trace 1`` the per-layer ones::

    {"correct": true, "attempted": 6, "failed": 0, "metrics": {...}}

Every run also writes a record (seed, input and output digests, pass
times, trips per status, metrics and, when traced, the spans) to
``.perfbench_out/``. Spark local dirs and snapshots live in a per-run
directory under ``.perfbench_tmp/`` that is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time
import traceback
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SESSION_STARTS = 2
MIN_WARM_PASSES = 3

END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def n_workers() -> int:
    return len(os.sched_getaffinity(0))


def start_session(tmp: str, n: int):
    """``get_spark(local[n])`` with every scratch path inside ``tmp``."""
    from routers_spark.session import get_spark

    local = os.path.join(tmp, "spark-local")
    os.makedirs(local, exist_ok=True)
    # SPARK_LOCAL_DIRS overrides spark.local.dir; workers inherit TMPDIR;
    # no JVM writes its perf-data file to the system temp dir
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    spark = get_spark(f"local[{n}]", app_name="perfbench",
                      shuffle_partitions=n, extra_conf={
                          "spark.local.dir": local,
                          "spark.sql.warehouse.dir":
                              os.path.join(tmp, "warehouse"),
                          "spark.driver.extraJavaOptions":
                              f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                      })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(pid))
    return kids


def python_workers(jvm_pid: int) -> list[int]:
    """PySpark daemon and worker processes: Python descendants of the JVM."""
    kids = _children()
    out, todo = [], list(kids.get(jvm_pid, []))
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"python" in f.read():
                    out.append(pid)
        except OSError:
            continue
    return out


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def stop_session(spark) -> None:
    """Stop Spark, the JVM and the Python workers, and wait for each."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    workers = python_workers(proc.pid)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the gateway JVM exits on stdin EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.monotonic() + 20
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    sys.path.insert(0, ROOT)
    try:
        import routers_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable here: {e}",
              file=sys.stderr)
        return 2
    from perfbench import layers as L
    from perfbench import sparkmetrics
    from perfbench import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{', '.join(W.WORKLOADS)}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2

    wl, seed, n = args.workload, args.seed, n_workers()
    run_id = uuid.uuid4().hex[:12]
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{wl}-{run_id}")
    os.makedirs(tmp)
    record: dict = {"workload": wl, "seed": seed, "trace": args.trace,
                    "run_id": run_id, "nproc": n, "seconds": args.seconds}
    spark = None
    try:
        # a traced run reports no setup_s, so one session start does
        starts = []
        for _ in range(1 if args.trace else SESSION_STARTS):
            if spark is not None:
                stop_session(spark)
            t = time.perf_counter()
            spark = start_session(tmp, n)
            starts.append(time.perf_counter() - t)
        session_s = statistics.median(starts)

        # generation and caching run once, cold, as a one-shot job pays them
        t = time.perf_counter()
        inputs = W.generate(wl, seed)
        frames = W.load(spark, inputs)
        load_s = time.perf_counter() - t
        record.update(input_digest=inputs.digest, input_rows=inputs.rows,
                      session_start_s=starts, generate_and_cache_s=load_s)

        times: list[float] = []
        errors: list[str] = []
        ran: list = []  # (pass index, DataFrame) of the passes that ran

        def one_pass() -> None:
            t = time.perf_counter()
            try:
                df = W.run_pass(wl, frames)
            except Exception:
                errors.append(traceback.format_exc())
                traceback.print_exc()
                times.append(float("nan"))
                return
            times.append(time.perf_counter() - t)
            ran.append((len(times) - 1, df))

        first_after = sparkmetrics.last_execution_id(spark)
        one_pass()
        first_last = sparkmetrics.last_execution_id(spark)
        start = time.perf_counter()
        while (len(times) <= MIN_WARM_PASSES
               or time.perf_counter() - start < args.seconds):
            one_pass()
        warm = [t for t in times[1:] if t == t]
        attempted, failed = len(times), len(errors)
        record["pass_s"] = times

        jvm_pid = spark.sparkContext._gateway.proc.pid
        rss = vm_hwm_mb(os.getpid()) + sum(
            vm_hwm_mb(p) for p in python_workers(jvm_pid))

        # the check re-runs the plan of the last pass that ran, untimed
        statuses = None
        t = time.perf_counter()
        if ran:
            checked, df = ran[-1]
            try:
                bad, statuses, record["output_digest"] = W.check_output(
                    wl, df, frames, inputs, seed)
            except Exception:
                bad = [traceback.format_exc()]
            record["checked_pass"] = checked
            if bad:
                failed += 1
                errors.extend(bad)
                for e in bad:
                    print(f"perfbench: output check: {e}", file=sys.stderr)
        record["check_s"] = time.perf_counter() - t

        e2e = {
            "setup_s": session_s + load_s,
            "first_pass_s": times[0] if times[0] == times[0] else None,
            "rows_per_s": (inputs.rows / statistics.median(warm)
                           if warm else None),
            "peak_rss_mb": rss,
        }
        record.update(end_to_end=e2e, attempted=attempted, failed=failed,
                      failed_frac=failed / attempted, errors=errors,
                      trip_statuses=statuses)

        if args.trace:
            cold = sparkmetrics.pass_metrics(spark, first_after, first_last)
            record.update(trace(spark, run_id, wl, seed, frames, inputs, tmp,
                                session_s, warm, statuses, cold))
    finally:
        if spark is not None:
            stop_session(spark)
        W.remove_tree(tmp)

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{wl}-seed{seed}-trace{args.trace}-"
                        f"{run_id}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)

    if args.trace:
        values = record["per_layer"]
        units = {k: v[0] for k, v in L.LAYER_METRICS.items()}
    else:
        values, units = record["end_to_end"], END_TO_END
    print(f"workload {wl}  seed {seed}  inputs sha256 {record['input_digest']}"
          f"  rows {record['input_rows']}  record {os.path.relpath(path)}")
    print(f"failed_frac {record['failed_frac']:.4f} ratio "
          f"({record['failed']} of {record['attempted']} passes)")
    metrics = {}
    for name, unit in units.items():
        v = values.get(name)
        print(f"{name} {'missing' if v is None else f'{v:.6g}'} {unit}")
        if v is not None:
            metrics[name] = {"value": v, "unit": unit}
    print(json.dumps({"correct": record["failed"] == 0,
                      "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": metrics}))
    return 0


def trace(spark, run_id: str, wl: str, seed: int, frames: dict, inputs,
          tmp: str, session_s: float, warm: list[float],
          statuses: dict | None, cold: dict) -> dict:
    """The traced pass and the per-layer sweep. Spark metrics come from the
    traced (warm) pass, except Python worker start-up, which only the first
    pass pays (``cold``)."""
    import routers_spark.functions.cache as cache
    import routers_spark.graph.packed as packed

    from perfbench import layers as L
    from perfbench import sparkmetrics
    from perfbench import workloads as W
    from perfbench.tracing import Tracer

    tracer = Tracer(run_id)
    tracer.wrap(packed, "build_packed_graph", "pass.graph_pack")
    tracer.wrap(cache, "bounded_persist", "pass.bounded_persist")
    after = sparkmetrics.last_execution_id(spark)
    try:
        with tracer.span("pass"):
            W.run_pass(wl, frames)
    finally:
        tracer.restore()
    traced_s = tracer.totals()["pass"]
    with tracer.span("trace.read_spark_metrics"):
        spark_metrics = sparkmetrics.pass_metrics(spark, after)
    spark_metrics["spark.python_boot_s"] = cold["spark.python_boot_s"]
    overhead = traced_s - statistics.median(warm)

    sw = L.sweep_inputs(spark, frames, inputs, seed)
    root = os.path.join(tmp, "snap", "sweep")
    shard_counts = L.spark_phases(spark, tracer, sw, root)
    counts = L.kernel_sample(tracer, sw, seed, n_workers())
    counts["snapshot_bytes"] = W.tree_bytes(root)
    per_layer = L.per_layer_metrics(tracer, counts, shard_counts, statuses,
                                    session_s, spark_metrics, overhead)
    # shares of the untraced median warm pass: the shard phases (each run
    # alone, so their shared inputs count more than once) and the matcher
    # kernels over one worker's share of the trips; and the task-summed
    # Python worker times of the traced pass over its task slots (nproc x
    # wall time)
    median = statistics.median(warm)
    own = tracer.self_times()
    shares = {
        "shard_phases": sum(per_layer[f"shard.{k}_s"] for k in
                            ("edge_coords", "cover_sigs", "candidates",
                             "subgraph")) / median,
        "matcher_kernels": sum(own.get(k, 0.0) for k in L.KERNEL_SPANS)
        / median,
        **{k: spark_metrics[k] / (n_workers() * traced_s)
           for k in ("spark.python_init_s", "spark.python_run_s")
           if spark_metrics.get(k) is not None},
    }
    in_pass = L.IN_PASS[wl]
    return {
        "per_layer": per_layer,
        "per_layer_detail": {
            k: {"unit": u, "better": b, "moves": m,
                "in_pass": k.startswith(in_pass)}
            for k, (u, b, m) in L.LAYER_METRICS.items()},
        "traced_pass_s": traced_s,
        "share_of_warm_pass": shares,
        "self_time_s": tracer.self_times(),
        "counts": {**tracer.counts, **counts, **shard_counts},
        "first_pass_spark": cold,
        "traced_pass_spark": spark_metrics,
        "spans": tracer.records(),
    }


if __name__ == "__main__":
    sys.exit(main())
