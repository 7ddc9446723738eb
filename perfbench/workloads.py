"""The benchmark's workloads: seeded inputs, one pass, output check.

Inputs come only from the workload seed, through the engine's own fixture
generators, so the same seed always gives the same inputs (``digest``
fingerprints them). A pass is the engine's public facade call (plan build)
plus execution to the ``noop`` sink; the check re-runs the plan of a timed
pass outside the timed section.

- ``match_hot``: broadcast ``match_trips`` over a small grid with many short
  trips. The predicate cache holds the whole graph, so Dijkstra runs only on
  a node's first touch; the matcher kernels (candidates, weighing, Dijkstra,
  Viterbi) do the work and the shard layer is bypassed.
- ``match_celljoin``: ``candidate_path="celljoin"`` on a large grid with
  trips spread across it: the shard layer (cell-cover candidate join, cover
  signatures, subgraph cogroup) runs the pass and nothing is broadcast.

The traced record's ``share_of_warm_pass`` gives the measured shares.
"""

from __future__ import annotations

import hashlib
import itertools
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd

from routers_spark.fixtures.roads import grid_network, walk_trips

# grid side, trips, points per trip, candidate path
MATCH = {
    "match_hot": (30, 600, 8, "broadcast"),
    "match_celljoin": (150, 100, 10, "celljoin"),
}
# the other candidate path, which must give the same output rows
TWIN_PATH = {"match_celljoin": "broadcast"}

# the per-layer sweep's image, tile and zone layers
SAMPLE_GRID = 20
TILE_ZOOM = 16
BASE_ZOOM = 19
PYRAMID_LEVELS = 2
N_ZONES = 8

WORKLOADS = tuple(MATCH)
STATUSES = ("matched", "unanchored", "disconnected", "unreachable")


@dataclass
class Inputs:
    """Generated pandas inputs of one workload and their fingerprint."""
    frames: dict[str, pd.DataFrame]

    @property
    def rows(self) -> int:
        """Input rows a pass processes: GPS points."""
        return len(self.frames["points"])

    @property
    def digest(self) -> str:
        h = hashlib.sha256()
        for name in sorted(self.frames):
            df = self.frames[name]
            h.update(name.encode())
            for col in df.columns:
                h.update(f"{col}:{df[col].dtype}".encode())
                vals = df[col].values
                if vals.dtype == object:
                    for v in vals:
                        b = v if isinstance(v, bytes) else str(v).encode()
                        h.update(len(b).to_bytes(8, "little") + b)
                else:
                    h.update(np.ascontiguousarray(vals).tobytes())
        return h.hexdigest()


def seeded_zones(lon0: float, lat0: float, lon1: float, lat1: float,
                 seed: int, n: int = N_ZONES) -> list[dict]:
    """``n`` star-shaped (hence simple) polygons inside the given box; list
    order is the first-match order of ``assign_zones``."""
    rng = np.random.default_rng(seed + 7)
    span = min(lon1 - lon0, lat1 - lat0)
    zones = []
    for k in range(n):
        cx = rng.uniform(lon0, lon1)
        cy = rng.uniform(lat0, lat1)
        m = int(rng.integers(5, 10))
        ang = np.sort(rng.uniform(0, 2 * np.pi, m))
        rad = rng.uniform(0.1, 0.35, m) * span
        ring = [(float(cx + r * np.cos(a)), float(cy + r * np.sin(a)))
                for a, r in zip(ang, rad)]
        zones.append({"zone_id": f"zone{k}", "ring": ring})
    return zones


def generate(workload: str, seed: int) -> Inputs:
    grid, trips, ppt, _ = MATCH[workload]
    nodes, edges = grid_network(grid)
    points = walk_trips(nodes, edges, n_trips=trips, points_per_trip=ppt,
                        seed=seed)
    return Inputs({"points": points, "nodes": nodes, "edges": edges})


def load(spark, inputs: Inputs) -> dict:
    """The inputs as cached, materialized Spark DataFrames."""
    out = {}
    for name, pdf in inputs.frames.items():
        df = spark.createDataFrame(pdf).cache()
        df.count()
        out[name] = df
    return out


def run_pass(workload: str, frames: dict):
    """One pass: the facade call plus execution to the ``noop`` sink.
    Returns the DataFrame it ran, whose plan the output check re-runs."""
    out = match_output(frames, MATCH[workload][3])
    out.write.format("noop").mode("overwrite").save()
    return out


def match_output(frames: dict, path: str):
    from routers_spark.matching.matcher import match_trips

    return match_trips(frames["points"], frames["nodes"], frames["edges"],
                       candidate_path=path)


# ----------------------------------------------------------------- checks


def output_rows(df) -> list[tuple]:
    """Every output row of a matcher plan, sorted, as (trip_id, seq,
    edge_id, trip_cost, status): the columns both candidate paths must agree
    on. The inputs are small, so the driver holds them all."""
    cols = ("trip_id", "seq", "edge_id", "trip_cost", "status")
    return sorted(tuple(r) for r in df.select(*cols).collect())


def sample_ids(values, seed: int, k: int) -> list:
    uniq = np.unique(np.asarray(values))
    rng = np.random.default_rng(seed + 11)
    return sorted(rng.choice(uniq, size=min(k, len(uniq)), replace=False))


def reference_matches(graph, points: pd.DataFrame,
                      trip_ids: list) -> dict[str, tuple[str, list]]:
    """In-process (status, [(seq, edge_id), ...]) per trip from the public
    kernels ``candidates_for_points`` + ``solve_trip`` on the full graph; a
    trip that is not matched has the one row ``(-1, -1)``."""
    from routers_spark.matching.matcher import (
        MatchOptions,
        candidates_for_points,
        solve_trip,
    )

    opts = MatchOptions()
    out = {}
    for tid in trip_ids:
        t = points[points["trip_id"] == tid].sort_values("seq")
        layers = candidates_for_points(graph, t["lon"].values, t["lat"].values,
                                       opts.search_distance,
                                       opts.emission_error)
        res = solve_trip(graph, layers, opts)
        if res["status"] != "matched":
            out[tid] = (res["status"], [(-1, -1)])
            continue
        out[tid] = ("matched", [
            (int(s), int(graph.edge_id[layers[k]["edge_row"][p]]))
            for k, (s, p) in enumerate(zip(t["seq"].values, res["path"]))])
    return out


def trip_row_errors(per_trip: dict[str, tuple[int, list[str]]],
                    points: pd.DataFrame) -> tuple[list[str], dict[str, int]]:
    """Mismatches of the per-trip output rows (count, statuses) against
    the input points (one row per point of a matched trip, one row for any
    other trip), and the trips per status."""
    errors = []
    want_rows = points.groupby("trip_id").size().to_dict()
    if set(per_trip) != set(want_rows):
        errors.append(f"output trips {len(per_trip)} != input trips "
                      f"{len(want_rows)}")
    statuses = dict.fromkeys(STATUSES, 0)
    for tid, (n, status) in per_trip.items():
        if len(status) != 1 or status[0] not in statuses:
            errors.append(f"trip {tid}: statuses {status}")
            continue
        statuses[status[0]] += 1
        want = want_rows.get(tid, 0) if status[0] == "matched" else 1
        if n != want:
            errors.append(f"trip {tid} ({status[0]}): {n} rows, want {want}")
    return errors, statuses


def check_output(workload: str, df, frames: dict, inputs: Inputs,
                 seed: int) -> tuple[list[str], dict[str, int], str]:
    """Re-run the plan ``df`` of a timed pass and compare its output with
    the inputs: one row per point of a matched trip and one row for any
    other trip, a seeded trip sample against the in-process reference and,
    for ``match_celljoin``, the other candidate path's rows. Returns the
    mismatches, the trips per status and a digest of the sorted rows."""
    from routers_spark.graph.packed import build_packed_graph

    points = inputs.frames["points"]
    rows = output_rows(df)
    per_trip, got = {}, {}
    for tid, group in itertools.groupby(rows, key=lambda r: r[0]):
        g = list(group)
        per_trip[tid] = (len(g), sorted({r[4] for r in g}))
        got[tid] = (g[0][4], [(int(r[1]), int(r[2])) for r in g])

    errors, statuses = trip_row_errors(per_trip, points)
    graph = build_packed_graph(inputs.frames["nodes"],
                               inputs.frames["edges"]).build_cell_index()
    sample = sample_ids(points["trip_id"], seed, 24)
    ref = reference_matches(graph, points, sample)
    for tid in sample:
        if got.get(tid) != ref[tid]:
            errors.append(f"trip {tid}: got {got.get(tid)}, reference "
                          f"{ref[tid]}")
    twin = TWIN_PATH.get(workload)
    if twin is not None:
        other = output_rows(match_output(frames, twin))
        if other != rows:
            diff = len(set(other) ^ set(rows))
            errors.append(f"{diff} rows differ from the {twin} path's")
    digest = hashlib.sha256(repr(rows).encode()).hexdigest()
    return errors, statuses, digest


def remove_tree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def tree_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total
