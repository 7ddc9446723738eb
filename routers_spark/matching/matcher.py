"""HMM/Viterbi map matching: the engine's primary query.

Spark shape (SURVEY.md §3.1): the road graph is packed + broadcast once
(north rule: "broadcast packed R-tree"); trips shuffle once on trip_id; each
trip is solved inside one Arrow-batched ``applyInPandas`` call — candidate
generation (X6), boundary weighing (M4-M9), Viterbi (M11), collapse (M15/16)
all run against the executor-resident graph with a process-wide predicate
LRU (O4). No per-row Python at the DataFrame level.

Semantics are the reference batch facade
(libs/routers_transition/src/match/implementation.rs:20-41 →
matcher/entity.rs:304-333):
  - candidates: every edge whose bbox intersects the 50 m square box,
    projected planar, no radial post-filter (scan.rs:22-44 over-selection is
    BY DESIGN)
  - all-or-nothing unanchored batches (entity.rs:166-193)
  - unresolvable boundary → DisconnectedError (entity.rs:221-226)
  - collapse re-derives hop geometry from the warm cache (entity.rs:337-358)
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from routers_spark.config import (
    DEFAULT_EMISSION_ERROR_M,
    DEFAULT_SEARCH_DISTANCE_M,
    MAX_WEIGHT,
    NO_EDGE,
)
from routers_spark.functions.geo import (
    haversine_m_np,
    line_locate_point_np,
    point_at_ratio_np,
    square_box_np,
)
from routers_spark.graph.dijkstra import (
    GLOBAL_PREDICATE_CACHE,
    parent_path_pm,
)
from routers_spark.matching import costing
from routers_spark.matching.trellis import Trellis, Unreachable
from routers_spark.matching.weigh import weigh_boundaries


@dataclass
class MatchOptions:
    search_distance: float = DEFAULT_SEARCH_DISTANCE_M
    emission_error: float = DEFAULT_EMISSION_ERROR_M
    selective_fanout: int | None = None  # None = AllCompute (exact, default)
    drop_unanchored: bool = False  # streaming semantics (bin/matcher.rs:143-157)
    # runtime accessibility profile (TripProfile) gating every Dijkstra
    # expansion (cache.rs:297-315); None = no gating (default allow)
    profile: object | None = None
    # §2.9 injected costing (costing.CostingStrategies): custom emission /
    # transition heuristics + ζ/β decay constants; None = reference defaults
    costing: object | None = None


# -------------------------------------------------------- candidate search


def candidates_for_point(graph, lon: float, lat: float, search_distance: float,
                         emission_error: float, costing_strategies=None) -> dict:
    """M1/X6: one candidate per edge intersecting the square box — projected
    position, distance, emission cost. Canonical candidate order = ascending
    edge row (stable; the trellis tie-breaks depend on it)."""
    return candidates_for_points(graph, np.array([lon]), np.array([lat]),
                                 search_distance, emission_error,
                                 costing_strategies)[0]


def candidates_for_points(graph, lons, lats, search_distance: float,
                          emission_error: float,
                          costing_strategies=None) -> list[dict]:
    """Batch variant (the rayon par-iter analog, generation/mod.rs:33-37):
    box queries per point, then ONE vectorized projection/emission pass over
    every (point, candidate-edge) pair."""
    lons = np.asarray(lons, dtype=np.float64)
    lats = np.asarray(lats, dtype=np.float64)
    min_lon, min_lat, max_lon, max_lat = square_box_np(lons, lats, search_distance)
    per_point = [
        graph.box_query(min_lon[i], min_lat[i], max_lon[i], max_lat[i])
        for i in range(len(lons))
    ]
    counts = np.array([len(r) for r in per_point])
    if counts.sum() == 0:
        empty = {
            "edge_row": np.empty(0, dtype=np.int64), "frac": np.empty(0),
            "px": np.empty(0), "py": np.empty(0), "dist_m": np.empty(0),
            "emission": np.empty(0, dtype=np.uint32),
        }
        return [dict(empty) for _ in per_point]
    rows = np.concatenate([r for r in per_point if len(r)])
    p_lon = np.repeat(lons, counts)
    p_lat = np.repeat(lats, counts)
    ax, ay = graph.ax[rows], graph.ay[rows]
    bx, by = graph.bx[rows], graph.by[rows]
    frac = line_locate_point_np(ax, ay, bx, by, p_lon, p_lat)
    frac_f = np.where(np.isnan(frac), 0.0, frac)
    px, py = point_at_ratio_np(ax, ay, bx, by, frac_f)
    dist = haversine_m_np(px, py, p_lon, p_lat)
    estrat = (costing_strategies.emission
              if costing_strategies is not None else None)
    emission = costing.emission_cost_u32(dist, emission_error, estrat)
    out = []
    off = 0
    for c in counts:
        sl = slice(off, off + c)
        out.append({
            "edge_row": rows[sl], "frac": frac[sl], "px": px[sl],
            "py": py[sl], "dist_m": dist[sl], "emission": emission[sl],
        })
        off += c
    return out


# ------------------------------------------------------------ transitions


def _edge_heading(graph, row: int) -> float:
    """Edge bearing, NaN when degenerate <1 m (candidate/entry.rs:109-126)."""
    return float(graph.edge_heading[row])


def reach(graph, cache, src: dict, tgt: dict,
          profile=None) -> tuple[str, list[int]] | None:
    """How tgt is reached from src (Expansion::reach, expansion.rs:63-97).

    Returns (resolution, path_edge_rows) or None when unreachable.
    resolution: 'direct' (same-edge DistanceOnly) or 'standard'.
    """
    if src["edge_row"] == tgt["edge_row"]:
        # same directed edge: ahead → direct; degenerate frac → unreachable
        if np.isnan(src["frac"]) or np.isnan(tgt["frac"]):
            return None
        if src["frac"] <= tgt["frac"]:
            return ("direct", [])
        # same-edge backtrack falls through to routing
    root = int(graph.edge_dst[src["edge_row"]])
    leaf = int(graph.edge_src[tgt["edge_row"]])
    pm = cache.query(graph, root, profile)
    nodes = parent_path_pm(pm, root, leaf)
    if nodes is None:
        return None
    path_rows = []
    for a, b in zip(nodes, nodes[1:]):
        r = graph.edge_row(a, b)
        if r >= 0:  # filter_map semantics: silently skip missing (G2)
            path_rows.append(r)
    return ("standard", path_rows)


def transition_cost(graph, cache, src: dict, tgt: dict,
                    profile=None, costing_strategies=None) -> tuple[int, tuple] | None:
    """M4: u32 transition cost for a candidate pair, or None (→ NO_EDGE).
    Also returns the (resolution, path_rows) for collapse reuse.

    The SCALAR reference kernel: solve_trip weighs boundaries with the
    batched twin (matching/weigh.py, bit-identical by test); this stays as
    the per-pair oracle and the collapse hop re-derivation."""
    r = reach(graph, cache, src, tgt, profile)
    if r is None:
        return None
    resolution, path_rows = r

    # path nodes from edges: sources + last target (resolve.rs:67-77)
    if path_rows:
        node_idx = [int(graph.edge_src[e]) for e in path_rows]
        node_idx.append(int(graph.edge_dst[path_rows[-1]]))
        mp_lon = [float(graph.node_lon[i]) for i in node_idx]
        mp_lat = [float(graph.node_lat[i]) for i in node_idx]
        mp_len = 0.0
        for i in range(len(mp_lon) - 1):
            mp_len += costing.haversine_s(mp_lon[i], mp_lat[i],
                                          mp_lon[i + 1], mp_lat[i + 1])
    else:
        mp_lon = []
        mp_lat = []
        mp_len = 0.0

    straight = costing.haversine_s(src["px"], src["py"], tgt["px"], tgt["py"])

    # offsets (transition.rs:205-238)
    if resolution == "direct":
        offset = straight
    else:
        e_s, e_t = src["edge_row"], tgt["edge_row"]
        offset = costing.haversine_s(
            src["px"], src["py"], float(graph.bx[e_s]), float(graph.by[e_s])
        ) + costing.haversine_s(
            float(graph.ax[e_t]), float(graph.ay[e_t]), tgt["px"], tgt["py"]
        )

    route_length = mp_len + offset

    # angular complexity with explicit endpoint headings
    # (transition.rs:148-156 + map_path/entity.rs:260-283)
    pos_lon = [src["px"], *mp_lon, tgt["px"]]
    pos_lat = [src["py"], *mp_lat, tgt["py"]]
    heads = []
    h_src = _edge_heading(graph, src["edge_row"])
    h_tgt = _edge_heading(graph, tgt["edge_row"])
    if not np.isnan(h_src):
        heads.append(h_src)
    heads.extend(costing.headings_scalar(pos_lon, pos_lat))
    if not np.isnan(h_tgt):
        heads.append(h_tgt)
    angular = costing.complexity_scalar(heads)

    w_s = int(graph.edge_weight[src["edge_row"]])
    w_t = int(graph.edge_weight[tgt["edge_row"]])
    tstrat = (costing_strategies.transition
              if costing_strategies is not None else None)
    if tstrat is not None and tstrat.calculate is not None:
        value = float(np.asarray(tstrat.calculate(
            np.float64(straight), np.float64(route_length),
            np.float64(angular), np.float64(w_s), np.float64(w_t))))
    else:
        value = costing.transition_value(straight, route_length, angular,
                                         w_s, w_t)
    zeta = tstrat.zeta if tstrat is not None else 1.0
    beta = tstrat.beta if tstrat is not None else 1.0
    return (min(costing.decay_u32_scalar(value, zeta, beta), MAX_WEIGHT),
            (resolution, path_rows))


# ------------------------------------------------------------- trip solver


def _cand(layer: dict, i: int) -> dict:
    return {
        "edge_row": int(layer["edge_row"][i]),
        "frac": float(layer["frac"][i]),
        "px": float(layer["px"][i]),
        "py": float(layer["py"][i]),
    }


def solve_trip(graph, layers: list[dict], opts: MatchOptions,
               boundary_keys: list | None = None,
               boundary_cache: dict | None = None) -> dict:
    """Weigh + solve + collapse one trip. Returns
    {status, breaks, path, cost, hops, trellis} where path[i] is the chosen
    candidate index per layer, hops[i] the (resolution, path_rows) of
    boundary i, and trellis the solved Trellis (reused for convergence
    queries by the streaming matcher — one weigh per micro-batch, not two).

    R2 incremental weighing (weigh/mod.rs:30-34, 160-168: only PENDING
    boundaries recomputed): with ``boundary_keys`` + ``boundary_cache``,
    boundary k's matrix is reused from cache[boundary_keys[k]] when
    present — the streaming matcher keys by the observation pair, so each
    micro-batch weighs only the boundaries its new points introduced."""
    widths = [len(l["edge_row"]) for l in layers]
    empty = [i for i, w in enumerate(widths) if w == 0]
    if empty:
        return {"status": "unanchored", "breaks": empty, "path": None,
                "cost": None, "hops": None, "trellis": None}

    t = Trellis([widths[0]])
    t.fill_nodes(0, layers[0]["emission"])
    for k in range(1, len(widths)):
        t.add_layer(widths[k], layers[k]["emission"])

    cache = GLOBAL_PREDICATE_CACHE
    if boundary_keys is None or boundary_cache is None:
        mats = weigh_boundaries(graph, cache, layers,
                                fanout=opts.selective_fanout,
                                profile=opts.profile, costing=opts.costing)
    else:
        from routers_spark.matching.weigh import weigh_boundary

        mats = []
        for k in range(len(widths) - 1):
            m = boundary_cache.get(boundary_keys[k])
            if m is None:
                m = weigh_boundary(graph, cache, layers[k], layers[k + 1],
                                   fanout=opts.selective_fanout,
                                   profile=opts.profile, costing=opts.costing)
                boundary_cache[boundary_keys[k]] = m
            mats.append(m)
    for k, mat in enumerate(mats):
        if not np.all(mat == np.uint32(NO_EDGE)):
            t.fill_transition(k, mat)

    breaks = t.disconnections()
    if breaks:
        return {"status": "disconnected", "breaks": breaks, "path": None,
                "cost": None, "hops": None, "trellis": t}

    try:
        path, cost = t.solve()
    except Unreachable:
        return {"status": "unreachable", "breaks": [], "path": None,
                "cost": None, "hops": None, "trellis": t}

    # collapse: re-derive chosen hops from the warm cache (entity.rs:337-358)
    hops = []
    for k in range(len(path) - 1):
        hops.append(reach(graph, cache, _cand(layers[k], path[k]),
                          _cand(layers[k + 1], path[k + 1]), opts.profile))
    return {"status": "matched", "breaks": [], "path": path, "cost": cost,
            "hops": hops, "trellis": t}


# --------------------------------------------------------------- Spark API

DISCRETIZED_SCHEMA = (
    "trip_id string, seq int, edge_id long, matched_lon double, "
    "matched_lat double, frac double, dist_m double, emission long, "
    "trip_cost long, status string"
)

INTERPOLATED_SCHEMA = (
    "trip_id string, elem int, lon double, lat double, edge_id long, "
    "kind string, trip_cost long, status string"
)

# Combined gate shape (r6): ONE facade pass emits the union of the
# discretized rows (kind='matched': idx=seq, frac) and the interpolated
# RoutedPath rows (idx=elem, kind, plon/plat) for MATCHED trips — the
# oracle-gated map_match_exact[_celljoin] queries consume exactly this
# union, and running it as one pass halves the candidate/subgraph/solve
# machinery vs two full match_trips calls. Non-matched trips emit nothing
# (the gate filters status='matched' anyway). plon/plat are NaN on
# 'matched' rows and frac is NaN on interpolated rows; the caller maps
# those to SQL NULLs by kind (NaN wouldn't hash-match the oracle's NULLs).
GATE_UNION_SCHEMA = (
    "trip_id string, idx int, kind string, edge_id long, frac double, "
    "plon double, plat double"
)


def _solve_arrays(trip_id: str, seqs, lons, lats, graph, opts: MatchOptions,
                  output: str):
    """Solve one trip from raw column arrays. For the discretized and
    gate_union outputs the return value is a dict of numpy column arrays —
    :func:`_solve_trips` builds ONE DataFrame per Arrow batch (or signature
    group) from thousands of these instead of one pandas frame per 10-row
    trip (per-trip frame construction + concat measured ~25% of warm
    solver wall)."""
    seqs = np.asarray(seqs)
    lons = np.asarray(lons, dtype=np.float64)
    lats = np.asarray(lats, dtype=np.float64)
    if len(seqs) > 1 and np.any(seqs[1:] < seqs[:-1]):
        o = np.argsort(seqs, kind="stable")
        seqs, lons, lats = seqs[o], lons[o], lats[o]
    layers = candidates_for_points(graph, lons, lats,
                                   opts.search_distance, opts.emission_error,
                                   opts.costing)
    if opts.drop_unanchored:
        keep = [i for i, l in enumerate(layers) if len(l["edge_row"]) > 0]
        layers = [layers[i] for i in keep]
        seqs = seqs[keep]
        if not layers:
            return _status_cols(trip_id, "unanchored", output)

    result = solve_trip(graph, layers, opts)
    if result["status"] != "matched":
        return _status_cols(trip_id, result["status"], output)
    return _emit_cols(trip_id, seqs, layers, result, graph, output)


def _solve_trips(tid, seq, lon, lat, graph, opts: MatchOptions,
                 output: str) -> pd.DataFrame:
    """Solve every trip of trip-contiguous, seq-sorted column arrays into
    ONE DataFrame: trip slices via one boundary scan, per-trip
    :func:`_solve_arrays`, one concat — no per-trip groupby/sort/frame
    (those measured ~25% of warm solver wall). Shared by the broadcast
    batches and the celljoin signature groups."""
    cuts = np.nonzero(tid[1:] != tid[:-1])[0] + 1
    bounds = np.concatenate([[0], cuts, [len(tid)]])
    parts = [_solve_arrays(tid[s], seq[s:e], lon[s:e], lat[s:e], graph, opts,
                           output)
             for s, e in zip(bounds[:-1], bounds[1:])]
    if output == "interpolated":
        return pd.concat(parts, ignore_index=True)
    return pd.DataFrame({k: np.concatenate([p[k] for p in parts])
                         for k in parts[0]})


def _routed_elems(layers, path, hops, graph) -> list[tuple]:
    """The interpolated RoutedPath element list (candidate/route.rs:46-141)
    with consecutive-duplicate dedup (route.rs:131) — shared by the
    'interpolated' and 'gate_union' emitters. Returns
    [(lon, lat, edge_id, kind), ...]."""
    elems: list[tuple[float, float, int, str]] = []

    def add(lon, lat, edge_id, kind):
        elems.append((float(lon), float(lat), int(edge_id), kind))

    first_row = layers[0]["edge_row"][path[0]]
    add(graph.ax[first_row], graph.ay[first_row], graph.edge_id[first_row],
        "edge_source")
    for k in range(len(path) - 1):
        cur_row = layers[k]["edge_row"][path[k]]
        add(layers[k]["px"][path[k]], layers[k]["py"][path[k]],
            graph.edge_id[cur_row], "candidate")
        resolution, path_rows = hops[k]
        if resolution == "standard":
            add(graph.bx[cur_row], graph.by[cur_row], graph.edge_id[cur_row],
                "edge_target")
            for e in path_rows:
                add(graph.ax[e], graph.ay[e], graph.edge_id[e], "bridge")
            nxt_row = layers[k + 1]["edge_row"][path[k + 1]]
            add(graph.ax[nxt_row], graph.ay[nxt_row], graph.edge_id[nxt_row],
                "edge_source")
    last_row = layers[-1]["edge_row"][path[-1]]
    add(layers[-1]["px"][path[-1]], layers[-1]["py"][path[-1]],
        graph.edge_id[last_row], "candidate")

    # dedup consecutive identical points (route.rs:131)
    return [e for i, e in enumerate(elems)
            if i == 0 or (e[0], e[1]) != (elems[i - 1][0], elems[i - 1][1])]


def _emit_cols(trip_id: str, seqs, layers, result, graph, output: str):
    path, cost, hops = result["path"], result["cost"], result["hops"]
    if output == "discretized":
        n = len(path)
        rows_sel = np.array([layers[k]["edge_row"][path[k]] for k in range(n)],
                            dtype=np.int64)
        return {
            "trip_id": np.full(n, trip_id, dtype=object),
            "seq": np.asarray(seqs, dtype=np.int32),
            "edge_id": graph.edge_id[rows_sel].astype(np.int64),
            "matched_lon": np.array(
                [layers[k]["px"][path[k]] for k in range(n)]),
            "matched_lat": np.array(
                [layers[k]["py"][path[k]] for k in range(n)]),
            "frac": np.array(
                [layers[k]["frac"][path[k]] for k in range(n)]),
            "dist_m": np.array(
                [layers[k]["dist_m"][path[k]] for k in range(n)]),
            "emission": np.array(
                [layers[k]["emission"][path[k]] for k in range(n)],
                dtype=np.int64),
            "trip_cost": np.full(n, cost, dtype=np.int64),
            "status": np.full(n, "matched", dtype=object),
        }

    if output == "gate_union":
        n = len(path)
        rows_sel = np.array([layers[k]["edge_row"][path[k]] for k in range(n)],
                            dtype=np.int64)
        dedup = _routed_elems(layers, path, hops, graph)
        m = len(dedup)
        return {
            "trip_id": np.full(n + m, trip_id, dtype=object),
            "idx": np.concatenate([np.asarray(seqs, dtype=np.int32),
                                   np.arange(m, dtype=np.int32)]),
            "kind": np.concatenate([np.full(n, "matched", dtype=object),
                                    np.array([e[3] for e in dedup],
                                             dtype=object)]),
            "edge_id": np.concatenate([
                graph.edge_id[rows_sel].astype(np.int64),
                np.array([e[2] for e in dedup], dtype=np.int64)]),
            "frac": np.concatenate([
                np.array([layers[k]["frac"][path[k]] for k in range(n)]),
                np.full(m, np.nan)]),
            "plon": np.concatenate([np.full(n, np.nan),
                                    np.array([e[0] for e in dedup])]),
            "plat": np.concatenate([np.full(n, np.nan),
                                    np.array([e[1] for e in dedup])]),
        }

    # interpolated (RoutedPath::new, candidate/route.rs:46-141)
    dedup = _routed_elems(layers, path, hops, graph)
    return pd.DataFrame({
        "trip_id": trip_id,
        "elem": np.arange(len(dedup), dtype="int32"),
        "lon": [e[0] for e in dedup],
        "lat": [e[1] for e in dedup],
        "edge_id": np.array([e[2] for e in dedup], dtype=np.int64),
        "kind": [e[3] for e in dedup],
        "trip_cost": np.int64(cost),
        "status": "matched",
    })


def _status_cols(trip_id: str, status: str, output: str):
    if output == "gate_union":
        # non-matched trips emit NO rows: the gate consumers filter
        # status='matched' anyway, so this is the same row multiset
        return {
            "trip_id": np.empty(0, dtype=object),
            "idx": np.empty(0, dtype=np.int32),
            "kind": np.empty(0, dtype=object),
            "edge_id": np.empty(0, dtype=np.int64),
            "frac": np.empty(0), "plon": np.empty(0), "plat": np.empty(0),
        }
    if output == "discretized":
        return {
            "trip_id": np.array([trip_id], dtype=object),
            "seq": np.array([-1], dtype=np.int32),
            "edge_id": np.array([-1], dtype=np.int64),
            "matched_lon": np.array([np.nan]),
            "matched_lat": np.array([np.nan]),
            "frac": np.array([np.nan]), "dist_m": np.array([np.nan]),
            "emission": np.array([-1], dtype=np.int64),
            "trip_cost": np.array([-1], dtype=np.int64),
            "status": np.array([status], dtype=object),
        }
    return pd.DataFrame({
        "trip_id": [trip_id], "elem": np.array([-1], dtype="int32"),
        "lon": [np.nan], "lat": [np.nan],
        "edge_id": np.array([-1], dtype=np.int64), "kind": ["none"],
        "trip_cost": np.array([-1], dtype=np.int64), "status": [status],
    })


def _status_row(trip_id: str, status: str, output: str) -> pd.DataFrame:
    out = _status_cols(trip_id, status, output)
    return out if isinstance(out, pd.DataFrame) else pd.DataFrame(out)


def match_trips(points_df, nodes_df, edges_df, opts: MatchOptions | None = None,
                output: str = "discretized", candidate_path: str = "broadcast",
                solve_salt: int = 1, broadcast_limit_rows: int = 5_000_000):
    """M17 facade: match every trip in points_df(trip_id, seq, lon, lat)
    against the road graph given as nodes(node_id, lon, lat) /
    edges(edge_id, src, dst, weight) DataFrames.

    candidate_path:
      - "broadcast": the graph is collected once, packed, broadcast; trips
        shuffle once on trip_id (the only wide dependency) and candidate
        generation + solving happen per group against the executor-resident
        index. Right when the graph fits a broadcast (the north-rule shape).
      - "celljoin": the NO-BROADCAST scale path — ONE cogroup on cover
        signature: the trips' points (keyed by ``trip_cover_sigs_cells``)
        meet the signature's padded road subgraph (every edge within
        Dijkstra-bound + search of the cover, P4/P5 admit semantics,
        ``sig_subgraph_edges``). Each group packs and indexes its subgraph
        and generates candidates + solves every trip with the same kernels
        as the broadcast path. The global graph is never collected to the
        driver and never broadcast. Both paths produce identical matches:
        the pad admits every edge a point's search box can meet, and a
        sorted subset keeps the canonical edge_row order the tie-breaks
        depend on (tests/test_celljoin.py).
    """
    opts = opts or MatchOptions()
    schema = {"discretized": DISCRETIZED_SCHEMA,
              "interpolated": INTERPOLATED_SCHEMA,
              "gate_union": GATE_UNION_SCHEMA}[output]

    if candidate_path == "broadcast":
        import uuid
        from collections.abc import Iterator

        from routers_spark.graph.packed import build_packed_graph, hydrate

        spark = points_df.sparkSession
        # Guard the driver collect: a graph past the broadcast envelope must
        # go through the distributed celljoin path, not OOM the driver. The
        # probe and the collect are ONE job per side — limit(N+1).toPandas()
        # early-terminates past the envelope and doubles as the collect
        # under it, so expensive upstream lineage executes once, not three
        # times (probe-count ×2 + toPandas). Covers BOTH tables (a sparse
        # network can have few edges but an enormous nodes table).
        def _collect_bounded(df_side, side):
            if broadcast_limit_rows is None:
                return df_side.toPandas()
            pdf = df_side.limit(broadcast_limit_rows + 1).toPandas()
            if len(pdf) > broadcast_limit_rows:
                raise ValueError(
                    f"match_trips: {side} table exceeds "
                    f"broadcast_limit_rows={broadcast_limit_rows}; use "
                    f"candidate_path='celljoin' (the no-broadcast scale "
                    f"path) or raise the limit.")
            return pdf

        g = build_packed_graph(_collect_bounded(nodes_df, "nodes"),
                               _collect_bounded(edges_df, "edges"))
        bc = spark.sparkContext.broadcast(g.to_broadcastable())
        bc_key = uuid.uuid4().hex
        n_part = max(int(spark.conf.get("spark.sql.shuffle.partitions")), 1)

        # ONE shuffle on trip_id, then mapInPandas over trip-sorted
        # partitions: hundreds of trips share each Arrow batch, vs one
        # Arrow round-trip per 10-row group under groupBy.applyInPandas
        # (per-group dispatch dominated the matcher's wall time at scale).
        # Trips split across batch boundaries are carried forward — rows of
        # a trip are contiguous (and seq-sorted) after sortWithinPartitions.
        # Each batch is solved on RAW ARRAYS end-to-end (_solve_trips).
        def run_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            graph = hydrate(bc, bc_key)
            ctid = cseq = clon = clat = None
            for pdf in batches:
                if not len(pdf):
                    continue
                tid = pdf["trip_id"].values
                seq = pdf["seq"].values
                lon = pdf["lon"].values
                lat = pdf["lat"].values
                if ctid is not None and len(ctid):
                    tid = np.concatenate([ctid, tid])
                    seq = np.concatenate([cseq, seq])
                    lon = np.concatenate([clon, lon])
                    lat = np.concatenate([clat, lat])
                last = tid == tid[-1]
                ctid, cseq, clon, clat = tid[last], seq[last], lon[last], lat[last]
                keep = ~last
                if keep.any():
                    yield _solve_trips(tid[keep], seq[keep], lon[keep],
                                       lat[keep], graph, opts, output)
            if ctid is not None and len(ctid):
                yield _solve_trips(ctid, cseq, clon, clat, graph, opts, output)

        # exactly spark.sql.shuffle.partitions tasks: each task carries a
        # fixed ~65 ms of Arrow-stream + worker-handshake cost, so fewer,
        # larger solver tasks win (measured 128 -> 32 tasks = -35% wall at
        # local[32]); the session sizes shuffle partitions to cores (or
        # 2-3x cores on a real cluster via --conf)
        prepared = (points_df.repartition(n_part, "trip_id")
                    .sortWithinPartitions("trip_id", "seq"))
        return prepared.mapInPandas(run_iter, schema=schema)

    from pyspark.sql import functions as F

    from routers_spark.config import DIJKSTRA_BOUND_CM
    from routers_spark.shard.partition import (
        sig_subgraph_edges,
        trip_cover_sigs_cells,
    )

    # pad: bound (cm→m) + search + equirectangular slop so every bounded
    # Dijkstra expansion from any candidate — and every edge a point's
    # search box can meet — stays inside the subgraph
    pad_m = DIJKSTRA_BOUND_CM / 100.0 + opts.search_distance * 1.5 + 50.0
    # ONE signature aggregation per call, shared by the subgraph builder
    # (which derives (sig, cx, cy) from the carried cell arrays) and the
    # point→sig key; subgraphs are SHARED per cover signature (one graph
    # per distinct cell set, solved against by every trip with that cover
    # — the per-shard graph analog), not duplicated per trip
    sigs_cells = trip_cover_sigs_cells(points_df)
    sub = sig_subgraph_edges(points_df, nodes_df, edges_df, pad_m=pad_m,
                             sigs_cells=sigs_cells)
    # fresh exprId for sig on this side (the alias mints one): both cogroup
    # inputs descend from the same sigs_cells frame, and Spark's ambiguous
    # self-join check rejects the shared attribute otherwise
    pts_sig = points_df.select("trip_id", "seq", "lon", "lat").join(
        sigs_cells.select("trip_id", F.col("sig").alias("sig")), "trip_id")

    # skew valve: trips sharing one cover signature solve sequentially in a
    # single cogroup task, so a hot signature (fleets on repeated routes)
    # becomes a straggler. ``solve_salt`` > 1 sub-splits every signature
    # into that many solver groups (trips spread by stable hash; the shared
    # subgraph duplicates into each sub-group — trading solve_salt× graph
    # builds for solve_salt× solver parallelism on the hot key).
    # Default 1: the fixture workload's 60 sigs / 1,000 trips spread fine.
    if solve_salt > 1:
        # sig is a LONG: sub-key by hashing (sig, salt-slot) — the same
        # value on both sides; a collision only merges solver groups into
        # a superset subgraph (harmless, see trip_cover_sigs_cells)
        pts_sig = pts_sig.withColumn(
            "sig", F.xxhash64("sig",
                              F.pmod(F.hash("trip_id"), F.lit(solve_salt))))
        sub = sub.withColumn(
            "sig", F.explode(F.array(*[
                F.xxhash64("sig", F.lit(i)) for i in range(solve_salt)])))

    def run_cog(pts_pdf: pd.DataFrame, edges_pdf: pd.DataFrame) -> pd.DataFrame:
        return _solve_sig_group(pts_pdf, edges_pdf, opts, output)

    return (
        pts_sig.groupBy("sig")
        .cogroup(sub.groupBy("sig"))
        .applyInPandas(run_cog, schema=schema)
    )


def _solve_sig_group(pts_pdf: pd.DataFrame, edges_pdf: pd.DataFrame,
                     opts: MatchOptions, output: str) -> pd.DataFrame:
    """Solve EVERY trip of one cover-signature group against the group's
    shared padded subgraph: pack + cell-index one local PackedGraph from
    the cogrouped edge rows (endpoint coords ride on the edges, so no
    nodes table is needed), then run the broadcast path's per-trip
    kernels on it. build_packed_graph sorts edges by (edge_id, src, dst),
    so the local rows are a sorted subset of the global ones and candidate
    order — hence every trellis tie-break — agrees with the broadcast
    path. Sharing the graph also shares the predicate cache across the
    group's trips — the per-shard-matcher economics of the reference
    (bin/matcher.rs:48-55)."""
    if len(pts_pdf) == 0:
        # a solve_salt sub-group with no trips: schema-typed empty frame
        return _status_row("", "unanchored", output).iloc[0:0]
    pts_pdf = pts_pdf.sort_values(["trip_id", "seq"], kind="stable")
    tid = pts_pdf["trip_id"].values
    if len(edges_pdf) == 0:
        return pd.concat([_status_row(t, "unanchored", output)
                          for t in pd.unique(tid)], ignore_index=True)

    from routers_spark.graph.packed import build_packed_graph

    nodes_local = pd.DataFrame({
        "node_id": np.concatenate([edges_pdf["src"].values,
                                   edges_pdf["dst"].values]),
        "lon": np.concatenate([edges_pdf["ax"].values, edges_pdf["bx"].values]),
        "lat": np.concatenate([edges_pdf["ay"].values, edges_pdf["by"].values]),
    }).drop_duplicates("node_id")
    g = build_packed_graph(
        nodes_local, edges_pdf[["edge_id", "src", "dst", "weight"]]
    ).build_cell_index()
    return _solve_trips(tid, pts_pdf["seq"].values, pts_pdf["lon"].values,
                        pts_pdf["lat"].values, g, opts, output)
