"""GraphHandle: one broadcast per road-graph content. The digest must cover
every field that affects a match, calls on one graph must share one
Broadcast (and so one worker-resident graph), and a changed graph must
never be served a stale one."""

import numpy as np
import pandas as pd
import pytest

from routers_spark.fixtures.roads import grid_network, walk_trips
from routers_spark.graph.packed import (
    GraphHandle,
    build_packed_graph,
    payload_digest,
)
from routers_spark.matching.matcher import (
    MatchOptions,
    candidates_for_points,
    match_trips,
    solve_trip,
)


def _frames():
    nodes, edges = grid_network(4)
    edges["fwd"] = edges.index % 2 == 0
    edges["access"] = [[] for _ in range(len(edges))]
    edges.at[3, "access"] = [{"mode": "motorcar", "dir": "both",
                              "value": "no"}]
    return nodes, edges


def _digest(nodes, edges) -> str:
    return payload_digest(build_packed_graph(nodes, edges).to_broadcastable())


def test_digest_is_stable_for_the_same_frames():
    nodes, edges = _frames()
    assert _digest(nodes, edges) == _digest(*_frames())
    # row order of the input frames is not content
    shuffled = edges.sample(frac=1.0, random_state=3).reset_index(drop=True)
    assert _digest(nodes.iloc[::-1], shuffled) == _digest(nodes, edges)


def _set(col, row, value):
    def change(nodes, edges):
        frame = nodes if col in ("lon", "lat") else edges
        frame.at[row, col] = value
    return change


def _retag(nodes, edges):
    edges.at[3, "access"] = [{"mode": "motorcar", "dir": "both",
                              "value": "yes"}]


@pytest.mark.parametrize("change", [
    _set("lon", 5, -118.4999),
    _set("lat", 5, 34.0001),
    _set("weight", 7, 3),
    _set("edge_id", 7, 10_000),
    _set("src", 7, 15),
    _set("dst", 7, 15),
    _set("fwd", 7, True),
    _retag,
], ids=["node_lon", "node_lat", "weight", "edge_id", "src", "dst", "fwd",
        "access"])
def test_digest_covers_every_result_field(change):
    nodes, edges = _frames()
    before = _digest(nodes, edges)
    nodes, edges = nodes.copy(), edges.copy()
    change(nodes, edges)
    assert _digest(nodes, edges) != before


def _trips():
    nodes, edges = grid_network(6, lon0=-117.7)
    trips = walk_trips(nodes, edges, n_trips=6, points_per_trip=6, seed=3)
    return nodes, edges, trips


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.select(
        "trip_id", "seq", "edge_id", "trip_cost", "status").collect())


def _reference_rows(nodes, edges, trips) -> list[tuple]:
    """In-process candidates_for_points + solve_trip on the given frames."""
    g = build_packed_graph(nodes, edges).build_cell_index()
    opts = MatchOptions()
    out = []
    for tid, t in trips.groupby("trip_id"):
        t = t.sort_values("seq")
        layers = candidates_for_points(g, t["lon"].values, t["lat"].values,
                                       opts.search_distance,
                                       opts.emission_error)
        r = solve_trip(g, layers, opts)
        assert r["status"] == "matched"
        out += [(tid, int(s), int(g.edge_id[layers[k]["edge_row"][p]]),
                 int(r["cost"]), "matched")
                for k, (s, p) in enumerate(zip(t["seq"], r["path"]))]
    return sorted(out)


def test_match_trips_reuses_one_broadcast(spark, monkeypatch):
    nodes, edges, trips = _trips()
    frames = [(spark.createDataFrame(trips), spark.createDataFrame(nodes),
               spark.createDataFrame(edges)) for _ in range(2)]
    sc = spark.sparkContext
    calls = []
    orig = sc.broadcast

    def counting(value):
        calls.append(value)
        return orig(value)

    monkeypatch.setattr(sc, "broadcast", counting)
    first = _rows(match_trips(*frames[0]))
    second = _rows(match_trips(*frames[1]))
    assert len(calls) == 1
    assert first == second == _reference_rows(nodes, edges, trips)

    a = GraphHandle.build(sc, nodes, edges)
    b = GraphHandle.build(sc, nodes.copy(), edges.copy())
    assert len(calls) == 1 and a.bc is b.bc and a.key == b.key
    # the same hydrated graph (same uid) serves both handles
    assert a.graph() is b.graph()


def test_changed_graph_is_never_served_stale(spark):
    nodes, edges, trips = _trips()
    heavier = edges.copy()
    heavier.loc[heavier["edge_id"] == 28, "weight"] = 9
    want = _reference_rows(nodes, heavier, trips)
    # premise: the weight change moves the match
    assert want != _reference_rows(nodes, edges, trips)

    pts = spark.createDataFrame(trips)
    nodes_df = spark.createDataFrame(nodes)
    _rows(match_trips(pts, nodes_df, spark.createDataFrame(edges)))
    got = _rows(match_trips(pts, nodes_df, spark.createDataFrame(heavier)))
    assert got == want


def test_evicted_broadcast_is_unpersisted_not_destroyed(spark):
    """A registry eviction must leave earlier plans runnable."""
    import routers_spark.graph.packed as packed

    sc = spark.sparkContext
    nodes, edges = grid_network(3, lon0=-117.2)
    first = GraphHandle.build(sc, nodes, edges)
    for k in range(packed._BROADCASTS_CAP):
        e = edges.copy()
        e["weight"] = 2 + k
        GraphHandle.build(sc, nodes, e)
    assert first.key not in packed._BROADCASTS
    got = (spark.range(1).mapInPandas(
        lambda it: (pd.DataFrame({"n": [len(first.graph().edge_id)]})
                    for _ in it), "n long").collect())
    assert got[0]["n"] == len(edges)
    assert np.array_equal(first.bc.value["edge_weight"],
                          np.ones(len(edges), dtype=np.uint32))
