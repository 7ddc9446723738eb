"""Cell-join candidate path ≡ broadcast path: identical candidates and
identical matches (the padding-duplication boundary-correctness proof,
O11/X8)."""

import numpy as np
import pandas as pd
import pytest

from routers_spark.fixtures.roads import grid_network, walk_trips
from routers_spark.matching.matcher import match_trips


@pytest.fixture(scope="module")
def inputs(spark):
    nodes, edges = grid_network(15)
    trips = walk_trips(nodes, edges, n_trips=8, points_per_trip=8, seed=21)
    return (
        spark.createDataFrame(trips),
        spark.createDataFrame(nodes),
        spark.createDataFrame(edges),
    )


def _sorted(df):
    pdf = df.toPandas().sort_values(["trip_id", "seq"]).reset_index(drop=True)
    return pdf


def test_celljoin_matches_broadcast(spark, inputs):
    points_df, nodes_df, edges_df = inputs
    a = _sorted(match_trips(points_df, nodes_df, edges_df,
                            candidate_path="broadcast"))
    b = _sorted(match_trips(points_df, nodes_df, edges_df,
                            candidate_path="celljoin"))
    pd.testing.assert_frame_equal(a, b)


def test_celljoin_with_salt_matches(spark, inputs):
    """Salting the standalone candidate join (hot cells split into
    ``salt`` sub-keys, each point joining one) must not change any
    point's candidate set, nor which points are left unanchored."""
    from routers_spark.shard.partition import candidates_cell_join

    points_df, nodes_df, edges_df = inputs
    key = ["trip_id", "seq", "edge_id", "src", "dst"]
    cols = key + ["frac", "px", "py", "dist_m", "emission"]

    def cands(salt):
        pdf = candidates_cell_join(points_df, nodes_df, edges_df,
                                   salt=salt).toPandas()
        real = pdf[pdf.edge_id >= 0][cols].sort_values(key) \
            .reset_index(drop=True)
        unanchored = (set(zip(pdf.trip_id, pdf.seq))
                      - set(zip(real.trip_id, real.seq)))
        return real, unanchored

    a, a_un = cands(0)
    b, b_un = cands(4)
    assert len(a) > 0
    pd.testing.assert_frame_equal(a, b)
    assert a_un == b_un


def test_celljoin_candidate_sets_match_boxquery(spark, inputs):
    from routers_spark.graph.packed import build_packed_graph
    from routers_spark.matching.matcher import MatchOptions, candidates_for_point
    from routers_spark.shard.partition import candidates_cell_join

    points_df, nodes_df, edges_df = inputs
    cand = candidates_cell_join(points_df, nodes_df, edges_df).toPandas()
    g = build_packed_graph(nodes_df.toPandas(), edges_df.toPandas())
    g.build_cell_index()
    opts = MatchOptions()
    pts = points_df.toPandas()
    for _, r in pts.iterrows():
        local = candidates_for_point(g, r.lon, r.lat, opts.search_distance,
                                     opts.emission_error)
        # the distributed path carries the natural (edge_id, src, dst) key;
        # the packed graph's rows are triple-sorted, so sorting by the
        # triple reproduces the graph's candidate order exactly
        dist = cand[(cand.trip_id == r.trip_id) & (cand.seq == r.seq)
                    & (cand.edge_id >= 0)].sort_values(
                        ["edge_id", "src", "dst"])
        rows = np.asarray(local["edge_row"], dtype=np.int64)
        exp = list(zip(g.edge_id[rows],
                       g.node_ids[g.edge_src[rows]],
                       g.node_ids[g.edge_dst[rows]]))
        got = list(zip(dist["edge_id"], dist["src"], dist["dst"]))
        assert got == exp, (r.trip_id, r.seq)
        if len(dist):
            np.testing.assert_allclose(dist["px"].values, local["px"], atol=1e-12)
            np.testing.assert_array_equal(dist["emission"].values,
                                          local["emission"].astype(np.int64))


def test_celljoin_never_collects_graph(spark, inputs, monkeypatch):
    """The celljoin path's stated purpose is graphs too big to broadcast:
    no driver-side materialization of ANY kind may happen in its plan
    construction or execution — no toPandas, no collect, and no
    approxQuantile/summary jobs (the pre-r5 global dense rank ran an
    approxQuantile pass + a counts collect over the FULL edge table per
    query; the rankless rewrite must never regress to that)."""
    from pyspark.sql import DataFrame as SparkDF

    points_df, nodes_df, edges_df = inputs

    def guard_name(name):
        def guard(self, *a, **k):
            raise AssertionError(f"driver-side {name} in celljoin path")
        return guard

    monkeypatch.setattr(SparkDF, "toPandas", guard_name("toPandas"))
    monkeypatch.setattr(SparkDF, "collect", guard_name("collect"))
    monkeypatch.setattr(SparkDF, "approxQuantile", guard_name("approxQuantile"))
    out = match_trips(points_df, nodes_df, edges_df, candidate_path="celljoin")
    assert out.count() > 0  # executes end-to-end with zero driver jobs


def test_celljoin_plan_has_no_global_window(spark, inputs):
    """Scale guard (round-2 verdict #2): the canonical edge_row rank must
    never funnel the edge table through a single-partition Window — the
    celljoin physical plan must contain NO Window node at all (the dense
    rank is bucket-shuffled + offset-added instead)."""
    points_df, nodes_df, edges_df = inputs
    out = match_trips(points_df, nodes_df, edges_df, candidate_path="celljoin")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, "global Window crept back into celljoin plan"


def test_edges_with_rows_dense_rank(spark, inputs):
    """edges_with_rows == row_number over (edge_id, src, dst) minus one —
    the exact contract build_packed_graph's sort relies on — computed
    WITHOUT a global window."""
    from routers_spark.shard.partition import edges_with_rows

    _, _, edges_df = inputs
    out = (edges_with_rows(edges_df).toPandas()
           .sort_values(["edge_id", "src", "dst"]).reset_index(drop=True))
    np.testing.assert_array_equal(out["edge_row"].values,
                                  np.arange(len(out)))


@pytest.mark.slow
def test_celljoin_graph_churn_id_reuse(spark):
    """Regression: per-trip subgraphs are created and freed by the hundreds
    inside one worker; caches keyed by id(graph) served a DEAD graph's
    adjacency to its id-successor (IndexError at sf0.1 — or silently wrong
    transitions when sizes lined up). Caches now key by graph.uid / attach
    to the graph object. 300 trips through the celljoin path must match
    the broadcast path exactly."""
    from routers_spark.fixtures.roads import grid_network, walk_trips
    from routers_spark.matching.matcher import match_trips

    nodes, edges = grid_network(30)
    trips = walk_trips(nodes, edges, n_trips=300, points_per_trip=10, seed=9)
    points = spark.createDataFrame(trips)
    nodes_df = spark.createDataFrame(nodes)
    edges_df = spark.createDataFrame(edges)
    cj = match_trips(points, nodes_df, edges_df,
                     candidate_path="celljoin").toPandas()
    bc = match_trips(points, nodes_df, edges_df).toPandas()
    key = ["trip_id", "seq"]
    cj = cj.sort_values(key).reset_index(drop=True)
    bc = bc.sort_values(key).reset_index(drop=True)
    assert (cj["edge_id"].values == bc["edge_id"].values).all()
    assert (cj["status"].values == bc["status"].values).all()


def test_sig_subgraphs_equal_per_trip_subgraphs(spark):
    """The shared per-signature subgraph must admit exactly the edges the
    per-trip form admits, for every trip (they apply the same P4/P5 rule —
    sharing is pure dedup, never a semantic change)."""
    from routers_spark.fixtures.roads import grid_network, walk_trips
    from routers_spark.shard.partition import (
        sig_subgraph_edges,
        trip_cover_sigs,
        trip_subgraph_edges,
    )

    nodes, edges = grid_network(15)
    trips = walk_trips(nodes, edges, n_trips=40, points_per_trip=8, seed=4)
    points = spark.createDataFrame(trips)
    nodes_df = spark.createDataFrame(nodes)
    edges_df = spark.createDataFrame(edges)
    pad = 500.0
    per_trip = trip_subgraph_edges(points, nodes_df, edges_df, pad_m=pad) \
        .select("trip_id", "edge_id", "src", "dst").toPandas()
    sigs = trip_cover_sigs(points).toPandas()
    per_sig = sig_subgraph_edges(points, nodes_df, edges_df, pad_m=pad) \
        .select("sig", "edge_id", "src", "dst").toPandas()

    def key_sets(pdf, by):
        pdf = pdf.assign(k=list(zip(pdf.edge_id, pdf.src, pdf.dst)))
        return pdf.groupby(by)["k"].apply(set).to_dict()

    sig_edges = key_sets(per_sig, "sig")
    trip_edges = key_sets(per_trip, "trip_id")
    for _, r in sigs.iterrows():
        assert trip_edges.get(r["trip_id"], set()) == \
            sig_edges.get(r["sig"], set()), r["trip_id"]


def test_celljoin_solve_salt_matches(spark, inputs):
    """The hot-signature sub-split (solve_salt) must not change results:
    every sub-group rebuilds the identical shared subgraph, so salted ≡
    unsalted ≡ broadcast."""
    points_df, nodes_df, edges_df = inputs
    a = _sorted(match_trips(points_df, nodes_df, edges_df))
    b = _sorted(match_trips(points_df, nodes_df, edges_df,
                            candidate_path="celljoin", solve_salt=3))
    pd.testing.assert_frame_equal(a, b)


def test_celljoin_near_miss_unanchored_parity(spark):
    """Round-4 verdict #1 regression: a point whose cell-joined edges ALL
    fail the bbox refine (same 0.002-deg cell, outside the 50 m box) must
    surface as an EMPTY candidate layer, so the all-or-nothing contract
    (matcher/entity.rs:143-193) rejects the whole trip on the celljoin
    path exactly as on broadcast — not silently solve the shortened trip."""
    nodes = pd.DataFrame({"node_id": [1, 2],
                          "lon": [-118.500, -118.499],
                          "lat": [33.0, 33.0]})
    edges = pd.DataFrame({"edge_id": [10], "src": [1], "dst": [2],
                          "weight": [9300]})
    # point 0 is on the edge; point 1 is ~100 m north — inside the same
    # coarse cell (so the cell join pairs it) but outside the 50 m square
    pts = pd.DataFrame({"trip_id": ["t", "t"], "seq": [0, 1],
                        "lon": [-118.4995, -118.4995],
                        "lat": [33.00001, 33.0009]})
    points_df = spark.createDataFrame(pts)
    nodes_df = spark.createDataFrame(nodes)
    edges_df = spark.createDataFrame(edges)
    a = match_trips(points_df, nodes_df, edges_df,
                    candidate_path="broadcast").toPandas()
    b = match_trips(points_df, nodes_df, edges_df,
                    candidate_path="celljoin").toPandas()
    assert list(a["status"]) == ["unanchored"]
    assert list(b["status"]) == ["unanchored"]
    pd.testing.assert_frame_equal(_sorted(spark.createDataFrame(a)),
                                  _sorted(spark.createDataFrame(b)))


def test_celljoin_outlier_property_sweep(spark):
    """Round-5 robustness sweep (verdict Next #5): 100 random trips over a
    sparse grid, a third of them carrying injected GPS outliers (points
    moved to cell centres ~90-110 m from any edge — near-miss refine
    drops), plus trips fully off-network. Broadcast and celljoin must
    agree row-for-row INCLUDING statuses."""
    nodes, edges = grid_network(12)
    trips = walk_trips(nodes, edges, n_trips=100, points_per_trip=8,
                       seed=505)
    rng = np.random.default_rng(77)
    # outliers: push one point per selected trip to a grid-cell centre
    # (0.001 deg diagonal offset = ~92-111 m from every edge, > 50 m box,
    # same/adjacent coarse cell -> exercises the refine-drop path)
    tids = trips["trip_id"].unique()
    for t in rng.choice(tids, size=33, replace=False):
        rows = np.flatnonzero((trips["trip_id"] == t).values)
        r = rows[rng.integers(0, len(rows))]
        trips.loc[r, "lon"] = round(
            (trips.loc[r, "lon"] + 118.5) / 0.002) * 0.002 - 118.5 + 0.001
        trips.loc[r, "lat"] = round(
            (trips.loc[r, "lat"] - 33.7) / 0.002) * 0.002 + 33.7 + 0.001
    # two trips fully off-network (~1 km east of the grid)
    off = trips[trips["trip_id"].isin(tids[:2])].copy()
    off["trip_id"] = off["trip_id"] + "_off"
    off["lon"] = off["lon"] + 0.05
    trips = pd.concat([trips, off], ignore_index=True)

    points_df = spark.createDataFrame(trips)
    nodes_df = spark.createDataFrame(nodes)
    edges_df = spark.createDataFrame(edges)
    a = _sorted(match_trips(points_df, nodes_df, edges_df,
                            candidate_path="broadcast"))
    b = _sorted(match_trips(points_df, nodes_df, edges_df,
                            candidate_path="celljoin"))
    # the sweep must actually exercise every status class
    assert (a["status"] == "unanchored").any()
    assert (a["status"] == "matched").any()
    pd.testing.assert_frame_equal(a, b)


def test_celljoin_high_latitude_parity_sweep(spark):
    """High-latitude variant of the sweep (verdict Next #5): at lat 64 a
    degree of longitude is ~49 km (cos-lat 0.44), so the equirectangular
    pad in sig_subgraph_edges (matcher.py, cos-lat from edge endpoints)
    and the square-box refine both run far from their small-angle comfort
    zone. 40 trips with injected near-miss outliers; broadcast ≡ celljoin
    row-for-row including statuses."""
    nodes, edges = grid_network(10, lat0=64.0, lon0=17.0)
    trips = walk_trips(nodes, edges, n_trips=40, points_per_trip=8,
                       seed=909)
    rng = np.random.default_rng(11)
    tids = trips["trip_id"].unique()
    for t in rng.choice(tids, size=13, replace=False):
        rows = np.flatnonzero((trips["trip_id"] == t).values)
        r = rows[rng.integers(0, len(rows))]
        # push the point to a cell centre: at lat 64 the lon offset is
        # only ~49 m east but the lat offset keeps it >50 m from the
        # lattice -> near-miss refine drop, same coarse cell
        trips.loc[r, "lon"] = round(
            (trips.loc[r, "lon"] - 17.0) / 0.002) * 0.002 + 17.0 + 0.001
        trips.loc[r, "lat"] = round(
            (trips.loc[r, "lat"] - 64.0) / 0.002) * 0.002 + 64.0 + 0.001
    points_df = spark.createDataFrame(trips)
    nodes_df = spark.createDataFrame(nodes)
    edges_df = spark.createDataFrame(edges)
    a = _sorted(match_trips(points_df, nodes_df, edges_df,
                            candidate_path="broadcast"))
    b = _sorted(match_trips(points_df, nodes_df, edges_df,
                            candidate_path="celljoin"))
    assert (a["status"] == "matched").any()
    pd.testing.assert_frame_equal(a, b)


def _parity_inputs(spark, duplicate_edges: bool):
    """A grid walk with near-miss outliers (points pushed ~90-110 m off
    every edge) and, optionally, full-row duplicates of a third of the
    edge rows: the global graph keeps the duplicates while the celljoin
    subgraph dedups them per (edge_id, src, dst)."""
    nodes, edges = grid_network(12)
    trips = walk_trips(nodes, edges, n_trips=40, points_per_trip=8, seed=31)
    rng = np.random.default_rng(5)
    for t in rng.choice(trips["trip_id"].unique(), size=12, replace=False):
        rows = np.flatnonzero((trips["trip_id"] == t).values)
        r = rows[rng.integers(0, len(rows))]
        trips.loc[r, "lon"] = round(
            (trips.loc[r, "lon"] + 118.5) / 0.002) * 0.002 - 118.5 + 0.001
        trips.loc[r, "lat"] = round(
            (trips.loc[r, "lat"] - 33.7) / 0.002) * 0.002 + 33.7 + 0.001
    if duplicate_edges:
        dup = edges.iloc[rng.choice(len(edges), size=len(edges) // 3,
                                    replace=False)]
        edges = pd.concat([edges, dup], ignore_index=True) \
            .sample(frac=1.0, random_state=3).reset_index(drop=True)
    return (spark.createDataFrame(trips), spark.createDataFrame(nodes),
            spark.createDataFrame(edges))


@pytest.mark.parametrize("case", ["duplicate_edges", "drop_unanchored",
                                  "interpolated"])
def test_celljoin_parity_cases(spark, case):
    """Broadcast ≡ celljoin row for row on inputs the other parity tests
    leave out: duplicate edge rows, streaming-style drop_unanchored, and
    the interpolated RoutedPath output. The comparison runs twice in one
    session (fresh plans, warm workers and predicate caches) so a result
    that depends on worker state or group scheduling shows up."""
    from routers_spark.matching.matcher import MatchOptions

    points_df, nodes_df, edges_df = _parity_inputs(
        spark, duplicate_edges=case == "duplicate_edges")
    opts = MatchOptions(drop_unanchored=case == "drop_unanchored")
    output = "interpolated" if case == "interpolated" else "discretized"
    order = ["trip_id", "elem" if output == "interpolated" else "seq"]
    for _ in range(2):
        a, b = (
            match_trips(points_df, nodes_df, edges_df, opts=opts,
                        output=output, candidate_path=path).toPandas()
            .sort_values(order).reset_index(drop=True)
            for path in ("broadcast", "celljoin"))
        assert (a["status"] == "matched").sum() > 20
        if case == "drop_unanchored":
            assert (a["status"] != "unanchored").all()
        else:
            assert (a["status"] == "unanchored").any()
        pd.testing.assert_frame_equal(a, b)
