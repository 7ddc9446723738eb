"""The traced run's per-layer measurements.

Every traced run measures every layer, on the workload's own inputs:
Spark-side layers as phases (each public DataFrame function materialized to
``noop`` on its own), Python kernel layers in-process over a seeded sample,
with the public functions wrapped by ``Tracer`` for that sample only. A
layer the workload's pass does not call is still measured on the same
inputs and flagged ``in_pass: false`` in the record, so its figure says what
that layer would cost here, not what the pass spent in it.

``LAYER_METRICS`` names each metric, its unit and better-direction, and the
end-to-end metric it should move on the workload where the layer is large.
"""

from __future__ import annotations

import pickle

import numpy as np
import pandas as pd

from perfbench import workloads as W

S, MB, N, R = "s", "MB", "count", "ratio"
_BESIDE = "none: no kept workload's pass calls it (measured beside the pass)"
# name -> (unit, better, moves: end-to-end metric @ workload where it is large)
LAYER_METRICS = {
    "session.start_s": (S, "lower", "setup_s @ all"),
    "graph.pack_s": (S, "lower", "first_pass_s @ match_hot, match_celljoin (small)"),
    "graph.broadcast_mb": (MB, "lower", "peak_rss_mb, first_pass_s @ match_hot (small)"),
    "graph.hydrate_s": (S, "lower", "first_pass_s @ match_hot (small)"),
    "graph.dijkstra_calls": (N, "lower", "rows_per_s @ match_celljoin, match_hot"),
    "graph.dijkstra_s": (S, "lower", "rows_per_s @ match_celljoin, match_hot"),
    "graph.cache_hit_ratio": (R, "higher", "rows_per_s @ match_hot (high), match_celljoin (low)"),
    "matching.candidates_s": (S, "lower", "rows_per_s @ match_hot"),
    "matching.candidates_per_point": (N, "lower", "rows_per_s @ match_hot"),
    "matching.weigh_s": (S, "lower", "rows_per_s @ match_hot"),
    "matching.viterbi_s": (S, "lower", "rows_per_s @ match_hot"),
    "matching.solve_trip_s": (S, "lower", "rows_per_s @ match_hot"),
    "matching.trips.matched": (N, "higher", "correctness guard; must not move"),
    "shard.edge_coords_s": (S, "lower", "rows_per_s, first_pass_s @ match_celljoin"),
    "shard.cover_sigs_s": (S, "lower", "rows_per_s, first_pass_s @ match_celljoin"),
    "shard.candidates_s": (S, "lower", "rows_per_s, first_pass_s @ match_celljoin"),
    "shard.subgraph_s": (S, "lower", "rows_per_s, first_pass_s @ match_celljoin"),
    "shard.candidate_rows": (N, "lower", "spark.shuffle_write_mb -> rows_per_s @ match_celljoin"),
    "shard.subgraph_edges_per_trip": (N, "lower", "spark.shuffle_write_mb -> rows_per_s @ match_celljoin"),
    "shard.signatures": (N, "lower", "spark.shuffle_write_mb -> rows_per_s @ match_celljoin"),
    "spark.python_boot_s": (S, "lower", "first_pass_s @ match_hot, match_celljoin"),
    "spark.python_init_s": (S, "lower", "first_pass_s, rows_per_s @ match_celljoin, match_hot"),
    "spark.python_run_s": (S, "lower", "rows_per_s @ match_hot, match_celljoin"),
    "spark.python_sent_mb": (MB, "lower", "rows_per_s @ match_celljoin"),
    "spark.python_returned_mb": (MB, "lower", "rows_per_s @ match_celljoin"),
    "spark.shuffle_write_mb": (MB, "lower", "rows_per_s, peak_rss_mb @ match_celljoin"),
    "spark.tasks": (N, "lower", "rows_per_s @ match_celljoin"),
    "spark.python_task_skew": (R, "lower", "rows_per_s @ match_celljoin"),
    "functions.decode_s.png": (S, "lower", _BESIDE),
    "functions.decode_s.jpeg": (S, "lower", _BESIDE),
    "functions.pyramid_s": (S, "lower", _BESIDE),
    "functions.png_encode_s": (S, "lower", _BESIDE),
    "tiling.raster_pyramid_s": (S, "lower", _BESIDE),
    "tiling.tile_columns_s": (S, "lower", _BESIDE),
    "zones.assign_s": (S, "lower", _BESIDE),
    "io.write_snapshot_s": (S, "lower", _BESIDE),
    "io.read_snapshot_s": (S, "lower", _BESIDE),
    "io.bytes_written_mb": (MB, "lower", _BESIDE),
    "trace.overhead_s": (S, "lower", "none: traced pass minus the untraced median"),
}

# metric-name prefixes of the layers each workload's own pass calls (the
# rest are measured beside it); celljoin packs one graph per cover signature
# but broadcasts and hydrates none
IN_PASS = {
    "match_hot": ("session", "graph", "matching", "spark", "trace"),
    "match_celljoin": ("session", "graph.pack", "graph.dijkstra",
                       "graph.cache", "matching", "shard", "spark", "trace"),
}

SAMPLE_IMAGES = 48
# the self-timed spans of kernel_sample's matcher kernels
KERNEL_SPANS = ("matching.candidates", "matching.weigh", "graph.dijkstra",
                "matching.viterbi", "matching.solve_trip")


def sweep_inputs(spark, frames: dict, inputs: W.Inputs, seed: int) -> dict:
    """Pandas and Spark inputs every layer can take: the workload's trips
    and road grid, a small seeded image corpus and seeded zones over the
    trips."""
    pdfs = dict(inputs.frames)
    images = generate_sample_images(seed)
    sdf = dict(frames)
    sdf["images"] = spark.createDataFrame(images)
    p = pdfs["points"]
    zones = W.seeded_zones(p["lon"].min(), p["lat"].min(), p["lon"].max(),
                           p["lat"].max(), seed)
    return {"pdfs": pdfs, "images": images, "zones": zones, "sdf": sdf}


def generate_sample_images(seed: int) -> pd.DataFrame:
    from routers_spark.fixtures.images import generate_images

    return generate_images(SAMPLE_IMAGES, seed=seed, grid_n=W.SAMPLE_GRID)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def spark_phases(spark, tracer, sw: dict, root: str) -> dict:
    """Each layer's public DataFrame function materialized on its own.
    Returns the shard row counts."""
    from pyspark.sql import functions as F

    from routers_spark.config import (
        DEFAULT_EMISSION_ERROR_M,
        DEFAULT_SEARCH_DISTANCE_M,
        DIJKSTRA_BOUND_CM,
    )
    from routers_spark.io.checkpoint import read_snapshot, write_snapshot
    from routers_spark.shard.partition import (
        admitted_edge_coords,
        candidates_cell_join,
        sig_subgraph_edges,
        trip_cover_sigs_cells,
    )
    from routers_spark.tiling.pipeline import raster_pyramid, with_tile_columns
    from routers_spark.zones.pip import assign_zones

    d = sw["sdf"]
    points, nodes, edges = d["points"], d["nodes"], d["edges"]
    # the pad match_trips(candidate_path="celljoin") uses
    pad_m = DIJKSTRA_BOUND_CM / 100.0 + DEFAULT_SEARCH_DISTANCE_M * 1.5 + 50.0

    phases = [
        ("shard.edge_coords", admitted_edge_coords(
            edges.select("edge_id", "src", "dst", "weight"), nodes, points,
            pad_m=pad_m, cell_deg=0.02)),
        ("shard.cover_sigs", trip_cover_sigs_cells(points)),
        ("shard.candidates", candidates_cell_join(
            points, nodes, edges, search_m=DEFAULT_SEARCH_DISTANCE_M,
            emission_error=DEFAULT_EMISSION_ERROR_M)),
        ("shard.subgraph", sig_subgraph_edges(points, nodes, edges,
                                              pad_m=pad_m)),
        ("tiling.raster_pyramid", raster_pyramid(
            d["images"], base_zoom=W.BASE_ZOOM, levels=W.PYRAMID_LEVELS)),
        ("tiling.tile_columns", with_tile_columns(
            points.select("trip_id", "seq", "lon", "lat"), zoom=W.TILE_ZOOM)),
        ("zones.assign", assign_zones(points.select("trip_id", "seq", "lon",
                                                    "lat"), sw["zones"])),
    ]
    frames = {}
    for name, df in phases:
        spark.sparkContext.setJobDescription(name)
        with tracer.span(name):
            _noop(df)
        frames[name] = df

    spark.sparkContext.setJobDescription("io.write_snapshot")
    with tracer.span("io.write_snapshot"):
        write_snapshot(points, root, "sweep")
    spark.sparkContext.setJobDescription("io.read_snapshot")
    with tracer.span("io.read_snapshot"):
        _noop(read_snapshot(spark, root, "sweep"))

    spark.sparkContext.setJobDescription("shard counts")
    sigs, sub = frames["shard.cover_sigs"], frames["shard.subgraph"]
    per_sig = sub.groupBy("sig").agg(F.count(F.lit(1)).alias("e"))
    trips = sigs.groupBy("sig").agg(F.count(F.lit(1)).alias("t"))
    r = (trips.join(per_sig, "sig")
         .agg(F.sum(F.col("t") * F.col("e")).alias("te"),
              F.sum("t").alias("t")).collect()[0])
    counts = {
        "shard.candidate_rows": frames["shard.candidates"].count(),
        "shard.signatures": sigs.select("sig").distinct().count(),
        "shard.subgraph_edges_per_trip": (r["te"] / r["t"]) if r["t"] else 0.0,
    }
    spark.sparkContext.setJobDescription(None)
    return counts


def kernel_sample(tracer, sw: dict, seed: int, n_workers: int) -> dict:
    """Graph and matcher kernels in-process over a seeded trip sample the
    size of one worker's share of the trips (so the predicate cache sees
    what one worker's cache sees), and the image codecs over the image
    sample. Returns per-sample counts."""
    import routers_spark.graph.dijkstra as dijkstra
    import routers_spark.matching.matcher as matcher
    from routers_spark.functions.raster import decode_image, png_encode, pyramid
    from routers_spark.graph.packed import PackedGraph, build_packed_graph
    from routers_spark.matching.trellis import Trellis

    pdfs = sw["pdfs"]
    with tracer.span("graph.pack"):
        g = build_packed_graph(pdfs["nodes"], pdfs["edges"])
    blob = pickle.dumps(g.to_broadcastable(), protocol=pickle.HIGHEST_PROTOCOL)
    with tracer.span("graph.hydrate"):
        graph = PackedGraph.from_broadcastable(
            pickle.loads(blob)).build_cell_index()

    points = pdfs["points"]
    n_trips = points["trip_id"].nunique()
    sample = W.sample_ids(points["trip_id"], seed + 1,
                          max(1, n_trips // n_workers))
    opts = matcher.MatchOptions()
    n_points = n_cands = 0
    statuses = dict.fromkeys(W.STATUSES, 0)
    tracer.wrap(dijkstra, "bounded_dijkstra_parents", "graph.dijkstra")
    tracer.wrap(dijkstra.PredicateCache, "query", "graph.cache_query",
                timed=False)
    tracer.wrap(matcher, "weigh_boundaries", "matching.weigh")
    tracer.wrap(Trellis, "solve", "matching.viterbi")
    try:
        by_trip = dict(tuple(points[points["trip_id"].isin(sample)]
                             .groupby("trip_id")))
        for tid in sample:
            t = by_trip[tid].sort_values("seq")
            with tracer.span("matching.candidates"):
                layers = matcher.candidates_for_points(
                    graph, t["lon"].values, t["lat"].values,
                    opts.search_distance, opts.emission_error)
            n_points += len(layers)
            n_cands += sum(len(l["edge_row"]) for l in layers)
            with tracer.span("matching.solve_trip"):
                res = matcher.solve_trip(graph, layers, opts)
            statuses[res["status"]] += 1
    finally:
        tracer.restore()

    images = sw["images"]
    for i in W.sample_ids(np.arange(len(images)), seed + 2, 24):
        r = images.iloc[int(i)]
        with tracer.span(f"functions.decode.{r['fmt']}"):
            arr = decode_image(bytes(r["bytes"]), r["fmt"])
        with tracer.span("functions.pyramid"):
            levels = pyramid(arr, W.PYRAMID_LEVELS)
        for img in levels:
            with tracer.span("functions.png_encode"):
                png_encode(img)
    return {"broadcast_bytes": len(blob), "trips": len(sample),
            "points": n_points, "candidates": n_cands, "statuses": statuses}


def per_layer_metrics(tracer, counts: dict, shard_counts: dict,
                      statuses: dict | None, session_s: float,
                      spark_metrics: dict, overhead_s: float) -> dict:
    """Fold spans, counters and Spark metrics into ``LAYER_METRICS`` names;
    a value that could not be measured is ``None``."""
    tot = tracer.totals()
    own = tracer.self_times()
    calls = tracer.counts
    dijkstra_calls = calls.get("graph.dijkstra.calls", 0)
    queries = calls.get("graph.cache_query.calls", 0)
    out = {
        "session.start_s": session_s,
        "graph.pack_s": tot.get("graph.pack"),
        "graph.broadcast_mb": counts["broadcast_bytes"] / 2**20,
        "graph.hydrate_s": tot.get("graph.hydrate"),
        "graph.dijkstra_calls": float(dijkstra_calls),
        "graph.dijkstra_s": tot.get("graph.dijkstra", 0.0),
        "graph.cache_hit_ratio": (1.0 - dijkstra_calls / queries
                                  if queries else None),
        "matching.candidates_s": tot.get("matching.candidates"),
        "matching.candidates_per_point": (counts["candidates"]
                                          / counts["points"]
                                          if counts["points"] else None),
        "matching.weigh_s": own.get("matching.weigh"),
        "matching.viterbi_s": tot.get("matching.viterbi"),
        "matching.solve_trip_s": own.get("matching.solve_trip"),
        "matching.trips.matched": (float(statuses["matched"])
                                   if statuses else None),
        "shard.edge_coords_s": tot.get("shard.edge_coords"),
        "shard.cover_sigs_s": tot.get("shard.cover_sigs"),
        "shard.candidates_s": tot.get("shard.candidates"),
        "shard.subgraph_s": tot.get("shard.subgraph"),
        **{k: float(v) for k, v in shard_counts.items()},
        **{k: v for k, v in spark_metrics.items() if k in LAYER_METRICS},
        "functions.decode_s.png": tot.get("functions.decode.png"),
        "functions.decode_s.jpeg": tot.get("functions.decode.jpeg"),
        "functions.pyramid_s": tot.get("functions.pyramid"),
        "functions.png_encode_s": tot.get("functions.png_encode"),
        "tiling.raster_pyramid_s": tot.get("tiling.raster_pyramid"),
        "tiling.tile_columns_s": tot.get("tiling.tile_columns"),
        "zones.assign_s": tot.get("zones.assign"),
        "io.write_snapshot_s": tot.get("io.write_snapshot"),
        "io.read_snapshot_s": tot.get("io.read_snapshot"),
        "io.bytes_written_mb": counts["snapshot_bytes"] / 2**20,
        "trace.overhead_s": overhead_s,
    }
    missing = set(LAYER_METRICS) ^ set(out)
    if missing:
        raise KeyError(f"per-layer metrics out of sync: {sorted(missing)}")
    return out
