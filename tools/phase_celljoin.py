"""Phase isolation for the celljoin matcher: time each stage of the
celljoin lineage separately with the noop sink on the bench fixture.

The match lineage is: cover signatures (``trip_cover_sigs_cells``), the
per-signature padded subgraph (``sig_subgraph_edges``), then ONE cogroup of
the signature-keyed points with the subgraph that generates candidates and
solves inside each group. ``candidates_cell_join`` is timed as well, but as
the standalone candidate generator: it is not part of the match.

Usage: python tools/phase_celljoin.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from routers_spark.session import get_spark  # noqa: E402


def t(spark, label, df):
    spark.sparkContext.setJobDescription(label)
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    print(f"{dt:7.2f}s  {label}", flush=True)
    spark.sparkContext.setJobDescription(None)
    return dt


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(f"local[{cpus}]", app_name="phase_celljoin",
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    from routers_spark import queries as Q
    from routers_spark.config import (
        DEFAULT_EMISSION_ERROR_M,
        DEFAULT_SEARCH_DISTANCE_M,
        DIJKSTRA_BOUND_CM,
    )
    from routers_spark.matching.matcher import match_trips
    from routers_spark.shard.partition import (
        candidates_cell_join,
        sig_subgraph_edges,
        trip_cover_sigs,
    )

    # warm JVM + python workers
    Q.register_views(spark, sf_dir)
    spark.sql("SELECT COUNT(*) FROM events").collect()
    points, nodes, edges = Q._fixture_match_inputs(spark, sf_dir)
    t(spark, "warm/points", points)

    pad_m = DIJKSTRA_BOUND_CM / 100.0 + DEFAULT_SEARCH_DISTANCE_M * 1.5 + 50.0
    for rep in (1, 2):
        print(f"--- rep {rep}")
        t(spark, "sigs (trip_cover_sigs)", trip_cover_sigs(points))
        t(spark, "sub (sig_subgraph_edges)",
          sig_subgraph_edges(points, nodes, edges, pad_m=pad_m))
        t(spark, "pts_sig join (cogroup point side)",
          points.join(trip_cover_sigs(points), "trip_id"))
        t(spark, "standalone cand (candidates_cell_join, not in match)",
          candidates_cell_join(
              points, nodes, edges, search_m=DEFAULT_SEARCH_DISTANCE_M,
              emission_error=DEFAULT_EMISSION_ERROR_M))
        t(spark, "FULL match_trips celljoin",
          match_trips(points, nodes, edges, candidate_path="celljoin"))
        t(spark, "FULL match_trips broadcast",
          match_trips(points, nodes, edges, candidate_path="broadcast"))
    spark.stop()


if __name__ == "__main__":
    main()
