"""Geometry kernel tests: haversine/bearing known values, angle wrapping
(map_path/entity.rs:93-115 semantics), planar line-locate + haversine
interpolation (scan.rs:22-44), square box (discovery.rs:91-96), and the
vectorized ray-cast PIP vs a brute-force scalar oracle."""

import math

import numpy as np

from routers_spark.functions import geo


def test_haversine_known():
    # SF → LA ≈ 559 km
    d = geo.haversine_m_np([-122.4194], [37.7749], [-118.2437], [34.0522])
    assert abs(d[0] - 559_000) < 2_000
    assert geo.haversine_m_np([10.0], [50.0], [10.0], [50.0])[0] == 0.0


def test_bearing_cardinals():
    b_n = geo.bearing_deg_np([0.0], [0.0], [0.0], [1.0])[0]
    b_e = geo.bearing_deg_np([0.0], [0.0], [1.0], [0.0])[0]
    b_s = geo.bearing_deg_np([0.0], [1.0], [0.0], [0.0])[0]
    b_w = geo.bearing_deg_np([0.0], [0.0], [-1.0], [0.0])[0]
    assert abs(b_n - 0.0) < 1e-9
    assert abs(b_e - 90.0) < 1e-9
    assert abs(b_s - 180.0) < 1e-9
    assert abs(b_w - 270.0) < 1e-9


def test_wrap_angle_reference_semantics():
    # (curr - prev).rem(360) then shift to (-180, 180]
    # — map_path/entity.rs:97-115 (note: delta <= -180 wraps UP)
    assert geo.wrap_angle_np([190.0])[0] == -170.0
    assert geo.wrap_angle_np([-190.0])[0] == 170.0
    assert geo.wrap_angle_np([180.0])[0] == 180.0
    assert geo.wrap_angle_np([-180.0])[0] == 180.0
    assert geo.wrap_angle_np([540.0])[0] == 180.0
    assert geo.wrap_angle_np([0.0])[0] == 0.0


def test_line_locate_point_planar():
    # planar in degree space, clamped to [0, 1]
    t = geo.line_locate_point_np([0.0], [0.0], [10.0], [0.0], [2.5], [3.0])
    assert abs(t[0] - 0.25) < 1e-12
    t = geo.line_locate_point_np([0.0], [0.0], [10.0], [0.0], [-5.0], [0.0])
    assert t[0] == 0.0
    t = geo.line_locate_point_np([0.0], [0.0], [10.0], [0.0], [15.0], [0.0])
    assert t[0] == 1.0
    # degenerate segment → NaN (geo returns None)
    t = geo.line_locate_point_np([1.0], [1.0], [1.0], [1.0], [0.0], [0.0])
    assert np.isnan(t[0])


def test_point_at_ratio_endpoints_and_midpoint():
    lon, lat = geo.point_at_ratio_np([0.0], [0.0], [10.0], [0.0], [0.0])
    assert abs(lon[0]) < 1e-12 and abs(lat[0]) < 1e-12
    lon, lat = geo.point_at_ratio_np([0.0], [0.0], [10.0], [0.0], [1.0])
    assert abs(lon[0] - 10.0) < 1e-9
    lon, lat = geo.point_at_ratio_np([0.0], [0.0], [10.0], [0.0], [0.5])
    assert abs(lon[0] - 5.0) < 1e-9  # equator great circle is the equator
    # coincident endpoints
    lon, lat = geo.point_at_ratio_np([3.0], [4.0], [3.0], [4.0], [0.7])
    assert abs(lon[0] - 3.0) < 1e-9 and abs(lat[0] - 4.0) < 1e-9


def test_atan2_np_is_libm_elementwise():
    """atan2_np equals math.atan2 element by element, for contiguous and
    strided inputs alike, so a matched longitude does not depend on which
    numpy kernel (SIMD or scalar fallback) a buffer layout selects."""
    rng = np.random.default_rng(7)
    y, x = rng.normal(size=(2, 500))
    want = [math.atan2(a, b) for a, b in zip(y, x)]
    assert geo.atan2_np(y, x).tolist() == want
    v = np.stack([x, y], axis=-1)  # the strided views point_at_ratio_np passes
    assert geo.atan2_np(v[:, 1], v[:, 0]).tolist() == want


def test_square_box_contains_radius():
    # the square box circumscribes the radius circle along the axes
    min_lon, min_lat, max_lon, max_lat = geo.square_box_np([10.0], [45.0], 50.0)
    assert min_lon[0] < 10.0 < max_lon[0]
    assert min_lat[0] < 45.0 < max_lat[0]
    # box half-diagonal is 50 m → half-side ≈ 50/sqrt(2) ≈ 35.36 m
    north = geo.haversine_m_np([10.0], [45.0], [10.0], max_lat)[0]
    assert abs(north - 50.0 / np.sqrt(2.0)) < 0.5


def test_destination_roundtrip():
    lon2, lat2 = geo.destination_np([10.0], [45.0], [60.0], [5000.0])
    d = geo.haversine_m_np([10.0], [45.0], lon2, lat2)
    assert abs(d[0] - 5000.0) < 1.0
    b = geo.bearing_deg_np([10.0], [45.0], lon2, lat2)
    assert abs(b[0] - 60.0) < 0.1


def _pip_scalar(px, py, xs, ys):
    inside = False
    n = len(xs)
    for i in range(n):
        x1, y1 = xs[i], ys[i]
        x2, y2 = xs[(i + 1) % n], ys[(i + 1) % n]
        if (y1 > py) != (y2 > py):
            x_int = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
            if px < x_int:
                inside = not inside
    return inside


def test_pip_matches_scalar_oracle():
    rng = np.random.default_rng(11)
    # concave polygon
    ring_x = np.array([0.0, 4.0, 4.0, 2.0, 2.0, 3.0, 3.0, 0.0])
    ring_y = np.array([0.0, 0.0, 4.0, 4.0, 2.0, 2.0, 3.0, 3.0])
    px = rng.uniform(-1, 5, 1000)
    py = rng.uniform(-1, 5, 1000)
    got = geo.point_in_polygon_np(px, py, ring_x, ring_y)
    exp = [_pip_scalar(a, b, ring_x, ring_y) for a, b in zip(px, py)]
    assert list(got) == exp


def test_pip_convex_known():
    ring_x = np.array([0.0, 10.0, 10.0, 0.0])
    ring_y = np.array([0.0, 0.0, 10.0, 10.0])
    got = geo.point_in_polygon_np([5.0, 15.0, -1.0], [5.0, 5.0, 5.0], ring_x, ring_y)
    assert list(got) == [True, False, False]
