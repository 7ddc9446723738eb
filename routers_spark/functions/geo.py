"""Vectorized geometry kernels (numpy) + their JVM Column-expression twins.

Everything here operates on numpy arrays (for use inside Arrow-batched pandas
UDFs) or builds pyspark Column expressions (for the relational glue, so the
math stays inside whole-stage codegen). Each formula cites the reference
behavior it reproduces.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from routers_spark.config import EARTH_RADIUS_M

# ---------------------------------------------------------------- numpy side


def haversine_m_np(lon1, lat1, lon2, lat2) -> np.ndarray:
    """Great-circle distance in metres, R = 6371008.8
    (libs/routers_geo/src/lib.rs:4; used everywhere, e.g. standard.rs:70)."""
    lon1, lat1, lon2, lat2 = (np.radians(np.asarray(a, dtype=np.float64))
                              for a in (lon1, lat1, lon2, lat2))
    dlon = lon2 - lon1
    dlat = lat2 - lat1
    a = np.sin(dlat / 2.0) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dlon / 2.0) ** 2
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.minimum(1.0, np.sqrt(a)))


def bearing_deg_np(lon1, lat1, lon2, lat2) -> np.ndarray:
    """Initial great-circle bearing in degrees [0, 360) — the reference's
    ``Haversine.bearing`` (used at map_path/entity.rs:162,
    candidate/entry.rs:121)."""
    lon1, lat1, lon2, lat2 = (np.radians(np.asarray(a, dtype=np.float64))
                              for a in (lon1, lat1, lon2, lat2))
    dlon = lon2 - lon1
    y = np.sin(dlon) * np.cos(lat2)
    x = np.cos(lat1) * np.sin(lat2) - np.sin(lat1) * np.cos(lat2) * np.cos(dlon)
    return np.degrees(np.arctan2(y, x)) % 360.0


def destination_np(lon, lat, bearing_deg, distance_m):
    """Great-circle destination point (haversine sphere).

    The reference uses ``Geodesic.destination`` for its square box
    (traits/discovery.rs:91-96); on a sphere of R=6371008.8 the difference is
    <0.5% of the radius and only moves the box pre-filter boundary — the
    exact-distance refinement downstream is unaffected.
    """
    lat1 = np.radians(np.asarray(lat, dtype=np.float64))
    lon1 = np.radians(np.asarray(lon, dtype=np.float64))
    brng = np.radians(np.asarray(bearing_deg, dtype=np.float64))
    d = np.asarray(distance_m, dtype=np.float64) / EARTH_RADIUS_M
    lat2 = np.arcsin(np.sin(lat1) * np.cos(d) + np.cos(lat1) * np.sin(d) * np.cos(brng))
    lon2 = lon1 + np.arctan2(
        np.sin(brng) * np.sin(d) * np.cos(lat1),
        np.cos(d) - np.sin(lat1) * np.sin(lat2),
    )
    return np.degrees(lon2), np.degrees(lat2)


def square_box_np(lon, lat, square_radius_m):
    """The reference's candidate pre-filter box: geodesic destinations at
    bearings 135 deg / 315 deg from the point (traits/discovery.rs:91-96).
    Returns (min_lon, min_lat, max_lon, max_lat). A *square* scan, not a
    circular one — its documented over/under-selection (discovery.rs:131-138)
    is part of the semantics."""
    br_lon, br_lat = destination_np(lon, lat, 135.0, square_radius_m)
    tl_lon, tl_lat = destination_np(lon, lat, 315.0, square_radius_m)
    min_lon = np.minimum(tl_lon, br_lon)
    max_lon = np.maximum(tl_lon, br_lon)
    min_lat = np.minimum(tl_lat, br_lat)
    max_lat = np.maximum(tl_lat, br_lat)
    return min_lon, min_lat, max_lon, max_lat


def line_locate_point_np(ax, ay, bx, by, px, py) -> np.ndarray:
    """Fraction of (a→b) nearest to p, computed PLANAR in lon/lat degree
    space — exactly geo's ``Line::line_locate_point`` used by the candidate
    scan (traits/scan.rs:33, candidate/entry.rs:78-85). Degenerate segments
    (zero length) yield NaN, the analog of geo's ``None``."""
    ax, ay, bx, by, px, py = (np.asarray(v, dtype=np.float64)
                              for v in (ax, ay, bx, by, px, py))
    dx = bx - ax
    dy = by - ay
    den = dx * dx + dy * dy
    with np.errstate(invalid="ignore", divide="ignore"):
        t = ((px - ax) * dx + (py - ay) * dy) / den
    t = np.clip(t, 0.0, 1.0)
    return np.where(den == 0.0, np.nan, t)


def atan2_np(y, x) -> np.ndarray:
    """Elementwise ``atan2`` through libm (``math.atan2``), independent of
    array layout. ``np.arctan2`` is not: on AVX-512 builds numpy runs a
    SIMD kernel whose results differ from libm's in the last ulp for some
    inputs, and it falls back to libm whenever its conservative overlap
    test sees the freshly allocated output buffer touching an input
    buffer — which depends only on where the allocator put it. The same
    inputs then gave matched longitudes that differed from run to run."""
    y = np.asarray(y, dtype=np.float64)
    x = np.asarray(x, dtype=np.float64)
    out = np.fromiter(map(math.atan2, y.ravel().tolist(), x.ravel().tolist()),
                      dtype=np.float64, count=y.size)
    return out.reshape(y.shape)


def point_at_ratio_np(ax, ay, bx, by, frac):
    """Haversine interpolation along the great circle a→b at ``frac`` —
    geo's ``point_at_ratio_from_start(&Haversine, frac)`` (scan.rs:34).
    Implemented as spherical slerp; coincident endpoints return a."""
    ax_, ay_, bx_, by_ = (np.radians(np.asarray(v, dtype=np.float64))
                          for v in (ax, ay, bx, by))
    frac = np.asarray(frac, dtype=np.float64)
    # unit vectors
    ca, sa = np.cos(ay_), np.sin(ay_)
    cb, sb = np.cos(by_), np.sin(by_)
    a_vec = np.stack([ca * np.cos(ax_), ca * np.sin(ax_), sa], axis=-1)
    b_vec = np.stack([cb * np.cos(bx_), cb * np.sin(bx_), sb], axis=-1)
    dot = np.clip(np.sum(a_vec * b_vec, axis=-1), -1.0, 1.0)
    omega = np.arccos(dot)
    so = np.sin(omega)
    with np.errstate(invalid="ignore", divide="ignore"):
        w_a = np.where(so > 1e-12, np.sin((1.0 - frac) * omega) / so, 1.0 - frac)
        w_b = np.where(so > 1e-12, np.sin(frac * omega) / so, frac)
    v = a_vec * w_a[..., None] + b_vec * w_b[..., None]
    norm = np.linalg.norm(v, axis=-1, keepdims=True)
    v = v / np.where(norm == 0.0, 1.0, norm)
    out_lat = np.degrees(np.arcsin(np.clip(v[..., 2], -1.0, 1.0)))
    out_lon = np.degrees(atan2_np(v[..., 1], v[..., 0]))
    return out_lon, out_lat


def wrap_angle_np(delta: np.ndarray) -> np.ndarray:
    """Wrap heading deltas to (-180, 180] exactly as the reference:
    ``rem(360)`` (Rust % keeps sign) then shift
    (map_path/entity.rs:97-115)."""
    delta = np.asarray(delta, dtype=np.float64)
    d = np.fmod(delta, 360.0)  # fmod == Rust's % (sign of dividend)
    d = np.where(d > 180.0, d - 360.0, d)
    d = np.where(d <= -180.0, d + 360.0, d)
    return d


def point_in_polygon_np(px, py, ring_x, ring_y) -> np.ndarray:
    """Vectorized crossing-number (ray-cast) point-in-polygon: one polygon
    ring vs many points. Mirrors the tz basic backend contains-semantics
    (libs/routers_tz/src/storage/basic.rs:27-41). Points exactly on an edge
    follow the half-open crossing rule (deterministic)."""
    px = np.asarray(px, dtype=np.float64)[:, None]
    py = np.asarray(py, dtype=np.float64)[:, None]
    x1 = np.asarray(ring_x, dtype=np.float64)[None, :]
    y1 = np.asarray(ring_y, dtype=np.float64)[None, :]
    x2 = np.roll(ring_x, -1)[None, :]
    y2 = np.roll(ring_y, -1)[None, :]
    cond = (y1 > py) != (y2 > py)
    with np.errstate(invalid="ignore", divide="ignore"):
        x_int = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
    crossings = np.sum(cond & (px < x_int), axis=1)
    return (crossings % 2) == 1


# --------------------------------------------------------------- Column side


def _rad(c: Column) -> Column:
    return F.radians(c)


def haversine_m_col(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    """JVM-side haversine — same formula/constant as :func:`haversine_m_np`."""
    dlat = _rad(lat2) - _rad(lat1)
    dlon = _rad(lon2) - _rad(lon1)
    a = F.pow(F.sin(dlat / 2), 2) + F.cos(_rad(lat1)) * F.cos(_rad(lat2)) * F.pow(
        F.sin(dlon / 2), 2
    )
    return 2.0 * EARTH_RADIUS_M * F.asin(F.least(F.lit(1.0), F.sqrt(a)))


def haversine_m_sql(lon1: str, lat1: str, lon2: str, lat2: str) -> str:
    """The identical haversine as dialect-portable SQL text (Spark + DuckDB
    both ship radians/sin/cos/asin/sqrt/least with these exact names)."""
    return (
        f"2.0 * {EARTH_RADIUS_M} * asin(least(1.0, sqrt("
        f"pow(sin((radians({lat2}) - radians({lat1})) / 2), 2) + "
        f"cos(radians({lat1})) * cos(radians({lat2})) * "
        f"pow(sin((radians({lon2}) - radians({lon1})) / 2), 2)"
        f")))"
    )


def bearing_deg_sql(lon1: str, lat1: str, lon2: str, lat2: str) -> str:
    """Initial bearing [0,360) as dialect-portable SQL text."""
    dlon = f"(radians({lon2}) - radians({lon1}))"
    y = f"(sin({dlon}) * cos(radians({lat2})))"
    x = (
        f"(cos(radians({lat1})) * sin(radians({lat2})) - "
        f"sin(radians({lat1})) * cos(radians({lat2})) * cos({dlon}))"
    )
    # fmod-style positive modulo
    return f"((degrees(atan2({y}, {x})) % 360.0 + 360.0) % 360.0)"
