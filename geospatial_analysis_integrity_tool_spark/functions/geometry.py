"""Vectorized (batch x padded-vertex) geometry kernels.

Every kernel is numpy over whole Arrow batches: rows are features, rings are
padded to the batch max vertex count and masked.  No per-row Python anywhere
(input_hint contract).

Semantics reproduce the reference formulas:

* ``pip_ray_cast_ring``  — eastward ray cast of many points against one ring,
  with crossing parity and the half-open vertex rule ``(yi > py) != (yj > py)``
  (reference PointInsidePoly, TT.c:6920-6977: eastward ray, parity,
  vertex-on-ray handled by strict/non-strict asymmetry).
* ``segments_intersect`` — orientation tests (LineSegmentsIntersect,
  share_linux.h:979 / AllCaseLineSegmentsIntersect, moregeomchecks.c:5319).
* ``point_seg_dist_m_poly`` — clamped projection distance in the poly-cos local
  frame (bit-identical twin of geodesy.sql_point_seg_dist_m).
"""

from __future__ import annotations

import numpy as np

from .geodesy import coslat_poly_np


def pad_rings(xs_list, ys_list) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """list-of-arrays -> (X[n, m], Y[n, m], valid[n, m]) padded with NaN."""
    n = len(xs_list)
    m = max((len(a) for a in xs_list), default=0)
    X = np.full((n, m), np.nan)
    Y = np.full((n, m), np.nan)
    V = np.zeros((n, m), dtype=bool)
    for i, (xa, ya) in enumerate(zip(xs_list, ys_list)):
        k = len(xa)
        X[i, :k] = xa
        Y[i, :k] = ya
        V[i, :k] = True
    return X, Y, V


def pip_ray_cast_ring(px: np.ndarray, py: np.ndarray, ring_x, ring_y) -> np.ndarray:
    """Many points against ONE ring (TT.c:6920 semantics) -> (n,) bool.

    The closing vertex is optional: an explicitly repeated one is dropped so
    parity is not double-counted, and the roll below closes the ring
    implicitly.  The PIP join kernel calls it once per candidate group.
    """
    rx = np.asarray(ring_x, dtype=np.float64)
    ry = np.asarray(ring_y, dtype=np.float64)
    if len(rx) >= 2 and rx[-1] == rx[0] and ry[-1] == ry[0]:
        rx, ry = rx[:-1], ry[:-1]
    if len(rx) == 0:
        return np.zeros(len(px), dtype=bool)
    px = np.asarray(px, dtype=np.float64)[:, None]
    py = np.asarray(py, dtype=np.float64)[:, None]
    X = rx[None, :]
    Y = ry[None, :]
    Xj = np.roll(rx, 1)[None, :]
    Yj = np.roll(ry, 1)[None, :]
    with np.errstate(invalid="ignore", divide="ignore"):
        cond = (Y > py) != (Yj > py)
        x_int = (Xj - X) * (py - Y) / (Yj - Y) + X
        crossing = cond & (px < x_int)
    return (crossing.sum(axis=1) % 2).astype(bool)


def _orient(ax, ay, bx, by, cx, cy):
    return (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)


def segments_intersect(
    ax, ay, bx, by, cx, cy, dx, dy, proper_only: bool = False
) -> np.ndarray:
    """Vectorized segment-pair intersection (share_linux.h:979 semantics).

    proper_only=True excludes touch-at-endpoint intersections (GAIT
    distinguishes node-touch from crossing, e.g. LLNONODEINT vs LLINT).
    """
    d1 = _orient(cx, cy, dx, dy, ax, ay)
    d2 = _orient(cx, cy, dx, dy, bx, by)
    d3 = _orient(ax, ay, bx, by, cx, cy)
    d4 = _orient(ax, ay, bx, by, dx, dy)
    proper = ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0)) & (d1 != 0) & (d2 != 0) & (d3 != 0) & (d4 != 0)
    if proper_only:
        return proper

    def on_seg(px_, py_, qx_, qy_, rx_, ry_):
        return (
            (np.minimum(px_, qx_) <= rx_)
            & (rx_ <= np.maximum(px_, qx_))
            & (np.minimum(py_, qy_) <= ry_)
            & (ry_ <= np.maximum(py_, qy_))
        )

    touch = (
        ((d1 == 0) & on_seg(cx, cy, dx, dy, ax, ay))
        | ((d2 == 0) & on_seg(cx, cy, dx, dy, bx, by))
        | ((d3 == 0) & on_seg(ax, ay, bx, by, cx, cy))
        | ((d4 == 0) & on_seg(ax, ay, bx, by, dx, dy))
    )
    return proper | touch


def segment_intersection_point(ax, ay, bx, by, cx, cy, dx, dy):
    """Intersection point of (assumed properly intersecting) segment pairs."""
    rpx = bx - ax
    rpy = by - ay
    spx = dx - cx
    spy = dy - cy
    denom = rpx * spy - rpy * spx
    with np.errstate(invalid="ignore", divide="ignore"):
        t = ((cx - ax) * spy - (cy - ay) * spx) / denom
    return ax + t * rpx, ay + t * rpy


def point_seg_dist_m_poly(px, py, ax, ay, bx, by) -> np.ndarray:
    """Bit-identical numpy twin of geodesy.sql_point_seg_dist_m."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    ax = np.asarray(ax, dtype=np.float64)
    ay = np.asarray(ay, dtype=np.float64)
    bx = np.asarray(bx, dtype=np.float64)
    by = np.asarray(by, dtype=np.float64)
    avg_lat = (ay + by) * 0.5
    mlon = 111319.5 * coslat_poly_np(avg_lat)
    axm = ax * mlon
    bxm = bx * mlon
    pxm = px * mlon
    aym = ay * 111319.5
    bym = by * 111319.5
    pym = py * 111319.5
    vx = bxm - axm
    vy = bym - aym
    wx = pxm - axm
    wy = pym - aym
    c1 = vx * wx + vy * wy
    c2 = vx * vx + vy * vy
    with np.errstate(invalid="ignore", divide="ignore"):
        t = np.where(c1 <= 0.0, 0.0, np.where(c1 >= c2, 1.0, c1 / c2))
    dx = wx - t * vx
    dy = wy - t * vy
    return np.sqrt(dx * dx + dy * dy)
