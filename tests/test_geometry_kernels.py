"""Kernel tests vs brute-force oracles on adversarial cases
(vertex-on-ray, collinear, degenerate — mirroring TT.c:6920-6977 special
cases; SURVEY.md §5.2 items 1 and 4)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from geospatial_analysis_integrity_tool_spark.functions.geometry import (
    pip_ray_cast_ring,
    point_seg_dist_m_poly,
    segments_intersect,
)


def ref_pip(px, py, xs, ys):
    """Scalar reference ray-cast (independent re-implementation)."""
    inside = False
    n = len(xs)
    j = n - 1
    for i in range(n):
        if (ys[i] > py) != (ys[j] > py):
            xint = (xs[j] - xs[i]) * (py - ys[i]) / (ys[j] - ys[i]) + xs[i]
            if px < xint:
                inside = not inside
        j = i
    return inside


def test_pip_square_basic():
    xs = [0.0, 1.0, 1.0, 0.0]
    ys = [0.0, 0.0, 1.0, 1.0]
    assert pip_ray_cast_ring(np.array([0.5]), np.array([0.5]), xs, ys)[0]
    assert not pip_ray_cast_ring(np.array([1.5]), np.array([0.5]), xs, ys)[0]
    assert not pip_ray_cast_ring(np.array([-0.5]), np.array([0.5]), xs, ys)[0]


def test_pip_explicit_closing_vertex_not_double_counted():
    open_ring = ([0.0, 1.0, 1.0, 0.0], [0.0, 0.0, 1.0, 1.0])
    closed_ring = ([0.0, 1.0, 1.0, 0.0, 0.0], [0.0, 0.0, 1.0, 1.0, 0.0])
    px, py = np.array([0.5]), np.array([0.5])
    assert (
        pip_ray_cast_ring(px, py, *open_ring)[0]
        == pip_ray_cast_ring(px, py, *closed_ring)[0]
        is np.True_
    )


def test_pip_vertex_on_ray():
    # diamond whose left/right vertices sit exactly on the test ray (y=0)
    xs = [0.0, 1.0, 2.0, 1.0]
    ys = [0.0, -1.0, 0.0, 1.0]
    assert pip_ray_cast_ring(np.array([1.0]), np.array([0.0]), xs, ys)[0]
    assert not pip_ray_cast_ring(np.array([3.0]), np.array([0.0]), xs, ys)[0]
    assert not pip_ray_cast_ring(np.array([-1.0]), np.array([0.0]), xs, ys)[0]


def test_pip_concave():
    # U-shape: points in the notch are outside
    xs = [0.0, 4.0, 4.0, 3.0, 3.0, 1.0, 1.0, 0.0]
    ys = [0.0, 0.0, 3.0, 3.0, 1.0, 1.0, 3.0, 3.0]
    assert not pip_ray_cast_ring(np.array([2.0]), np.array([2.0]), xs, ys)[0]
    assert pip_ray_cast_ring(np.array([0.5]), np.array([2.0]), xs, ys)[0]
    assert pip_ray_cast_ring(np.array([2.0]), np.array([0.5]), xs, ys)[0]


@settings(max_examples=200, deadline=None)
@given(st.integers(0, 10_000_000))
def test_pip_matches_reference_random(seed):
    rng = np.random.default_rng(seed)
    n = int(rng.integers(3, 9))
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    r = rng.uniform(0.5, 2.0, n)
    xs = (r * np.cos(ang)).tolist()
    ys = (r * np.sin(ang)).tolist()
    px = rng.uniform(-2.5, 2.5, 16)
    py = rng.uniform(-2.5, 2.5, 16)
    got = pip_ray_cast_ring(px, py, xs, ys)
    want = np.array([ref_pip(px[i], py[i], xs, ys) for i in range(16)])
    assert (got == want).all()


def test_segments_intersect_cases():
    one = np.array([1.0])
    z = np.array([0.0])
    two = np.array([2.0])

    def seg(ax, ay, bx, by, cx, cy, dx, dy, **kw):
        return segments_intersect(
            np.array([ax]), np.array([ay]), np.array([bx]), np.array([by]),
            np.array([cx]), np.array([cy]), np.array([dx]), np.array([dy]), **kw
        )[0]

    assert seg(0, 0, 2, 2, 0, 2, 2, 0)  # X crossing
    assert not seg(0, 0, 1, 0, 0, 1, 1, 1)  # parallel apart
    assert seg(0, 0, 1, 0, 1, 0, 2, 1)  # touch at endpoint
    assert not seg(0, 0, 1, 0, 1, 0, 2, 1, proper_only=True)  # touch excluded
    assert seg(0, 0, 2, 0, 1, 0, 3, 0)  # collinear overlap
    assert not seg(0, 0, 1, 0, 2, 0, 3, 0)  # collinear disjoint


def test_point_seg_dist_clamps_to_endpoints():
    # beyond the B end: distance ~ to B itself
    d_end = point_seg_dist_m_poly(
        np.array([10.002]), np.array([40.0]),
        np.array([10.0]), np.array([40.0]), np.array([10.001]), np.array([40.0]),
    )[0]
    d_direct = point_seg_dist_m_poly(
        np.array([10.002]), np.array([40.0]),
        np.array([10.001]), np.array([40.0]), np.array([10.001]), np.array([40.0]),
    )[0]
    assert abs(d_end - d_direct) < 1e-9
    # perpendicular foot inside the segment
    d_mid = point_seg_dist_m_poly(
        np.array([10.0005]), np.array([40.001]),
        np.array([10.0]), np.array([40.0]), np.array([10.001]), np.array([40.0]),
    )[0]
    assert abs(d_mid - 0.001 * 111319.5) < 1e-4
