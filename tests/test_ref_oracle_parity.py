"""Bit-for-bit fuzz of the engine's GAIT-parity kernels against the COMPILED
reference predicates.

``tools/ref_oracle.py`` extracts the self-contained C functions from the
reference sources (PointInsidePoly TT.c:6920, AllCaseLineSegmentsIntersect
moregeomchecks.c:5319, Distance TT.c:7151, TruncateToNdigits utilities.c:97,
PointOnQuarterDegreeBoundary TT.c:1400, ...), compiles them with
``-ffp-contract=off`` into a .so and exposes them via ctypes.  Each test
generates >= 10^5 cases (generic uniform + adversarial: exact endpoint
sharing, collinear overlap, vertex-on-ray, quantized grids, degenerate
segments, near-parallel dets around the reference's absolute 1e-5 cutoff)
and asserts the numpy twins in
``geospatial_analysis_integrity_tool_spark.functions.gait_parity`` return IDENTICAL values —
ints exactly, doubles IEEE-equal.

This retires the "oracle self-reference" caveat: the engine's geometry
tie-breaks are now evidenced against the reference's own compiled code, not
against DuckDB twins of our own formulas.
"""

from __future__ import annotations

import numpy as np
import pytest

from tools import ref_oracle
import geospatial_analysis_integrity_tool_spark.functions.gait_parity as gp
from geospatial_analysis_integrity_tool_spark.functions.geodesy import equirect_dist_m_np, truncate3_np
from geospatial_analysis_integrity_tool_spark.functions.geometry import (
    pip_ray_cast_ring,
    segments_intersect,
)

pytestmark = pytest.mark.skipif(
    not ref_oracle.available(),
    reason="reference sources or gcc not available",
)


@pytest.fixture(scope="module")
def oracle():
    o = ref_oracle.get_oracle()
    o.xtranslation = 0.0
    o.ytranslation = 0.0
    o.set_euclidean(False)
    return o


def _ieee_equal(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    return (a == b) | (np.isnan(a) & np.isnan(b))


def test_truncate_ndigits_bitexact(oracle):
    rng = np.random.default_rng(20260819)
    x = np.concatenate(
        [
            rng.uniform(-1e6, 1e6, 30000),
            rng.integers(-(10**9), 10**9, 30000) / 1e5,
            rng.uniform(-1e-3, 1e-3, 20000),
            # 13-decimal rounding boundary cases (sprintf rounds BEFORE cut)
            np.array(
                [
                    0.0099999999999995,
                    -0.0099999999999995,
                    2.5e-4,
                    -2.5e-4,
                    0.0,
                    1.0000000000000499,
                    999999.9999999999,
                ]
            ),
        ]
    )
    for d in (0, 2, 3, 6):
        mine = gp.truncate_ndigits(x, d)
        ref = np.array([oracle.truncate_ndigits(float(v), d) for v in x])
        assert _ieee_equal(mine, ref).all(), f"digits={d}"


def test_distance_geodetic_bitexact(oracle):
    rng = np.random.default_rng(1)
    for xt, yt in [(0.0, 0.0), (12.25, -33.5), (-120.0, 45.75)]:
        oracle.xtranslation = xt
        oracle.ytranslation = yt
        a = rng.uniform(-5e5, 5e5, (4, 40000))
        a[2, :1000] = a[0, :1000]  # vertical pairs
        a[3, 1000:2000] = a[1, 1000:2000]  # horizontal pairs
        mine = gp.distance_gait(a[0], a[1], a[2], a[3], xt, yt)
        ref = np.array([oracle.distance(*map(float, v)) for v in a.T])
        assert _ieee_equal(mine, ref).all(), (xt, yt)
    oracle.xtranslation = 0.0
    oracle.ytranslation = 0.0
    oracle.set_euclidean(True)
    a = rng.uniform(-5e5, 5e5, (4, 20000))
    mine = gp.distance_gait(a[0], a[1], a[2], a[3], euclidean=True)
    ref = np.array([oracle.distance(*map(float, v)) for v in a.T])
    oracle.set_euclidean(False)
    assert _ieee_equal(mine, ref).all()


def test_segment_distance_family_bitexact(oracle):
    rng = np.random.default_rng(7)
    N = 40000
    a = rng.uniform(-5e5, 5e5, (6, N))
    a[4, :2000] = a[2, :2000]  # degenerate segments (point)
    a[5, :2000] = a[3, :2000]
    a[0, 2000:4000] = a[2, 2000:4000]  # query point == endpoint 1
    a[1, 2000:4000] = a[3, 2000:4000]
    a[0, 4000:6000] = a[4, 4000:6000]  # query point == endpoint 2
    a[1, 4000:6000] = a[5, 4000:6000]
    mine = gp.point_to_line_dist2d_gait(*a)
    ref = np.array([oracle.point_to_line_dist2d(*map(float, v)) for v in a.T])
    assert _ieee_equal(mine, ref).all()

    for slack in (0.0001, 50.0):
        m2 = gp.point_on_line_segment_gait(*a, slack)
        r2 = np.array(
            [oracle.point_on_line_segment(*map(float, v), slack) for v in a.T]
        )
        assert (m2 == r2).all(), f"slack={slack}"

    for tol in (0.0001, 100.0):
        m3 = gp.equal_within_tolerance_gait(a[0], a[1], a[2], a[3], tol)
        r3 = np.array(
            [oracle.equal_within_tolerance(*map(float, v), tol) for v in a[:4].T]
        )
        assert (m3 == r3).all(), f"tol={tol}"


def test_triangle_area_and_same_side_bitexact(oracle):
    rng = np.random.default_rng(3)
    t = rng.uniform(-1e5, 1e5, (6, 30000))
    t[:, :1000] = np.repeat(t[:2, :1000], 3, axis=0)  # degenerate triangles
    mine = gp.triangle_xy_surface_area_gait(*t)
    ref = np.array(
        [
            oracle.triangle_xy_surface_area([v[0], v[2], v[4]], [v[1], v[3], v[5]])
            for v in t.T
        ]
    )
    assert _ieee_equal(mine, ref).all()

    s = rng.uniform(-1e5, 1e5, (8, 30000))
    s[4:6, :2000] = s[0:2, :2000]  # point ON the line
    m2 = gp.two_points_same_side_gait(*s)
    r2 = np.array([oracle.two_points_same_side(*map(float, v)) for v in s.T])
    assert (m2 == r2).all()


def _star_ring(rng, k):
    ang = np.sort(rng.uniform(0, 2 * np.pi, k))
    rad = rng.uniform(10, 1000, k)
    cx, cy = rng.uniform(-1e4, 1e4, 2)
    return cx + rad * np.cos(ang), cy + rad * np.sin(ang)


def test_point_inside_poly_bitexact(oracle):
    """30k rings x 4 points = 120k cases incl. vertex-on-ray, exact-vertex,
    quantized collinear runs and explicitly closed rings."""
    rng = np.random.default_rng(11)
    mismatch = 0
    total = 0
    for trial in range(30000):
        k = int(rng.integers(3, 13))
        xs, ys = _star_ring(rng, k)
        mode = trial % 5
        if mode == 1:  # quantize: exact equalities + horizontal collinear runs
            xs = np.round(xs, -1)
            ys = np.round(ys, -1)
        if mode == 2:  # explicitly closed ring (C indexes (i+1)%numb anyway)
            xs = np.append(xs, xs[0])
            ys = np.append(ys, ys[0])
            k += 1
        vi = int(rng.integers(0, k))
        pts = [
            (rng.uniform(xs.min() - 50, xs.max() + 50),
             rng.uniform(ys.min() - 50, ys.max() + 50)),
            (rng.uniform(xs.min() - 50, xs.max() + 50), ys[vi]),  # on vertex ray
            (xs[vi], ys[vi]),  # exact vertex
            (xs.min() - 10.0, ys[vi]),  # west of ring, on vertex ray
        ]
        X = xs[None, :].repeat(len(pts), 0)
        Y = ys[None, :].repeat(len(pts), 0)
        px = np.array([p[0] for p in pts])
        py = np.array([p[1] for p in pts])
        mine = gp.point_inside_poly_gait(px, py, X, Y)
        for i, p in enumerate(pts):
            total += 1
            if oracle.point_inside_poly(p[0], p[1], xs, ys) != mine[i]:
                mismatch += 1
    assert total >= 100000
    assert mismatch == 0


def test_all_case_segments_intersect_bitexact(oracle):
    rng = np.random.default_rng(13)
    N = 60000
    a = rng.uniform(-5e5, 5e5, (8, N))
    # exact shared endpoint
    a[4, :4000] = a[0, :4000]
    a[5, :4000] = a[1, :4000]
    # endpoint within tolerance
    a[4, 4000:8000] = a[0, 4000:8000] + rng.uniform(-1e-5, 1e-5, 4000)
    a[5, 4000:8000] = a[1, 4000:8000] + rng.uniform(-1e-5, 1e-5, 4000)
    # collinear overlap (reference returns 0 here)
    sl = slice(8000, 12000)
    t1 = rng.uniform(0.2, 0.4, 4000)
    t2 = rng.uniform(0.6, 0.8, 4000)
    a[4, sl] = a[0, sl] + t1 * (a[2, sl] - a[0, sl])
    a[5, sl] = a[1, sl] + t1 * (a[3, sl] - a[1, sl])
    a[6, sl] = a[0, sl] + t2 * (a[2, sl] - a[0, sl])
    a[7, sl] = a[1, sl] + t2 * (a[3, sl] - a[1, sl])
    # endpoint-on-interior
    sl = slice(12000, 16000)
    t1 = rng.uniform(0.1, 0.9, 4000)
    a[4, sl] = a[0, sl] + t1 * (a[2, sl] - a[0, sl])
    a[5, sl] = a[1, sl] + t1 * (a[3, sl] - a[1, sl])
    # parallel translates
    sl = slice(16000, 20000)
    a[4, sl] = a[0, sl] + 7.0
    a[5, sl] = a[1, sl] + 3.0
    a[6, sl] = a[2, sl] + 7.0
    a[7, sl] = a[3, sl] + 3.0
    # short segments -> dets straddling the reference's ABSOLUTE 1e-5 cutoff
    sl = slice(20000, 24000)
    for i in range(4, 8):
        a[i, sl] = a[i - 4, sl] + rng.uniform(-0.01, 0.01, 4000)

    for tol in (0.0001, 5.0):
        code, xi, yi = gp.all_case_segments_intersect_gait(*a, tol)
        refc = np.empty(N, dtype=np.int32)
        refx = np.empty(N)
        refy = np.empty(N)
        for i in range(N):
            refc[i], refx[i], refy[i] = oracle.all_case_segments_intersect(
                *map(float, a[:, i]), tol
            )
        assert (code == refc).all(), f"tol={tol}"
        pos = code > 0
        assert _ieee_equal(xi[pos], refx[pos]).all(), f"tol={tol}"
        assert _ieee_equal(yi[pos], refy[pos]).all(), f"tol={tol}"


def test_quarter_degree_boundary_bitexact(oracle):
    rng = np.random.default_rng(17)
    N = 40000
    for xt, yt in [(0.0, 0.0), (-77.25, 38.5)]:
        oracle.xtranslation = xt
        oracle.ytranslation = yt
        k = rng.integers(-720, 720, N)
        py = (k * 0.25 - yt) * 100000.0 + rng.uniform(-200, 200, N)
        px = (rng.integers(-720, 720, N) * 0.25 - xt) * 100000.0 + rng.uniform(
            -200, 200, N
        )
        for tol in (0.5, 5.0, 50.0):
            mine = gp.point_on_quarter_degree_boundary_gait(px, py, tol, xt, yt)
            ref = np.array(
                [
                    oracle.point_on_quarter_degree_boundary(
                        float(px[i]), float(py[i]), tol
                    )
                    for i in range(N)
                ]
            )
            assert (mine == ref).all(), (xt, yt, tol)
    oracle.xtranslation = 0.0
    oracle.ytranslation = 0.0


# ---------------------------------------------------------------------------
# production-kernel agreement: the engine's fast paths vs the parity kernels
# ---------------------------------------------------------------------------

def test_production_pip_agrees_off_boundary():
    """pip_ray_cast_ring (half-open rule) == PointInsidePoly semantics whenever the
    test point is not exactly on a vertex ray — the measure-zero set where the
    C's explicit collinear-run branch takes over.  On that set the parity
    kernel (point_inside_poly_gait) is the reference-exact path."""
    rng = np.random.default_rng(23)
    xs_list, ys_list, px, py = [], [], [], []
    for _ in range(20000):
        k = int(rng.integers(3, 13))
        xs, ys = _star_ring(rng, k)
        xs_list.append(xs)
        ys_list.append(ys)
        px.append(rng.uniform(xs.min() - 50, xs.max() + 50))
        py.append(rng.uniform(ys.min() - 50, ys.max() + 50))
    px = np.array(px)
    py = np.array(py)
    fast = np.array(
        [
            pip_ray_cast_ring(px[i : i + 1], py[i : i + 1], xs, ys)[0]
            for i, (xs, ys) in enumerate(zip(xs_list, ys_list))
        ]
    )
    m = max(len(a) for a in xs_list)
    X = np.full((len(px), m), 0.0)
    Y = np.full((len(px), m), 0.0)
    V = np.zeros((len(px), m), dtype=bool)
    for i, (xa, ya) in enumerate(zip(xs_list, ys_list)):
        X[i, : len(xa)] = xa
        Y[i, : len(xa)] = ya
        V[i, : len(xa)] = True
    exact = gp.point_inside_poly_gait(px, py, X, Y, V)
    assert (fast.astype(np.int32) == exact).all()


def test_production_distance_formula_agreement():
    """equirect_dist_m_np reassociates GAIT's average-latitude expression
    ((y1+y2)*0.5 vs (y2-y1)/2+y1) — same formula, different rounding path.
    Bound the drift: relative error < 1e-12 over 10^5 random pairs."""
    rng = np.random.default_rng(29)
    deg = rng.uniform(-5, 5, (4, 100000))
    fast = equirect_dist_m_np(deg[0], deg[1], deg[2], deg[3])
    exact = gp.distance_gait(
        deg[0] * 100000.0, deg[1] * 100000.0, deg[2] * 100000.0, deg[3] * 100000.0
    )
    denom = np.maximum(exact, 1e-9)
    assert (np.abs(fast - exact) / denom < 1e-12).all()


def test_production_truncate_agreement():
    """truncate3_np (trunc(x*1000)/1000) vs the sprintf-exact kernel: differs
    only when the 13-decimal rounding crosses a milli boundary; bound the
    deviation to one milli and require agreement away from boundaries."""
    rng = np.random.default_rng(31)
    x = rng.uniform(-1e5, 1e5, 100000)
    fast = truncate3_np(x)
    exact = gp.truncate_ndigits(x, 3)
    diff = np.abs(fast - exact)
    assert (diff <= 0.001 + 1e-12).all()
    frac = np.abs(x * 1000.0 - np.round(x * 1000.0))
    off_boundary = frac > 1e-6
    assert (diff[off_boundary] == 0.0).all()


def test_production_segments_intersect_agreement():
    """Orientation-test fast path vs reference ACLS on generic segments:
    exact agreement once tolerance-snap and near-parallel cases (the
    reference's absolute |det|<1e-5 cutoff) are filtered out."""
    rng = np.random.default_rng(37)
    N = 100000
    a = rng.uniform(-5e5, 5e5, (8, N))
    code, _, _ = gp.all_case_segments_intersect_gait(*a, 0.0001)
    fast = segments_intersect(*a)
    x12 = a[0] - a[2]
    y12 = a[1] - a[3]
    x43 = a[6] - a[4]
    y43 = a[7] - a[5]
    det = (x43 * y12) - (y43 * x12)
    generic = np.abs(det) > 1e-3
    assert (fast[generic] == (code[generic] > 0)).all()


def test_sentinel_z_family_bitexact(oracle):
    """tempis2D (SEEIT_API.c:2840), IsSentinelZvalue (TT.c:1589) incl. the
    NUNANPO -32768..-32764 integer window and the TDS -50000 branch, and
    Distance3D (TT.c:7211) sentinel-guarded hypotenuse."""
    rng = np.random.default_rng(41)
    N = 30000
    v = np.concatenate(
        [
            rng.uniform(-6e4, 6e4, N),
            np.array(
                [
                    1.3070057, 1.30700575, 1.3070058, -50000.0,
                    -32768.0, -32767.5, -32764.0, -32763.9999,
                ]
            ),
        ]
    )
    m = gp.tempis2d_gait(v)
    r = np.array([oracle.tempis2d(float(x)) for x in v])
    assert (m == r).all()
    for cn in (0, 1):
        m = gp.is_sentinel_z_gait(v, cn)
        r = np.array([oracle.is_sentinel_z(float(x), cn) for x in v])
        assert (m == r).all(), f"count_nunanpo={cn}"
    oracle.set_attr_tds(True)
    m = gp.is_sentinel_z_gait(v, 0, tds_mode=True)
    r = np.array([oracle.is_sentinel_z(float(x), 0) for x in v])
    oracle.set_attr_tds(False)
    assert (m == r).all()

    a = rng.uniform(-5e5, 5e5, (4, N))
    z = rng.uniform(-60000, 9000, (2, N))
    z[0, :300] = 1.3070057
    z[1, 300:600] = -50000.0
    z[0, 600:900] = -32768.0
    m = gp.distance3d_gait(a[0], a[1], z[0], a[2], a[3], z[1])
    r = np.array(
        [
            oracle.distance3d(a[0, i], a[1, i], z[0, i], a[2, i], a[3, i], z[1, i])
            for i in range(N)
        ]
    )
    assert _ieee_equal(m, r).all()


def test_triangle_and_full_line_bitexact(oracle):
    """PointInsideTriangle (TT.c:6981, incl. the area<0.1 PointInsidePoly
    fallback) and PointToFullLineDist2D (TT.c:8996)."""
    rng = np.random.default_rng(43)
    N = 30000
    t = rng.uniform(-1000, 1000, (8, N))
    t[2:, :2000] = rng.uniform(-0.1, 0.1, (6, 2000))  # degenerate triangles
    m = gp.point_inside_triangle_gait(*t)
    r = np.array(
        [oracle.point_inside_triangle(*map(float, t[:, i])) for i in range(N)]
    )
    assert (m == r).all()

    b = rng.uniform(-1e5, 1e5, (6, N))
    m2 = gp.point_to_full_line_dist2d_gait(*b)
    r2 = np.array(
        [oracle.point_to_full_line_dist2d(*map(float, b[:, i])) for i in range(N)]
    )
    assert _ieee_equal(m2, r2).all()


def test_line_segments_intersect_bitexact(oracle):
    """LineSegmentsIntersect (TT.c:8933): shared-endpoint early returns,
    absolute 1e-5 parallel cutoff, crossing point — code and xi/yi exact."""
    rng = np.random.default_rng(47)
    N = 40000
    s = rng.uniform(-1e5, 1e5, (8, N))
    s[4, :3000] = s[0, :3000]
    s[5, :3000] = s[1, :3000]
    s[4, 3000:6000] = s[0, 3000:6000] + 7.0
    s[5, 3000:6000] = s[1, 3000:6000] + 3.0
    s[6, 3000:6000] = s[2, 3000:6000] + 7.0
    s[7, 3000:6000] = s[3, 3000:6000] + 3.0
    mc, mx, my = gp.line_segments_intersect_gait(*s)
    rc = np.empty(N, dtype=np.int32)
    rx = np.empty(N)
    ry = np.empty(N)
    for i in range(N):
        rc[i], rx[i], ry[i] = oracle.line_segments_intersect(*map(float, s[:, i]))
    assert (mc == rc).all()
    pos = mc > 0
    assert _ieee_equal(mx[pos], rx[pos]).all()
    assert _ieee_equal(my[pos], ry[pos]).all()


def test_angle_family_bitexact(oracle):
    """RadiansToDegrees (TT.c:6880 — GAIT's TRUNCATED 57.29578 constant +
    5-decimal int-cast truncation) and AngleBetweenLineSegments
    (TT.c:6895 — cos of angle via normalized line coefficients)."""
    rng = np.random.default_rng(53)
    N = 40000
    v = np.concatenate(
        [rng.uniform(-7, 7, N), np.array([0.0, 3.141592653589793, -1.5707963])]
    )
    m = gp.radians_to_degrees_gait(v)
    r = np.array([oracle.radians_to_degrees(float(x)) for x in v])
    assert _ieee_equal(m, r).all()

    s = rng.uniform(-1e5, 1e5, (8, N))
    s[2, :1000] = s[0, :1000]  # vertical first segment (x1 == x2 branch)
    s[3, 1000:2000] = s[1, 1000:2000]  # horizontal first segment
    m2 = gp.angle_between_line_segments_gait(*s)
    r2 = np.array(
        [oracle.angle_between_line_segments(*map(float, s[:, i])) for i in range(N)]
    )
    assert _ieee_equal(m2, r2).all()


def test_geodetic_area_kernel_bitexact(oracle):
    """CalculateGeodeticCoordArea (TT.c:4200) through the shim's areal
    globals: full rings, the exactly-3-vertex TriangleXYsurfaceArea branch,
    and wrap-around spans — area and perimeter bit-for-bit."""
    rng = np.random.default_rng(59)
    total = 0
    for trial in range(4000):
        k = int(rng.integers(3, 24))
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        rad = rng.uniform(100, 20000, k)
        cx, cy = rng.uniform(-3e5, 3e5, 2)
        xs = cx + rad * np.cos(ang)
        ys = cy + rad * np.sin(ang)
        xt = float(rng.uniform(-100, 100))
        yt = float(rng.uniform(-50, 50))
        mnx = float(xt + rng.uniform(-1, 1))
        mny = float(yt + rng.uniform(-1, 1))
        oracle.xtranslation = xt
        oracle.ytranslation = yt
        oracle.min_native_x = mnx
        oracle.min_native_y = mny
        minx, miny = float(xs.min()), float(ys.min())
        mode = trial % 4
        if mode == 0:
            si, sp = 0, k
        elif mode == 1:
            si, sp = 0, 3
        elif mode == 2 and k >= 6:
            si, sp = int(k // 2), max(int(k // 2) - 2, 0)
        else:
            si, sp = 1, k
        rc, ra, rp = oracle.calculate_geodetic_coord_area(
            xs, ys, minx, miny, si, sp
        )
        ma, mp = gp.calculate_geodetic_coord_area_gait(
            xs, ys, minx, miny, si, sp, xt, yt, mnx, mny
        )
        assert ma == ra and mp == rp, (trial, mode, k, si, sp)
        total += 1
    oracle.xtranslation = 0.0
    oracle.ytranslation = 0.0
    oracle.min_native_x = 0.0
    oracle.min_native_y = 0.0
    assert total == 4000


def test_production_area_formula_bounds():
    """polygon_area_m2_np (one mean-lat equirect shoelace) vs the
    reference kernel: <= 0.2% near the native origin; the documented
    divergences are (a) the reference's 3-vertex branch returning RAW
    GAIT-unit^2 (~0.807x of m^2 at the equator — bug-compatible in the
    parity kernel) and (b) its per-vertex half-way-to-MinNativeY cos
    scale, worth a few percent for rings far from the dataset origin at
    high latitude."""
    rng = np.random.default_rng(61)
    from geospatial_analysis_integrity_tool_spark.functions.geodesy import polygon_area_m2_np

    for trial in range(1500):
        k = int(rng.integers(4, 24))
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        rad = rng.uniform(100, 20000, k)
        cx = rng.uniform(-3e5, 3e5)
        cy = rng.uniform(-3e5, 3e5)
        xs = cx + rad * np.cos(ang)
        ys = cy + rad * np.sin(ang)
        ref_a, _ = gp.calculate_geodetic_coord_area_gait(
            xs, ys, float(xs.min()), float(ys.min()), 0, k,
            0.0, 0.0, 0.0, 0.0,
        )
        eng_a = polygon_area_m2_np(xs / 1e5, ys / 1e5)
        assert abs(eng_a - ref_a) / max(ref_a, 1e-9) < 0.002


def test_is_flakey_nunanpo_bitexact(oracle):
    """IsFlakeyNUNANPOvalue (TT.c:1625) vs the engine's SQL predicate twin
    (queries/nunanpoq._np_flakey_str/_np_flakey_num): the allow_nunanpo
    2-vs-3 distinction ('all nunanpo' forgives the Unknown family -32767 /
    "0" / Unknown / UNK; 'all less Unknown' does not), quote-stripping on
    the string path, and the NearlyEqual |d| < 0.0001 window on the numeric
    path (where 0.0 is NOT flakey, unlike string "0")."""
    base = {
        "-32768", "-32768.0", "-32766", "-32766.0", "-32765", "-32765.0",
        "-32764", "-32764.0", "996", "997", "998", "999", "Not Applicable",
        "Unpopulated", "Other", "Multiple", "N_A", "OTH", "N/A", "Null",
        "Null (Reserved)",
    }
    unk = {"-32767", "-32767.0", "0", "Unknown", "UNK"}

    def twin_str(v: str, mode: int) -> int:
        s = v.replace('"', "")
        return int(s in base or (mode == 2 and s in unk))

    def twin_num(d: float, mode: int) -> int:
        hits = [abs(d - s) < 0.0001 for s in (-32768.0, -32766.0, -32765.0, -32764.0)]
        if mode == 2:
            hits.append(abs(d - (-32767.0)) < 0.0001)
        return int(any(hits))

    rng = np.random.default_rng(93)
    pool = sorted(base | unk)
    # string path: sentinels, quoted/embedded-quote variants, near-misses
    cases = []
    for v in pool:
        cases += [v, f'"{v}"', v[:1] + '"' + v[1:], v + " ", " " + v, v + ".00"]
    cases += ["", "5", "Unknown ", "unknown", "UNKNOWN", "unk", "32767",
              "-32767.00", "Null(Reserved)", "null", "0.0", "-0", "00"]
    for _ in range(2000):
        cases.append("".join(rng.choice(list("01-“\"23768.NUnk "), size=rng.integers(1, 10))))
    n = 0
    for v in cases:
        for mode in (2, 3):
            assert oracle.is_flakey_nunanpo(v, 0.0, mode) == twin_str(v, mode), (v, mode)
            n += 1
    # numeric path: dense sweep across every sentinel's epsilon window edge
    dvals = list(rng.uniform(-40000, 1000, 20000))
    for s in (-32768.0, -32767.0, -32766.0, -32765.0, -32764.0):
        dvals += list(s + rng.uniform(-3e-4, 3e-4, 2000))
        dvals += [s, s + 0.0001, s - 0.0001, s + 9.999e-5, s - 9.999e-5]
    dvals += [0.0, -0.0, 996.0, 999.0]
    for d in dvals:
        for mode in (2, 3):
            assert oracle.is_flakey_nunanpo(None, float(d), mode) == twin_num(float(d), mode), (d, mode)
            n += 1
    assert n > 60000


def test_sensitivity_check_bitexact(oracle):
    """SensitivityCheck (TT.c:13798) vs the engine's nine-op predicate table
    (operators/checkspec.SENSITIVITY_OPS), including the numthresholds
    gating quirk: with numthresholds == 0 BOTH limits stay 0.0, and with
    numthresholds == 1 the interval ops compare against limit2 == 0.0 —
    the engine twin reproduces the limits the reference would use."""
    ops = {
        1: ("LT", 1), 2: ("LTEQ", 1), 3: ("EQEQ", 1), 4: ("GTEQ", 1),
        5: ("GT", 1), 6: ("OPENINT", 2), 7: ("GTCLOSED", 2),
        8: ("CLOSEDINT", 2), 9: ("LTCLOSED", 2),
    }

    def twin(opcode, value, numthresholds, s1, s2):
        limit1 = s1 if numthresholds > 0 else 0.0
        limit2 = s2 if numthresholds > 1 else 0.0
        name = ops[opcode][0]
        return int({
            "LT": value < limit1,
            "LTEQ": value <= limit1,
            "EQEQ": value == limit1,
            "GTEQ": value >= limit1,
            "GT": value > limit1,
            "OPENINT": value > limit1 and value < limit2,
            "GTCLOSED": value >= limit1 and value < limit2,
            "CLOSEDINT": value >= limit1 and value <= limit2,
            "LTCLOSED": value > limit1 and value <= limit2,
        }[name])

    rng = np.random.default_rng(71)
    n = 0
    for _ in range(4000):
        s1 = float(rng.choice([0.0, 1.0, 2.5, -3.0, 1e-9, 250.0]))
        s2 = float(rng.choice([0.0, 1.0, 5.0, 1e6, s1]))
        nt = int(rng.integers(0, 3))
        oracle.set_check(1, nt, s1, s2)
        # values concentrated on the thresholds to hit every == branch
        vals = [s1, s2, s1 - 1e-12, s1 + 1e-12, s2 - 1e-12, s2 + 1e-12,
                0.0, float(rng.uniform(-10, 10))]
        for opcode in range(1, 10):
            for v in vals:
                got = oracle.sensitivity_check(opcode, 0, 1, float(v))
                assert got == twin(opcode, float(v), nt, s1, s2), (
                    opcode, v, nt, s1, s2)
                n += 1
    assert n == 4000 * 9 * 8


def test_sensitivity_resolution_family_bitexact(oracle):
    """FindSpecificSensitivity / FindRelevantSensitivity /
    FindMaxSensitivities (TT.c:2213/2266/2291) vs Python twins — including
    the clone-max BREAK-TO-ZERO quirk: if ANY instance of a check type
    carries numthresholds < 1, FindMaxSensitivities abandons the scan and
    returns (0, 0) regardless of other clones' thresholds.  The engine's
    resolve_tolerances (operators/checkspec.py) assumes every active clone
    carries thresholds (its spec model has no threshold-less clones); this
    test documents the reference behavior for when that assumption is
    relaxed."""
    rng = np.random.default_rng(79)
    for _ in range(1500):
        n_checks = int(rng.integers(1, 9))
        checks = []
        for i in range(n_checks):
            number = int(rng.integers(100, 104))
            nt = int(rng.integers(0, 7))
            s = [float(x) for x in rng.uniform(-5, 100, 6)]
            checks.append((number, nt, s))
            oracle.set_check_full(i, number, nt, s)
        oracle.set_ttl_active_checks(n_checks)

        # FindSpecificSensitivity: slot dispatch gated on numthresholds
        for i, (number, nt, s) in enumerate(checks):
            for ctype in (number, number + 1):
                for slot in range(0, 8):
                    got = oracle.find_specific_sensitivity(slot, ctype, i)
                    if ctype != number or slot < 1 or slot > 6 or nt < slot:
                        want = (0, got[1])  # answer untouched on miss
                    else:
                        want = (1, s[slot - 1])
                    assert got[0] == want[0], (i, ctype, slot)
                    if got[0]:
                        assert got[1] == want[1]

        # FindRelevantSensitivity: (s1, s2) with numthresholds gating
        for i, (number, nt, s) in enumerate(checks):
            for ctype in (number, number + 1):
                s1, s2 = oracle.find_relevant_sensitivity(ctype, i)
                if ctype != number:
                    assert s1 == 0.0
                elif nt < 1:
                    assert (s1, s2) == (0.0, 0.0)
                else:
                    assert s1 == s[0]
                    assert s2 == (s[1] if nt > 1 else 0.0)

        # FindMaxSensitivities: clone max with the break-to-zero quirk
        for ctype in range(100, 104):
            s1, s2 = oracle.find_max_sensitivities(ctype)
            w1 = w2 = 0.0
            for number, nt, s in checks:
                if number != ctype:
                    continue
                if nt < 1:
                    w1 = w2 = 0.0
                    break
                w1 = max(w1, s[0])
                w2 = max(w2, s[1])
            assert (s1, s2) == (w1, w2), (ctype, checks)


def test_betweenness_and_3d_segment_dist_bitexact(oracle):
    """StrictlyBetween / Between (TT.c:9484/9508) and the clamped 3D
    point-to-segment distance (PointToLineDist TT.c:7358) vs the gait_parity
    twins — quantized grids force the exact-tie branches."""
    rng = np.random.default_rng(83)
    q = lambda n: np.round(rng.uniform(-5, 5, n) * 2) / 2  # .5 grid -> ties
    for _ in range(60):
        xs, ys = q(200), q(200)
        x1, y1, x2, y2 = q(1)[0], q(1)[0], q(1)[0], q(1)[0]
        for x, y in zip(xs, ys):
            assert oracle.strictly_between(x, y, x1, y1, x2, y2) == \
                gp.strictly_between_gait(x, y, x1, y1, x2, y2)
            assert oracle.between(x, y, x1, y1, x2, y2) == \
                gp.between_gait(x, y, x1, y1, x2, y2)
    n = 0
    for _ in range(20000):
        args = [float(v) for v in rng.uniform(-100, 100, 9)]
        if rng.random() < 0.15:  # degenerate segment branch
            args[3:6] = args[6:9]
        got = oracle.point_to_line_dist_3d(*args)
        want = gp.point_to_line_dist3d_gait(*args)
        assert got == want, args
        n += 1
    assert n == 20000


def test_colinear_point_in_areal_sliver_bitexact(oracle):
    """ThreePointsAreColinear (TT.c:3964), PointInAreal's on-edge
    refinement (TT.c:10086), and CalculateSliverRating (TT.c:10438 — the
    duplicate squeeze, corner reduction capped at 4, and the <=3-corner
    rating rule) vs the gait_parity twins, bit-for-bit."""
    rng = np.random.default_rng(89)
    # colinear: quantized + exactly-planted collinear triples
    for _ in range(30000):
        if rng.random() < 0.5:
            xs = np.round(rng.uniform(-5, 5, 3) * 4) / 4
            ys = np.round(rng.uniform(-5, 5, 3) * 4) / 4
            zs = np.round(rng.uniform(-5, 5, 3) * 4) / 4
        else:  # exact parametric point with small perturbation
            t = rng.uniform(-2, 2)
            p1 = rng.uniform(-5, 5, 3)
            p2 = rng.uniform(-5, 5, 3)
            p0 = p1 + (p2 - p1) * t + rng.choice(
                [0.0, 5e-5, -5e-5, 2e-4]) * rng.integers(0, 2, 3)
            xs = np.array([p0[0], p1[0], p2[0]])
            ys = np.array([p0[1], p1[1], p2[1]])
            zs = np.array([p0[2], p1[2], p2[2]])
        if rng.random() < 0.2:
            xs[1] = xs[2]
        if rng.random() < 0.2:
            xs[0] = xs[1]
        assert oracle.three_points_colinear(xs, ys, zs) == \
            gp.three_points_colinear_gait(list(xs), list(ys), list(zs))
    # point-in-areal: rings with the query point ON edges and vertices
    for _ in range(4000):
        k = int(rng.integers(3, 9))
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        xs = np.round(np.cos(ang) * 40) / 10
        ys = np.round(np.sin(ang) * 40) / 10
        which = rng.random()
        if which < 0.3:  # on a vertex
            i = int(rng.integers(0, k))
            px, py = float(xs[i]), float(ys[i])
        elif which < 0.6:  # on an edge midpoint
            i = int(rng.integers(0, k))
            j = (i + 1) % k
            px = (float(xs[i]) + float(xs[j])) / 2.0
            py = (float(ys[i]) + float(ys[j])) / 2.0
        else:
            px, py = float(rng.uniform(-5, 5)), float(rng.uniform(-5, 5))
        assert oracle.point_in_areal(px, py, xs, ys) == \
            gp.point_in_areal_gait(px, py, xs, ys)
    # sliver rating: triangles, squeezed duplicates, colinear-chain rings
    for _ in range(4000):
        k = int(rng.integers(3, 10))
        xs = list(np.round(rng.uniform(-10, 10, k) * 2) / 2)
        ys = list(np.round(rng.uniform(-10, 10, k) * 2) / 2)
        zs = list(np.round(rng.uniform(-1, 1, k) * 2) / 2)
        if rng.random() < 0.4 and k >= 4:  # plant consecutive duplicates
            i = int(rng.integers(1, k))
            xs[i] = xs[i - 1]; ys[i] = ys[i - 1]; zs[i] = zs[i - 1]
        if rng.random() < 0.4 and k >= 5:  # plant a collinear chain
            xs[2] = (xs[1] + xs[3]) / 2.0
            ys[2] = (ys[1] + ys[3]) / 2.0
            zs[2] = (zs[1] + zs[3]) / 2.0
        got = oracle.sliver_rating(xs, ys, zs)
        want = gp.sliver_rating_gait(xs, ys, zs)
        assert got[0] == want[0], (xs, ys, zs)
        if got[0]:
            assert got[1:] == want[1:], (xs, ys, zs)


def test_offset_overlap_and_acute_angle_bitexact(oracle):
    """SegmentsOffsetOverlap (TT.c:8893) and FindAcuteAngleBetweenSegments
    (moregeomchecks.c:1591) vs the gait_parity twins — quantized coords for
    exact boundary ties; the angle test covers the clamp branches (parallel,
    antiparallel, near-90 fold)."""
    rng = np.random.default_rng(97)
    for _ in range(40000):
        a = np.round(rng.uniform(-4, 4, 8) * 2) / 2
        assert oracle.segments_offset_overlap(*a) == \
            gp.segments_offset_overlap_gait(*a), a
    n = 0
    for _ in range(20000):
        which = rng.random()
        a = [float(v) for v in rng.uniform(-50, 50, 8)]
        if which < 0.2:  # exactly parallel (same direction)
            dx, dy = a[2] - a[0], a[3] - a[1]
            a[6], a[7] = a[4] + dx, a[5] + dy
        elif which < 0.4:  # antiparallel
            dx, dy = a[2] - a[0], a[3] - a[1]
            a[6], a[7] = a[4] - dx, a[5] - dy
        elif which < 0.5:  # perpendicular (the fold boundary)
            dx, dy = a[2] - a[0], a[3] - a[1]
            a[6], a[7] = a[4] - dy, a[5] + dx
        got = oracle.find_acute_angle(*a)
        want = gp.find_acute_angle_gait(*a)
        assert got == want or (np.isnan(got) and np.isnan(want)), a
        n += 1
    assert n == 20000
